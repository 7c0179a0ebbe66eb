#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its metrics.

    python3 perfbench/run.py --workload <kg_build|kg_incremental>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run compiles
`src/main/scala` and `perfbench/scala` (see build.py); every run then starts
one JVM at local[4], lets it set up and run the workload's closed loop for
`--seconds`, check its outputs, and write a raw record. The last line of
standard output is the JSON result; with `--trace 1` the spans and their
self times are also written under `.bench_build/traces/`.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("kg_build", "kg_incremental")
HEAP = "3g"
JVM_TIMEOUT_S = 165


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    try:
        cp = build.classpath(root)
    except build.BuildError as e:
        fail(str(e))
    out_dir = os.path.join(root, build.OUT_DIR)
    work = os.path.join(out_dir, "run-%d-%d" % (os.getpid(), int(time.time() * 1000)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    raw_path = os.path.join(work, "raw.json")
    log_path = os.path.join(out_dir, "last-%s.log" % a.workload)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
            "-XX:-UsePerfData"]
           + build.jvm_flags(root)
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", os.path.join(work, "w"), "--out", raw_path])
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    cwd=work)
            try:
                proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("workload JVM timed out; log in " + log_path)
        if proc.returncode != 0 or not os.path.exists(raw_path):
            fail("workload JVM exited with %d; log in %s" % (proc.returncode, log_path))
        with open(raw_path) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = list(raw["failures"])
    checks = raw["checks"]
    if a.trace:
        ok = a.workload != "kg_build" or metrics.replay_covers_wall(raw)
        checks.append({"name": "replay_spans_tile_wall", "ok": ok, "detail": ""})
        if not ok:
            failures.append("traced replay: step spans overlap or leave the build span")
    attempted = len(raw["ops"]) + len(checks)
    failed = sum(1 for o in raw["ops"] if o["rows"] < 0) + sum(
        1 for c in checks if not c["ok"])
    failed = max(failed, 1 if failures else 0)
    for msg in failures:
        print("perfbench: " + msg, file=sys.stderr)

    result = {"correct": not failures, "attempted": attempted, "failed": failed}
    try:
        if a.trace:
            values = metrics.per_layer(raw)
            units = {n: u for n, u, _, _ in metrics.PER_LAYER}
            tdir = os.path.join(out_dir, "traces")
            os.makedirs(tdir, exist_ok=True)
            with open(os.path.join(tdir, "%s-seed%d.json" % (a.workload, a.seed)), "w") as f:
                json.dump({"metrics": values, "spans_by_name": metrics.span_summary(raw),
                           "checks": checks, "trace": raw["trace"]}, f)
        else:
            values = metrics.end_to_end(raw)
            units = {n: u for n, u, _, _ in metrics.END_TO_END}
    except (ValueError, KeyError, IndexError) as e:
        fail("metrics could not be computed: %r (failures: %s)" % (e, failures))
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    print(json.dumps({"ops": [o["wall_s"] for o in raw["ops"]],
                      "loop_wall_s": raw["loop_wall_s"], "check_s": raw["check_s"], "input_s": raw["input_s"],
                      "warmup_s": raw["warmup_s"], "session_s": raw["session_s"]}),
          file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
