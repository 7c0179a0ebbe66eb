"""Metric catalogue and the computation of every metric from a run's raw
record (the JSON object the JVM side writes)."""

import stats

SLOTS = 4

# name, unit, better, bound: every workload reports every one of these.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
    ("triple_precision", "ratio", "higher", 0.02),
    ("triple_recall", "ratio", "higher", 0.02),
    ("text_exact_frac", "ratio", "higher", 0.02),
    ("peak_rss_mb", "MB", "lower", 0.2),
]

QUERIES = [
    "q_join_sortmerge", "dedup_exact", "dedup_minhash_lsh", "text_quality",
    "ann_ivf_topk",
]

_MAP = "op_p50_s and items_per_s on kg_build (the fused map stage)"
_EDGES = "op_p50_s and items_per_s on kg_build"
_BATCH = "op_p50_s and items_per_s on kg_incremental"
_QUERY = "none: only the traced kg_build run reaches the query layer"

# name, unit, better, and the end-to-end metric and workload it should move.
PER_LAYER = [
    ("extract.us_per_page", "us", "lower", _MAP),
    ("extract.chars_per_page", "chars", "lower", _MAP),
    ("link.scan_us_per_page", "us", "lower", _MAP),
    ("link.link_us_per_page", "us", "lower", _MAP),
    ("link.mentions_per_page", "count", "higher", _MAP),
    ("link.linked_frac", "ratio", "higher", _MAP),
    ("triples.cands_us_per_page", "us", "lower", _MAP),
    ("triples.cands_per_page", "count", "higher", _MAP),
    ("triples.per_page", "count", "higher", _MAP),
    ("canon.cc_s", "s", "lower", "a small share of " + _EDGES),
    ("canon.local", "flag", "higher", "a small share of " + _EDGES),
    ("canon.jobs", "count", "lower", "a small share of " + _EDGES),
    ("materialize.auto_salt_s", "s", "lower", _EDGES),
    ("materialize.salt", "count", "lower", _EDGES),
    ("materialize.edges_s", "s", "lower", _EDGES),
    ("materialize.edges_map_task_s", "s", "lower", _EDGES),
    ("materialize.edges_reduce_task_s", "s", "lower", _EDGES),
    ("materialize.edges_reduce_p50_ms", "ms", "lower", _EDGES),
    ("materialize.edges_reduce_max_ms", "ms", "lower", _EDGES + " (hub-bucket skew)"),
    ("materialize.edges_shuffle_bytes", "bytes", "lower", _EDGES),
    ("materialize.edges_shuffle_records", "count", "lower", _EDGES),
    ("materialize.edges_rows", "count", "higher", _EDGES),
    ("materialize.edges_keep_frac", "ratio", "higher", _EDGES),
    ("materialize.edges_files", "count", "lower", _EDGES),
    ("materialize.spill_bytes", "bytes", "lower", _EDGES),
    ("materialize.vertices_s", "s", "lower", _EDGES),
    ("materialize.vertices_shuffle_bytes", "bytes", "lower", _EDGES),
    ("materialize.vertices_rows", "count", "higher", _EDGES),
    ("materialize.vertices_files", "count", "lower", _EDGES),
    ("pipeline.jobs", "count", "lower", _EDGES + "; " + _BATCH),
    ("pipeline.tasks", "count", "lower", _EDGES + "; " + _BATCH),
    ("pipeline.driver_gap_s", "s", "lower", _EDGES + "; " + _BATCH),
    ("pipeline.occupancy", "ratio", "higher", _EDGES + "; " + _BATCH),
    ("pipeline.cpu_s", "s", "lower", _EDGES + "; " + _BATCH),
    ("pipeline.gc_s", "s", "lower", _EDGES + "; " + _BATCH),
    ("io.read_pages_s", "s", "lower", _BATCH),
    ("io.root_commit_s", "s", "lower", _BATCH),
    ("io.table_read_s", "s", "lower", _BATCH),
    ("io.snapshots", "count", "lower", _BATCH),
    ("io.manifest_bytes", "bytes", "lower", _BATCH),
    ("io.data_files", "count", "lower", _BATCH),
    ("io.bytes_written_per_triple", "bytes", "lower", _BATCH),
    ("streaming.call_s", "s", "lower", _BATCH),
    ("streaming.start_s", "s", "lower", _BATCH),
    ("streaming.add_batch_s", "s", "lower", _BATCH),
    ("streaming.wal_commit_s", "s", "lower", _BATCH),
    ("streaming.planning_s", "s", "lower", _BATCH),
    ("streaming.offsets_s", "s", "lower", _BATCH),
    ("streaming.jobs_per_batch", "count", "lower", _BATCH),
    ("streaming.gap_s_per_batch", "s", "lower", _BATCH),
    ("streaming.rows_per_batch", "count", "higher", _BATCH),
    ("streaming.dup_drop_frac", "ratio", "lower", _BATCH),
] + [m for q in QUERIES for m in (
    ("query.%s_s" % q, "s", "lower", _QUERY),
    ("query.%s_shuffle_bytes" % q, "bytes", "lower", _QUERY),
)] + [
    ("trace.overhead_frac", "ratio", "lower",
     "none: traced replay wall / untraced build wall - 1 on kg_build"),
]


def _ok_ops(raw):
    return [o for o in raw["ops"] if o["rows"] >= 0]


def end_to_end(raw):
    w = raw["workload"]
    ops = _ok_ops(raw)
    if not ops:
        raise ValueError("no operation succeeded")
    op = stats.median([o["wall_s"] for o in ops])
    if w == "kg_build":
        items = stats.median([o["rows"] / o["wall_s"] for o in ops])
    else:
        items = sum(o["pages"] for o in ops) / raw["loop_wall_s"]
    q = raw["quality"]
    return {
        "setup_s": raw["session_s"] + stats.median(raw["input_s"]) + raw["warmup_s"],
        "op_p50_s": op,
        "items_per_s": items,
        "triple_precision": q["triple_precision"],
        "triple_recall": q["triple_recall"],
        "text_exact_frac": q["text_exact_frac"],
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
    }


class Trace:
    """Spans and listener records of a traced run, with the lookups the
    per-layer metrics need."""

    def __init__(self, trace):
        self.spans = trace["spans"]
        self.jobs = trace["listener"]["jobs"]
        self.stages = {s["id"]: s for s in trace["listener"]["stages"]}
        self.progress = trace["stream_progress"]

    def named(self, name, trace_id=None):
        return [s for s in self.spans if s["name"] == name
                and (trace_id is None or s["trace"] == trace_id)]

    def dur_s(self, span):
        return (span["end"] - span["start"]) / 1e3

    def jobs_under(self, span):
        ids = stats.descendants(self.spans, span["id"])
        return [j for j in self.jobs if j["span"] in ids]

    def stages_under(self, span):
        return [self.stages[s] for j in self.jobs_under(span)
                for s in j["stages"] if s in self.stages and self.stages[s]["tasks"] > 0]

    def timeline(self, span):
        """jobs, tasks, driver gap, occupancy, cpu and gc of one span."""
        jobs = self.jobs_under(span)
        st = self.stages_under(span)
        wall = span["end"] - span["start"]
        task_ms = sum(sum(s["task_ms"]) for s in st)
        return {
            "jobs": len(jobs),
            "tasks": sum(s["tasks"] for s in st),
            "driver_gap_s": stats.driver_gap(
                span["start"], span["end"],
                [(j["start"], j["end"]) for j in jobs if j["end"] is not None]) / 1e3,
            "occupancy": stats.occupancy(task_ms, wall, SLOTS),
            "cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
            "gc_s": sum(s["gc_ms"] for s in st) / 1e3,
        }


def _med(rows, key):
    vals = [r[key] for r in rows if key in r]
    return stats.median(vals) if vals else 0.0


def _build_layers(t, raw):
    per = []
    for root in t.named("pipeline.build"):
        tid = root["trace"]
        one = lambda n: t.named(n, tid)[0]
        r = {"pipeline." + k: v for k, v in t.timeline(root).items()}
        cc = one("canon.cc")
        r["canon.cc_s"] = t.dur_s(cc)
        r["canon.local"] = cc["attrs"].get("local", 0.0)
        r["canon.jobs"] = len(t.jobs_under(cc))
        salt = one("materialize.auto_salt")
        r["materialize.auto_salt_s"] = t.dur_s(salt)
        r["materialize.salt"] = salt["attrs"].get("salt", 0.0)
        e = one("materialize.edges")
        st = t.stages_under(e)
        maps = [s for s in st if s["shuffle_write_records"] > 0]
        reds = [s for s in st if s["shuffle_read_records"] > 0]
        red_ms = [x for s in reds for x in s["task_ms"]]
        recs = sum(s["shuffle_write_records"] for s in maps)
        rows = e["attrs"].get("rows", 0.0)
        r.update({
            "materialize.edges_s": t.dur_s(e),
            "materialize.edges_map_task_s": sum(sum(s["task_ms"]) for s in maps) / 1e3,
            "materialize.edges_reduce_task_s": sum(red_ms) / 1e3,
            "materialize.edges_reduce_p50_ms": stats.median(red_ms) if red_ms else 0.0,
            "materialize.edges_reduce_max_ms": max(red_ms) if red_ms else 0.0,
            "materialize.edges_shuffle_bytes": sum(s["shuffle_write_bytes"] for s in maps),
            "materialize.edges_shuffle_records": recs,
            "materialize.edges_rows": rows,
            "materialize.edges_keep_frac": rows / recs if recs else 0.0,
            "materialize.spill_bytes": sum(s["spill_bytes"] for s in t.stages_under(root)),
            "triples.per_page": rows / raw["ops"][0]["pages"],
        })
        v = one("materialize.vertices")
        r["materialize.vertices_s"] = t.dur_s(v)
        r["materialize.vertices_shuffle_bytes"] = sum(
            s["shuffle_write_bytes"] for s in t.stages_under(v))
        r["materialize.vertices_rows"] = v["attrs"].get("rows", 0.0)
        r["io.read_pages_s"] = t.dur_s(one("io.read_pages"))
        r["io.root_commit_s"] = t.dur_s(one("io.root_commit"))
        r["io.table_read_s"] = t.dur_s(one("io.table_read"))
        per.append(r)
    out = {k: _med(per, k) for k in per[0]} if per else {}
    walls = [o["wall_s"] for o in _ok_ops(raw)]
    if raw["untraced_s"] and walls:
        out["trace.overhead_frac"] = stats.median(walls) / stats.median(raw["untraced_s"]) - 1
    return out


def _incremental_layers(t, raw):
    per = []
    for call in t.named("streaming.call"):
        r = {"pipeline." + k: v for k, v in t.timeline(call).items()}
        prog = [p for p in t.progress if call["start"] - 1 <= p["start"] <= call["end"]]
        batches = max(1, len([p for p in prog if p["input_rows"] > 0]))
        d = lambda *ks: sum(p["duration_ms"].get(k, 0) for p in prog for k in ks) / 1e3
        r.update({
            "streaming.call_s": t.dur_s(call),
            "streaming.start_s": (min(p["start"] for p in prog) - call["start"]) / 1e3
            if prog else 0.0,
            "streaming.add_batch_s": d("addBatch"),
            "streaming.wal_commit_s": d("walCommit"),
            "streaming.planning_s": d("queryPlanning"),
            "streaming.offsets_s": d("latestOffset", "getBatch", "commitOffsets"),
            "streaming.jobs_per_batch": r["pipeline.jobs"] / batches,
            "streaming.gap_s_per_batch": r["pipeline.driver_gap_s"] / batches,
        })
        per.append(r)
    out = {k: _med(per, k) for k in per[0]} if per else {}
    n = raw["layer"].get("traced_calls", 0.0)
    for k in ("io.table_read_s", "streaming.rows_per_batch", "streaming.dup_drop_frac"):
        out[k] = raw["layer"].get(k, 0.0) / n if n else 0.0
    return out


def _query_layers(t):
    out = {}
    for q in QUERIES:
        spans = t.named("query." + q)
        if spans:
            out["query.%s_s" % q] = stats.median([t.dur_s(s) for s in spans])
            out["query.%s_shuffle_bytes" % q] = stats.median(
                [sum(s["shuffle_write_bytes"] for s in t.stages_under(sp)) for sp in spans])
    return out


def per_layer(raw):
    """Every per-layer metric; a layer the workload does not exercise
    reports 0."""
    out = {name: 0.0 for name, _, _, _ in PER_LAYER}
    direct = {k: v for k, v in raw["layer"].items() if k in out}
    out.update(direct)
    t = Trace(raw["trace"])
    w = raw["workload"]
    if w == "kg_build":
        out.update(_build_layers(t, raw))
        out.update(_query_layers(t))
    else:
        out.update(_incremental_layers(t, raw))
    return {k: float(out[k]) for k, _, _, _ in PER_LAYER}


def replay_covers_wall(raw, tol_ms=1.0):
    """Traced kg_build: every replayed build's step spans lie inside it
    without overlap, so spans plus gaps add up to its wall."""
    spans = raw["trace"]["spans"]
    return all(stats.children_tile(spans, s["id"], tol_ms)
               for s in spans if s["name"] == "pipeline.build")


def span_summary(raw):
    """Per span name: count, total and self time in seconds."""
    spans = raw["trace"]["spans"]
    selfs = stats.self_times(spans)
    out = {}
    for s in spans:
        e = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        e["count"] += 1
        e["total_s"] += (s["end"] - s["start"]) / 1e3
        e["self_s"] += selfs[s["id"]] / 1e3
    return out
