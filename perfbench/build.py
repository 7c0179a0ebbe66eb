"""Build file of the benchmark: compiles the repository's `src/main/scala`
together with `perfbench/scala` with the Scala compiler that ships among the
Spark jars named by `unmanagedBase` in build.sbt, into `.bench_build/`. The
output directory is keyed by a hash of every source file, so an unchanged
tree is compiled once. The JVM flags mirror build.sbt's `javaOptions`."""

import glob
import hashlib
import os
import re
import shutil
import subprocess

OUT_DIR = ".bench_build"
HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def _read_sbt(root):
    path = os.path.join(root, "build.sbt")
    if not os.path.isfile(path):
        raise BuildError("no build.sbt in %s: run from the root of a checkout" % root)
    with open(path) as f:
        return f.read()


def jars_dir(root):
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _read_sbt(root))
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def jvm_flags(root):
    """--add-opens, code-cache and GC flags of build.sbt; the heap size is
    set by the caller."""
    sbt = _read_sbt(root)
    opens = re.findall(r'"(java\.base/[\w./]+)"', sbt)
    xx = re.findall(r'"(-XX:[^"]+)"', sbt)
    if not opens or not xx:
        raise BuildError("could not read the JVM flags from build.sbt")
    flags = [f for p in opens for f in ("--add-opens", p + "=ALL-UNNAMED")]
    return flags + xx + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise BuildError("no sources under src/main/scala in %s" % root)
    return main + sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))


def classpath(root):
    """Compiles if needed; returns the run classpath."""
    jars = jars_dir(root)
    srcs = _sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, OUT_DIR, "classes-" + h.hexdigest()[:16])
    if not os.path.isdir(out):
        tmp = out + ".tmp-%d" % os.getpid()
        os.makedirs(tmp)
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("compilation failed:\n" + r.stdout[-4000:])
        os.rename(tmp, out)
        for old in glob.glob(os.path.join(root, OUT_DIR, "classes-*")):
            if old != out and ".tmp-" not in old:
                shutil.rmtree(old, ignore_errors=True)
    return out + os.pathsep + os.path.join(jars, "*")
