"""Build definition for the benchmark harness.

Compiles the library (`src/main/scala`) and the harness
(`perfbench/src`) with the Scala compiler that ships in the Spark
distribution, against the Spark jars, into `.bench_build/perfbench/`.
No sbt, no dependency resolution: the only inputs are the sources and
`$SPARK_HOME/jars` (default `/opt/spark`).

Each output directory carries a stamp (a hash of its sources and of
the classpath it was compiled against), so a rebuild happens only when
a source changed.

    python3 perfbench/build.py          # build (or confirm up to date)
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")

LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
LIB_CLASSES = os.path.join(OUT, "lib-classes")
BENCH_CLASSES = os.path.join(OUT, "bench-classes")

# JDK 17 module opens Spark needs outside spark-submit (the same list
# org.apache.spark.launcher.JavaModuleOptions injects).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar",
    )
]


class BuildError(Exception):
    pass


def _sources(root):
    out = []
    for d, _, files in os.walk(root):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def _stamp(sources, extra):
    h = hashlib.sha256(extra.encode())
    for p in sources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_classpath():
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars not found at {SPARK_JARS}")
    return os.path.join(SPARK_JARS, "*")


def _compile(name, src_root, out_dir, classpath, extra_stamp):
    sources = _sources(src_root) if os.path.isdir(src_root) else []
    if not sources:
        raise BuildError(f"no Scala sources under {os.path.relpath(src_root, ROOT)}")
    stamp = _stamp(sources, classpath + extra_stamp)
    stamp_file = os.path.join(out_dir, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[build] compiling {name}: {len(sources)} files", file=sys.stderr, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", classpath] + sources
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise BuildError(f"compiling {name} failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return stamp


def build():
    """Compile library and harness if stale; return the runtime classpath."""
    spark = spark_classpath()
    lib_stamp = _compile("library", LIB_SRC, LIB_CLASSES, spark, "")
    _compile("harness", BENCH_SRC, BENCH_CLASSES,
             os.pathsep.join([LIB_CLASSES, spark]), lib_stamp)
    return os.pathsep.join([BENCH_CLASSES, LIB_CLASSES, spark])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
