#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark harness (`perfbench/scala`) with the Scala compiler that ships
in the Spark distribution, into one class directory.

Usage: python3 perfbench/build.py [build_dir]

Run from the root of a checkout. The Spark distribution is found through
`SPARK_HOME`, or else through the jars bundled with the `pyspark` package.
A build is skipped when the sources hash to the stamp of the last build.
Exits non-zero, with the compiler's messages on stderr, when a source tree
is missing or does not compile.
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    except ImportError:
        pass
    sys.exit("build: no Spark distribution (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    if not main:
        sys.exit("build: no program sources under src/main/scala")
    if not bench:
        sys.exit("build: no benchmark sources under perfbench/scala")
    return main + bench


def build(out_dir):
    """Compile into `<out_dir>/classes`; return (classpath, seconds spent)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out_dir, "stamp")
    classes = os.path.join(out_dir, "classes")
    cp = f"{classes}{os.pathsep}{jars}/*"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp, 0.0
    import shutil
    import time
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    args_file = os.path.join(out_dir, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-classpath", f"{jars}/*", "-d", classes, "-nowarn", "@" + args_file],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac exited {r.returncode}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp, time.time() - t0


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else ".bench_build"
    os.makedirs(out, exist_ok=True)
    cp, secs = build(out)
    print(f"built in {secs:.1f} s: {cp}")
