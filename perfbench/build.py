#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/scala) with the Scala compiler that ships in Spark's
jars, into two jars under $CARGO_TARGET_DIR (default .bench_build) below
the repo root.

    python3 perfbench/build.py          # prints the run classpath

A stamp of every source file's path and content hash skips the build when
nothing changed. A rebuild also drops the class-data-sharing archive that
run.py makes from the jars (ARCHIVE), since the JVM refuses an archive
whose jars changed.
"""
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ARCHIVE = "classes.jsa"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt's `unmanagedBase` names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("Spark jars not found: set SPARK_HOME or run from the repo root")
    return m.group(1)


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources(top):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(srcs, dest, classpath, spark_cp, log):
    """Compile with the Scala compiler that ships in Spark's jars into the jar `dest`."""
    if os.path.exists(dest):
        os.remove(dest)
    args = dest + ".args"
    with open(args, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-classpath", classpath, "@" + args]
    with open(log, "a") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"compile failed ({dest}); see {log}")


def build_part(name, srcs, classpath, spark_cp, key, out):
    """Compile `srcs` into out/name.jar unless out/name.stamp already holds `key`."""
    dest, stamp_file = os.path.join(out, name + ".jar"), os.path.join(out, name + ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == key and os.path.exists(dest):
        return
    for f in (os.path.join(out, ARCHIVE), os.path.join(out, ARCHIVE + ".none"), stamp_file, dest):
        if os.path.exists(f):
            os.remove(f)
    tmp = os.path.join(out, name + ".tmp.jar")
    scalac(srcs, tmp, classpath, spark_cp, os.path.join(out, "build.log"))
    os.rename(tmp, dest)
    with open(stamp_file, "w") as fh:
        fh.write(key)


def build():
    """Compile what changed; return the run classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise SystemExit(f"no engine sources under {engine}: run from the repo root")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"Spark jars not found at {jars}")
    out = out_dir()
    os.makedirs(out, exist_ok=True)
    spark_cp = os.path.join(jars, "*")
    main_src, bench_src = sources(engine), sources(os.path.join(BENCH_DIR, "scala"))
    main_key = stamp(main_src)
    build_part("main", main_src, spark_cp, spark_cp, main_key, out)
    main = os.path.join(out, "main.jar")
    build_part("bench", bench_src, os.pathsep.join([main, spark_cp]), spark_cp,
               main_key + stamp(bench_src), out)
    return os.pathsep.join([os.path.join(out, "bench.jar"), main, spark_cp])


if __name__ == "__main__":
    print(build())
