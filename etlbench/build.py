#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources and the
benchmark's own with the Scala compiler that ships with Spark and packs
them into one jar.

    python3 etlbench/build.py

Output goes to `$CARGO_TARGET_DIR/graftbench` when that variable is set,
else to `.bench_build/graftbench` at the repository root. A build whose
sources and Spark jars are unchanged is reused.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BuildError(Exception):
    pass


class Build:
    """Paths of a finished build."""

    def __init__(self, out, jars, stamp):
        self.out = out
        self.jars = jars
        self.stamp = stamp
        self.jar = os.path.join(out, "graftbench.jar")

    def java(self, main, args, scratch):
        """Command line of a benchmark JVM writing only under `scratch`."""
        tmp = os.path.join(scratch, "tmp")
        os.makedirs(tmp, exist_ok=True)
        opens = [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        # the throughput collector: G1's concurrent threads compete with
        # Spark's tasks for the few cores and made peak RSS swing by 15%
        return (["java"] + opens + [
            "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
            "-cp", self.jar + os.pathsep + os.path.join(self.jars, "*"), main] + args)


def spark_jars():
    """Directory of Spark's jars: $SPARK_HOME/jars, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError("Spark not found: set SPARK_HOME to a Spark 4 distribution")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "graftbench")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}")
    found = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.path.basename(j) for j in glob.glob(os.path.join(jars, "*.jar")))).encode())
    return h.hexdigest()


def compile_jar(b, files, log):
    classes = os.path.join(b.out, f"classes.tmp-{os.getpid()}")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(b.out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(b.jars, "*")
    print(f"compiling {len(files)} sources ...", file=log, flush=True)
    try:
        proc = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-classpath", cp, "-d", classes, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            raise BuildError("compile failed:\n" + proc.stdout[-4000:])
        tmp_jar = b.jar + ".tmp"
        with zipfile.ZipFile(tmp_jar, "w", zipfile.ZIP_STORED) as z:
            for d, _, names in os.walk(classes):
                for n in sorted(names):
                    p = os.path.join(d, n)
                    z.write(p, os.path.relpath(p, classes))
        os.replace(tmp_jar, b.jar)
    finally:
        shutil.rmtree(classes, ignore_errors=True)


def build(log=sys.stderr):
    """Build if needed; returns the Build."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    b = Build(build_dir(), jars, want)
    stamp_file = os.path.join(b.out, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want and os.path.isfile(b.jar):
        return b
    os.makedirs(b.out, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    t0 = time.time()
    compile_jar(b, files, log)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    print(f"built in {time.time() - t0:.1f} s", file=log, flush=True)
    return b


if __name__ == "__main__":
    try:
        print(build().jar)
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
