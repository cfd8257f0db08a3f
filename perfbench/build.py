"""Build file of the benchmark: compiles the engine's main sources together
with the harness under perfbench/src into one class directory.

The compiler is the Scala 2.13 compiler that ships inside the Spark
distribution's jars directory (the same directory the engine's own build
resolves Spark from), so the build needs neither sbt nor a network.
A build is skipped when a stamp over every source file matches.

    python3 perfbench/build.py          # build (or reuse) and print the class dir
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def _one(jars, prefix):
    hits = sorted(glob.glob(os.path.join(jars, prefix + "-2.13.*.jar")))
    if not hits:
        raise BuildError(f"{prefix} 2.13 jar missing from {jars}")
    return hits[-1]


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src/**/*.scala"), recursive=True))
    if not main:
        raise BuildError("no engine sources under src/main/scala")
    if not bench:
        raise BuildError("no harness sources under perfbench/src")
    return main + bench


def build():
    """Return the compiled class directory, compiling when sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(out, "BUILD_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, stamp
    staging = out + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler_cp = ":".join(_one(jars, p) for p in
                           ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={build_dir()}",
           "-cp", compiler_cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", staging, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    with open(os.path.join(staging, "BUILD_STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(staging, out)
    return out, stamp


if __name__ == "__main__":
    try:
        print(build()[0])
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
