"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships with Spark,
into .bench_build/ under the repository root. Each build is cached by a
digest of its sources, so a second run with unchanged sources compiles
nothing.

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """Directory of the Spark distribution's jars (Spark, Scala, Hadoop,
    Parquet): $SPARK_HOME/jars, else the directory the program's own
    build.sbt compiles against (its `unmanagedBase`)."""
    home = os.environ.get("SPARK_HOME")
    d = os.path.join(home, "jars") if home else None
    if not d or not os.path.isdir(d):
        try:
            with open("build.sbt") as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
            d = m.group(1) if m else None
        except OSError:
            d = None
    if not d or not os.path.isdir(d):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return d


def spark_version():
    core = glob.glob(os.path.join(spark_jars(), "spark-core_*.jar"))
    return os.path.basename(core[0])[len("spark-core_"):-len(".jar")] if core else "unknown"


def scala_sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(root, files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compile(files, out, classpath):
    jars = spark_jars()
    compiler = ":".join(glob.glob(os.path.join(jars, name))[0] for name in
                        ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"perfbench: compiling {len(files)} files into {out} failed")
    os.rename(tmp, out)


def build(root):
    """Compiles what changed; returns (classpath, program source digest)."""
    program = scala_sources(os.path.join(root, "src", "main", "scala"))
    bench = scala_sources(os.path.join(root, "perfbench", "src"))
    if not program or not bench:
        raise SystemExit("perfbench: run from the repository root (program or benchmark sources missing)")
    jars = os.path.join(spark_jars(), "*")
    build_dir = os.path.join(root, BUILD_DIR)
    os.makedirs(build_dir, exist_ok=True)
    prog_digest = digest(root, program, spark_version())
    prog_out = os.path.join(build_dir, "program-" + prog_digest)
    bench_out = os.path.join(build_dir, "bench-" + digest(root, bench, prog_digest))
    keep = {prog_out, bench_out}
    for stale in glob.glob(os.path.join(build_dir, "*")):
        if stale not in keep:
            shutil.rmtree(stale, ignore_errors=True)
    if not os.path.isdir(prog_out):
        _compile(program, prog_out, jars)
    if not os.path.isdir(bench_out):
        _compile(bench, bench_out, prog_out + ":" + jars)
    return ":".join([bench_out, prog_out, jars]), prog_digest


if __name__ == "__main__":
    cp, d = build(os.getcwd())
    print(f"program {d}; classpath {cp}")
