#!/usr/bin/env python3
"""Runs one benchmark workload for one seed, from the repository root:

    python3 perfbench/run.py --workload cosine_allpairs --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (perfbench/build.py),
starts one JVM with pinned heap flags, and prints the metrics. The last
line of stdout is one JSON object: correct, attempted, failed and metrics
(the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). The full record, with the run's environment, is kept under
.bench_run/results/. Exits non-zero if any output is wrong or the run
fails. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # write nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cosine_allpairs", "cosine_serve", "dedup_corpus")
MAX_CORES = 4
HEAP_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m"]
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as in the repo's build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def git_sha(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds <= 0:
        ap.error("--seconds must be positive")

    root = os.getcwd()
    classpath, src_digest = build.build(root)

    work = os.path.join(root, ".bench_run")
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=work)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    nproc = os.cpu_count() or 1
    cores = min(MAX_CORES, nproc)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    result = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}.json")
    jvm_result = os.path.join(run_dir, "result.json")
    cmd = (["java", "-XX:-UsePerfData"] + ADD_OPENS + HEAP_FLAGS +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(root, "perfbench", "log4j2.properties"),
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work-dir", work, "--cores", str(cores),
            "--run-dir", run_dir, "--result", jvm_result])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    sys.stdout.flush()
    proc = subprocess.Popen(cmd, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    try:
        with open(jvm_result) as fh:
            rec = json.load(fh)
    except (OSError, ValueError):
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(f"perfbench: the run produced no result (exit code {code})")
    spans = os.path.join(run_dir, "result-spans.jsonl")
    if os.path.isfile(spans):
        shutil.move(spans, result[:-len(".json")] + "-spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)

    rec["env"] = {
        "git_sha": git_sha(root), "program_digest": src_digest, "nproc": nproc,
        "master": f"local[{cores}]", "heap_flags": " ".join(HEAP_FLAGS),
        "spark_version": build.spark_version(), "seed": a.seed, "workload": a.workload,
        "seconds": a.seconds, "trace": a.trace, "exit_code": code,
    }
    with open(result, "w") as fh:
        json.dump(rec, fh, indent=1)
    print(json.dumps({k: rec[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(code)


if __name__ == "__main__":
    main()
