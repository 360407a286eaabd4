"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload refjob --seed 1 --seconds 15 --trace 0

Builds the engine from source (perfbench/build.py), generates the
seeded inputs (perfbench/gen.py), runs them in one JVM
(perfbench/scala/perfbench/Main.scala), checks the outputs
(perfbench/checks.py) and prints, as the last line of standard output,
`{"correct", "attempted", "failed", "metrics"}`. The line before it
is the run's provenance and input sizes. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("refjob", "corpus", "queries")
JVM_TIMEOUT_S = 150
# A fixed heap (-Xms = -Xmx): with a growing heap the full collections
# between passes shrink it again, and pass times kept drifting down
# through a run as it regrew.
HEAP_OPTS = ["-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData"]
JVM_OPTS = HEAP_OPTS + [
    x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return [-1.0, -1.0, -1.0]


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, workload, work, seconds, trace, cores, seed):
    """The run's JVM; returns (its result dict, seconds from launch to
    the end of the warmup passes)."""
    cp = os.pathsep.join([str(classes)] + [str(j) for j in build.spark_classpath()])
    log = open(work / "jvm.log", "w")
    result = work / "result.json"
    t0 = time.time()
    tmp = work / "tmp"  # native libraries and Spark's scratch files go here
    tmp.mkdir()
    proc = subprocess.Popen(
        ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                               "perfbench.Main", workload, str(work),
                               str(seconds), str(trace), str(cores), str(seed)],
        stdout=log, stderr=subprocess.STDOUT, cwd=work)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if rc != 0 or not result.is_file():
        tail = (work / "jvm.log").read_text()[-3000:]
        raise SystemExit(f"perfbench: JVM failed (rc={rc}):\n{tail}")
    res = json.loads(result.read_text())
    return res, res["ready_epoch_ms"] / 1000.0 - t0


def p90(xs):
    """Nearest-rank 90th percentile."""
    return sorted(xs)[math.ceil(0.9 * len(xs)) - 1]


def end_to_end(workload, res, setup, input_bytes):
    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    wall = statistics.median(p["wall_s"] for p in warm)
    # per-call latency: the search stream on corpus, every call elsewhere
    lat = [c[1] for p in warm for c in p["calls"]
           if workload != "corpus" or c[0] == "search"]
    m = {"setup_s": (setup, "s"),
         "cold_s": (res["passes"][0]["wall_s"], "s"),
         "wall_s": (wall, "s"),
         "input_mb_per_s": (input_bytes / 1e6 / wall, "MB/s"),
         "call_p50_s": (statistics.median(lat), "s"),
         "peak_rss_mb": (res["peak_rss_mb"], "MB")}
    return m, lat


def per_layer(res):
    lm = res["layers"]
    span = lambda n: lm.get(f"span:{n}", 0.0)
    cnt = lambda n: lm.get(n, 0.0)
    walls = lambda kind: statistics.median(
        p["wall_s"] for p in res["passes"] if p["kind"] == kind)
    searches = sum(c[0] == "search" for c in res["passes"][-1]["calls"])
    m = {
        "graft.session_ms": (res["session_ms"], "ms"),
        "graft.warmup_ms": (res["warmup_ms"], "ms"),
        "sources.list_ms": (span("sources.list"), "ms"),
        "sources.read_ms": (span("sources.read"), "ms"),
        "sources.write_ms": (span("sources.write"), "ms"),
        "sources.files": (cnt("sources.files"), "count"),
        "sources.bytes_in": (cnt("sources.bytes_in"), "bytes"),
        "sources.bytes_out": (cnt("sources.bytes_out"), "bytes"),
        "text.normalize_ms": (span("text.normalize"), "ms"),
        "text.tokens": (cnt("text.tokens"), "count"),
        "text.tokens_per_s": (cnt("text.tokens") / (span("text.normalize") / 1e3)
                              if span("text.normalize") > 0 else 0.0, "1/s"),
        "functions.porter_ns_per_token": (cnt("functions.porter_ns_per_token"), "ns"),
        "functions.minhash_ns_per_doc": (cnt("functions.minhash_ns_per_doc"), "ns"),
        "index.matrix_ms": (span("index.matrix"), "ms"),
        "index.terms": (cnt("index.terms"), "count"),
        "index.postings": (cnt("index.postings"), "count"),
        "index.bm25_build_ms": (span("index.bm25_build"), "ms"),
        "index.search_ms": (span("index.search") / searches if searches else 0.0, "ms"),
        "cluster.assign_ms": (span("cluster.assign"), "ms"),
        "cluster.points": (cnt("cluster.points"), "count"),
        "ops.dedup.candidates": (cnt("ops.dedup.candidates"), "count"),
        "ops.dedup.verified": (cnt("ops.dedup.verified"), "count"),
        "ops.dedup.verified_per_candidate": (
            cnt("ops.dedup.verified") / cnt("ops.dedup.candidates")
            if cnt("ops.dedup.candidates") else 0.0, "ratio"),
        "ops.dedup.join_ms": (span("ops.dedup.candidates") + span("ops.dedup.verify"), "ms"),
        "ops.dedup.cc_ms": (span("ops.dedup.cc"), "ms"),
        "ops.dedup.cc_edges": (cnt("ops.dedup.verified"), "count"),
        "ops.dedup.cc_local": (cnt("ops.dedup.cc_local"), "count"),
        "ops.build_ms": (span("ops.build"), "ms"),
        "ops.build_jobs": (cnt("ops.build_jobs"), "count"),
        "pipeline.curate_ms": (span("pipeline.curate"), "ms"),
        "pipeline.kept_frac": (cnt("pipeline.kept") / cnt("pipeline.input")
                               if cnt("pipeline.input") else 0.0, "ratio"),
        "trace.traced_wall_s": (walls("traced"), "s"),
        "trace.overhead_s": (walls("traced") - walls("warm"), "s"),
    }
    for k, unit in (("plan_ms", "ms"), ("jobs", "count"), ("stages", "count"),
                    ("tasks", "count"), ("single_task_stage_frac", "ratio"),
                    ("exec_run_ms", "ms"), ("exec_cpu_ms", "ms"), ("gc_ms", "ms"),
                    ("core_util", "ratio"), ("sched_delay_ms", "ms"),
                    ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
                    ("shuffle_fetch_wait_ms", "ms"), ("spill_bytes", "bytes"),
                    ("driver_residual_ms", "ms"), ("failed_tasks", "count")):
        m[f"spark.{k}"] = (cnt(f"spark.{k}"), unit)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    load_start = loadavg()
    classes, src_digest = build.ensure_built()
    work = build.BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    # inputs, generated twice to prove the seed fixes their bytes
    t0 = time.time()
    digest, sizes = gen.generate(a.workload, "full", a.seed, work / "input")
    gen_s = time.time() - t0
    digest2, _ = gen.generate(a.workload, "full", a.seed, None, write=False)
    gen.generate(a.workload, "warm", a.seed, work / "warm")
    deterministic = digest == digest2

    cores = max(1, min(4, os.cpu_count() or 1))
    res, setup = run_jvm(classes, a.workload, work, a.seconds, a.trace, cores,
                         a.seed)

    fails = list(res["errors"]) + [f"warmup: {e}" for e in res["warmup_errors"]]
    if not deterministic:
        fails.append("inputs: the same seed gave different bytes")
    check_fails = checks.CHECKS[a.workload](work, res["last_output"])
    timed = [c for p in res["passes"] if p["kind"] != "traced" for c in p["calls"]]
    attempted = len(timed)
    failed = min(attempted, sum(not c[2] for c in timed) + len(check_fails))
    correct = not fails and not check_fails

    lat = []
    if a.trace:
        metrics = per_layer(res)
    else:
        metrics, lat = end_to_end(a.workload, res, setup, sizes["bytes"])

    info = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "git_head": git_head(), "source_digest": src_digest,
        "nproc": os.cpu_count(), "cores": cores, "python": platform.python_version(),
        "jvm_opts": HEAP_OPTS, "spark_settings": res["settings"],
        "load_start": load_start, "load_end": loadavg(),
        "loaded_start": load_start[0] > (os.cpu_count() or 1) / 2,
        "input": dict(sizes, sha256=digest, deterministic=deterministic,
                      gen_s=round(gen_s, 3)),
        "passes": {k: sum(p["kind"] == k for p in res["passes"])
                   for k in ("cold", "warm", "traced")},
        # too few calls for a tail percentile to be gated (fewer than ten
        # samples lie beyond it); shown for reading only
        "call_samples": len(lat), "call_p90_s": p90(lat) if lat else None,
        "fail_ratio": failed / max(1, attempted),
        "errors": (fails + check_fails)[:20],
    }
    (work / "info.json").write_text(json.dumps(info, indent=1))
    print("perfbench-info " + json.dumps(info))
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
