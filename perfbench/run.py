"""Benchmark of the crawl frontier + search engine, run from the repo root:

    python3 perfbench/run.py --workload bulk_crawl --seed 1 --seconds 30 \
        --trace 0

`--trace 0` measures the end-to-end metrics with tracing off; `--trace 1`
runs the same session with spans around every layer call and reports the
per-layer metrics instead. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; the line before it
records the run's environment and the sample count behind each
percentile. Spans and samples are written to
.perfbench-run/results/<workload>-seed<seed>-trace<t>.json.

All files the run makes live under .perfbench-run/ in the repository
root, and the Spark JVM and its Python workers are stopped before
the run exits. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "high_performance_parallel_search_engine_spark"
MAX_CORES = 4


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measurement window; the focus phase of each "
                        "workload repeats until it has passed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(cores: int, work: Path):
    from importlib import import_module
    session = import_module(f"{PKG}.session")
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = session.build_session(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, its JVM and every process left under this one, and
    wait for each to end."""
    from pyspark import SparkContext

    from perfbench import procfs
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = procfs.tree_pids()[1:]
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while left and time.monotonic() < deadline:
            for pid in left:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            left = [p for p in left if Path(f"/proc/{p}").exists()
                    and not _zombie(p)]
            time.sleep(0.05)
        if not left:
            return


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return True
    return data[data.rindex(b")") + 2:data.rindex(b")") + 3] == b"Z"


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def _one(samples: dict, key: str) -> list[float]:
    vals = samples.get(key)
    if not vals:
        raise RuntimeError(f"no samples for {key}: the layer was not "
                           "reached, so the benchmark cannot report it")
    return vals


def end_to_end(s, W) -> tuple[dict, dict]:
    sm = s.samples
    med = statistics.median
    sq_ms = [x * 1e3 for x in _one(sm, "spark_query_s")]
    values = {
        "setup_s": (_one(sm, "setup_s")[0], "s"),
        "crawl_jobs_per_page": (med(_one(sm, "crawl_jobs_per_page")),
                                "jobs/page"),
        "ckpt_bytes_per_page": (med(_one(sm, "ckpt_bytes_per_page")),
                                "bytes"),
        "peak_rss_mb": (max(_one(sm, "peak_rss_mb")), "MiB"),
    }
    n_q = len(_one(sm, "query_s"))
    counts = {
        "ranking.query_ms_p50": {"n": len(sq_ms),
                                 "beyond": W.beyond(len(sq_ms), 50)},
        "local_serve.query_us_p99": {"n": n_q, "beyond": W.beyond(n_q, 99)},
        "crawl.urls_per_s": {"n": len(sm["crawl_urls_per_s"])},
    }
    return values, counts


def per_layer(s, W, facts: dict, measured_s: float) -> dict:
    sm = s.samples
    med = statistics.median
    tr = s.tracer
    rounds = [r for c in facts["crawls"] for r in c["rounds"]]
    spans = [r["span"] for r in rounds]
    if not spans:
        raise RuntimeError("no crawl rounds were traced")

    def span1(name: str) -> dict:
        found = tr.named(name)
        if not found:
            raise RuntimeError(f"no {name} span was recorded")
        return found[0]

    def shuffle(sp: dict) -> int:
        return sp["shuffle_read_bytes"] + sp["shuffle_write_bytes"]

    q_us = [x * 1e6 for x in _one(sm, "query_s")]
    if W.beyond(len(q_us), 99) < 10:
        raise RuntimeError(f"a p99 needs 10 samples beyond it; {len(q_us)} "
                           f"give {W.beyond(len(q_us), 99)}")
    cands = sum(r["candidates"] for r in rounds)
    wall = sum(r["wall_s"] for r in rounds)
    ix = span1("index.build")
    rq = tr.named("ranking.query")
    v = {
        "session.start_s": (sm["session.start_s"][0], "s"),
        "sources.corpus_stage_s": (sm["sources.corpus_stage_s"][0], "s"),
        "kernel.html_mb_per_s": (sm["kernel.html_mb_per_s"][0], "MB/s"),
        "udfs.extract_s": (sm["udfs.extract_s"][0], "s"),
        "udfs.stage_vs_kernel": (sm["udfs.stage_vs_kernel"][0], "ratio"),
        "crawl.urls_per_s": (med(_one(sm, "crawl_urls_per_s")), "1/s"),
        "crawl.round_s": (med(r["wall_s"] for r in rounds), "s"),
        "crawl.jobs_per_round": (med(sp["jobs"] for sp in spans), "count"),
        "crawl.stages_per_round": (med(sp["stages"] for sp in spans),
                                   "count"),
        "crawl.jvm_cpu_s": (med(sp["jvm_cpu_s"] for sp in spans), "s"),
        "crawl.proc_cpu_s": (med(sp["proc_cpu_s"] for sp in spans), "s"),
        "crawl.core_idle_frac": (
            1 - sum(sp["proc_cpu_s"] for sp in spans) / (wall * s.cores),
            "ratio"),
        "crawl.shuffle_bytes": (med(shuffle(sp) for sp in spans), "bytes"),
        "crawl.ckpt_bytes": (med(r["ckpt_bytes"] for r in rounds), "bytes"),
        "crawl.compact_s": (med(_one(sm, "crawl.compact_s")), "s"),
        "crawl.seen_fanin": (rounds[-1]["seen_fanin"], "count"),
        "crawl.dedup_drop_ratio": (
            1 - sum(r["enqueued"] for r in rounds) / cands if cands else 0.0,
            "ratio"),
        "index.build_s": (ix["wall_s"], "s"),
        "index.jobs": (ix["jobs"], "count"),
        "index.proc_cpu_s": (ix["proc_cpu_s"], "s"),
        "index.shuffle_bytes": (shuffle(ix), "bytes"),
        "local_serve.collect_s": (span1("local_serve.collect")["wall_s"],
                                  "s"),
        "local_serve.query_us_p50": (W.percentile(q_us, 50), "us"),
        "local_serve.query_us_p99": (W.percentile(q_us, 99), "us"),
        "local_serve.rank_us_p50": (
            med(_one(sm, "local_serve.rank_s")) * 1e6, "us"),
        "api.search_overhead_us_p50": (
            med(_one(sm, "api.search_overhead_s")) * 1e6, "us"),
        "ranking.query_ms_p50": (
            W.percentile([x * 1e3 for x in _one(sm, "spark_query_s")], 50),
            "ms"),
        "ranking.jobs_per_query": (med(sp["jobs"] for sp in rq), "count"),
        "ranking.query_proc_cpu_ms": (
            med(sp["proc_cpu_s"] for sp in rq) * 1e3, "ms"),
    }
    v["trace.overhead_s"] = (tr.overhead_s, "s")
    v["trace.overhead_frac"] = (tr.overhead_s / (measured_s - tr.overhead_s),
                                "ratio")
    return v


# ---------------------------------------------------------------------------
# environment record
# ---------------------------------------------------------------------------

def environment(spark, args, cores: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    digest = hashlib.sha1()
    for f in sorted((ROOT / PKG).rglob("*.py")):
        digest.update(f.relative_to(ROOT).as_posix().encode())
        digest.update(f.read_bytes())
    jvm = spark.sparkContext._jvm
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "spark_threads": cores,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": commit, "source_sha1": digest.hexdigest(),
    }


# ---------------------------------------------------------------------------

def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PKG).is_dir():
        print(f"perfbench: the engine package {PKG}/ is not under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads as W
    from perfbench.tracer import Tracer
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    w = W.WORKLOADS[args.workload]

    base = ROOT / ".perfbench-run"
    work = base / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))

    t0 = time.perf_counter()
    try:
        spark = start_session(cores, work)
        try:
            s = W.Session(spark=spark,
                          tracer=Tracer(spark, bool(args.trace)),
                          seed=args.seed, cores=cores, work=work)
            s.add("session.start_s", time.perf_counter() - t0)
            t_meas = time.perf_counter()
            facts = W.run_workload(s, w, args.seconds)
            measured_s = time.perf_counter() - t_meas
            s.add("peak_rss_mb", W.procfs.tree_hwm_mb())
            env = environment(spark, args, cores)
            values, counts = end_to_end(s, W)
            if args.trace:
                values = per_layer(s, W, facts, measured_s)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    meta = {**env, "sample_counts": counts, "problems": s.problems,
            "facts": {k: v for k, v in facts.items() if k != "crawls"},
            "run_s": time.perf_counter() - t0}
    result = {
        "correct": s.failed == 0, "attempted": s.attempted,
        "failed": s.failed,
        "metrics": {k: {"value": val, "unit": unit}
                    for k, (val, unit) in values.items()},
    }
    out = base / "results"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{args.workload}-seed{args.seed}-trace{args.trace}.json") \
        .write_text(json.dumps({"meta": meta, "result": result,
                                "samples": s.samples,
                                "spans": s.tracer.spans}, default=str))
    print(json.dumps({"perfbench_meta": meta}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
