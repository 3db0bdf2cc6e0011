"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Runs the engine in this checkout on ``local[nproc]`` from one closed-loop
client. Everything it writes goes under ``.bench_work/`` in the checkout;
the run's scratch directory is removed at exit and, with ``--trace 1``,
the spans are kept in ``.bench_work/traces/``. The next-to-last stdout
line is a JSON report (every metric with unit, quartiles and sample
count, the host's load and steal, the correctness detail); the last line
is the result: ``{"correct", "attempted", "failed", "metrics"}``, holding
the end-to-end metrics untraced and the per-layer metrics traced.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("serve", "cdc-upsert")
LAYERS = ("session", "functions", "query", "index/build", "index/codec",
          "index/search", "streaming/incremental", "sources/cdc")


def driver_mem() -> str:
    """A quarter of physical memory, at most 4 GiB: the session's own
    default (48g) is more than many hosts have."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kb // (4 << 20)))}g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(work: Path, tracer):
    """Pin the session to this host and keep its files in ``work``."""
    from perfbench.stats import nproc

    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_DRIVER_MEM=driver_mem(),
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from dbsyncer_spark.session import get_spark

    jopts = f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    with tracer.span("session:get_spark"):
        return get_spark("perfbench", extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": jopts,
            "spark.executor.extraJavaOptions": jopts,
            "spark.ui.showConsoleProgress": "false",
        })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def timing(samples, unit: str, p: float | None = None) -> dict:
    """``value`` is the median, or the nearest-rank ``p`` percentile."""
    from perfbench.stats import summary

    s = summary(samples, p)
    if not samples:
        return {"value": 0.0, "unit": unit, "n": 0}
    return {"value": s[f"p{p:g}"] if p else s["median"], "unit": unit, **s}


def scalar(value: float, unit: str, n: int = 1) -> dict:
    return {"value": value, "unit": unit, "n": n}


def report_metrics(workload: str, run) -> dict:
    """The end-to-end metrics that apply to ``workload``, by name: the
    gated ones and the raw figures they are made from."""
    from perfbench.stats import CAL_REF_MS, percentile
    from perfbench.workloads import BATCH

    sm, v = run.samples, run.values
    host = CAL_REF_MS / statistics.median(sm["cal_ms"])  # host normalisation
    n_local = len(sm["local_cpu_ms"])
    cpu = sm["work_cpu_s"]  # CPU seconds per unit of gated work
    out = {
        "setup_s": timing(sm["setup_s"], "s"),
        "setup_total_s": scalar(v["setup_total_s"], "s"),
        "ops_failed_frac": scalar(run.failed / max(run.attempted, 1), "frac",
                                  run.attempted),
        "driver_rss_mb": scalar(v["peak_rss_mb"], "MB"),
        "reader_heap_mb": scalar(v["reader_heap_mb"], "MB"),
        "reader_retained_mb": scalar(v["reader_retained_mb"], "MB"),
        "calibration_ms": timing(sm["cal_ms"], "ms"),
        "local_query_norm_p50_ms": scalar(
            statistics.median(sm["local_cpu_ms"]) * host, "ms", n_local),
        "local_query_norm_p95_ms": scalar(
            percentile(sm["local_cpu_ms"], 95) * host, "ms", n_local),
        "local_query_p50_ms": timing(sm["local_ms"], "ms"),
        "local_query_p95_ms": timing(sm["local_ms"], "ms", 95),
        "local_query_cpu_p50_ms": timing(sm["local_cpu_ms"], "ms"),
        "local_query_cpu_p95_ms": timing(sm["local_cpu_ms"], "ms", 95),
        "work_per_cpu_s": scalar(v["work_units"] / statistics.median(cpu), "1/s", len(cpu)),
        "work_per_norm_cpu_s": scalar(
            v["work_units"] / statistics.median(cpu) / host, "1/s", len(cpu)),
        "build_docs_per_s": scalar(v["build_docs_per_s"], "1/s"),
        "build_docs_per_cpu_s": scalar(v["build_docs_per_cpu_s"], "1/s"),
        "index_bytes_per_input_byte": scalar(v["index_bytes_per_input_byte"], "ratio"),
    }
    if workload == "serve":
        out["cluster_query_p50_ms"] = timing(sm["cluster_ms"], "ms")
        out["cluster_query_p90_ms"] = timing(sm["cluster_ms"], "ms", 90)
        ms = sm["search.batch_local_ms"]
        out["local_batch_qps"] = scalar(v["local_batch_qps"], "1/s", len(ms))
        ms = sm["search.batch_cluster_ms"]
        out["cluster_batch_qps"] = scalar(
            len(ms) * BATCH / (sum(ms) / 1000) if ms else 0.0, "1/s", len(ms))
    else:
        out["cdc_events_per_s"] = scalar(v["cdc_events_per_s"], "1/s",
                                         len(sm["cdc_apply_s"]))
        out["cdc_visible_lag_p50_s"] = timing(sm["cdc_lag_s"], "s")
        out["cdc_write_amp"] = scalar(v["cdc_write_amp"], "ratio")
    return out


def per_layer(run, tracer, window_s: float) -> dict:
    from perfbench.gen import QUERY_CLASSES
    from perfbench.trace import span_cost_s

    sm, v = run.samples, run.values

    def med(name):
        return statistics.median(sm[name]) if sm[name] else 0.0

    def ratio(a, b):
        return sum(sm[a]) / sum(sm[b]) if sum(sm[b]) else 0.0

    with open(os.path.join(run.index_dir, "meta.json")) as f:
        n_segs = len(json.load(f)["segments"])
    m = {
        "session.start_s": v["session.start_s"],
        "session.warm_workers_s": v["session.warm_workers_s"],
        "functions.tokenize_mb_per_s": v["functions.tokenize_mb_per_s"],
        **{f"build.{s}_s": med(f"build.{s}_s")
           for s in ("termdocs", "docstats", "postings", "dictionary")},
        "build.spark_jobs": med("build.spark_jobs"),
        "codec.decode_mpostings_per_s": v["codec.decode_mpostings_per_s"],
        "codec.encode_mpostings_per_s": v["codec.encode_mpostings_per_s"],
        "codec.bytes_per_posting": v["codec.bytes_per_posting"],
        "query.parse_us": v["query.parse_us"],
        "search.local_jobs_per_query": ratio("local_jobs", "local_queries"),
        "search.local_cold_query_ms": med("search.local_cold_query_ms"),
        "search.local_warm_query_ms": med("search.local_warm_query_ms"),
        **{f"search.local_query_ms.{c}": med(f"search.local_query_ms.{c}")
           for c in QUERY_CLASSES},
        "search.cluster_jobs_per_query": ratio("cluster_jobs", "cluster_queries"),
        **{f"search.cluster_query_ms.{c}": med(f"search.cluster_query_ms.{c}")
           for c in QUERY_CLASSES},
        "search.batch_local_ms": med("search.batch_local_ms"),
        "search.batch_cluster_ms": med("search.batch_cluster_ms"),
        "search.warm_local_s": med("setup_s"),
        "search.refresh_s": med("search.refresh_s"),
        "cdc.tail_s": med("cdc.tail_s"),
        "cdc.replay_s": med("cdc.replay_s"),
        "incremental.maybe_merge_s": med("incremental.maybe_merge_s"),
        "incremental.merges": v.get("incremental.merges", 0),
        "incremental.segments_live": v.get("incremental.segments_live", n_segs),
        "incremental.tombstones": v.get("incremental.tombstones", 0),
    }
    self_s = tracer.self_seconds()
    for layer in LAYERS:
        m["self_s." + layer.replace("/", ".")] = self_s.get(layer, 0.0)
    m["trace.spans"] = len(tracer.spans)
    m["trace.overhead_frac"] = len(tracer.spans) * span_cost_s() / window_s
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    import dbsyncer_spark  # noqa: F401 — without the engine, fail before any work

    from perfbench import workloads as wl
    from perfbench.stats import loadavg_1m, nproc, steal_ticks
    from perfbench.trace import NullTracer, Tracer

    load0, steal0 = loadavg_1m(), steal_ticks()
    work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    tracer = Tracer() if args.trace else NullTracer()
    # the seeded inputs are made while the JVM starts
    pool = ThreadPoolExecutor(1)
    pending = pool.submit(wl.Inputs, args.seed)
    t = time.perf_counter()
    spark = start_spark(work, tracer)
    try:
        from dbsyncer_spark.session import warm_python_workers

        run = wl.Run(spark, args.seed, args.seconds, tracer, str(work / "data"), t_start)
        os.makedirs(run.work)
        run.values["session.start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        run.call("session:warm_python_workers", warm_python_workers, spark)
        run.values["session.warm_workers_s"] = time.perf_counter() - t
        t_loop = time.perf_counter()
        inputs = pending.result()
        (wl.serve if args.workload == "serve" else wl.cdc_upsert)(run, inputs)
        window_s = time.perf_counter() - t_loop
        if args.trace:
            wl.layer_probes(run)
            layer = per_layer(run, tracer, window_s)
            traces = ROOT / ".bench_work" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            tracer.write(str(traces / f"{args.workload}-s{args.seed}.jsonl"))
    finally:
        pool.shutdown()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = run.failed == 0
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "errors": run.errors,
        "host": {"nproc": nproc(), "spark_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
                 "driver_mem": os.environ["SPARK_DRIVER_MEM"],
                 "loadavg_start": load0, "loadavg_end": loadavg_1m(),
                 "steal_s": (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")},
        "metrics": report_metrics(args.workload, run),
    }
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    values = layer if args.trace else {k: m["value"] for k, m in report["metrics"].items()}
    spec = declared["per_layer" if args.trace else "end_to_end"]
    missing = {m["name"] for m in spec} - set(values)
    if missing:
        raise SystemExit(f"metrics {sorted(missing)} of BENCHMARK.json not measured")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in spec}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
