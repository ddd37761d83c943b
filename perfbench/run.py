"""go_cdc_spark benchmark: one workload, one closed-loop client, one run.

    python3 perfbench/run.py --workload tail_mor_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, sets the workload up (Spark start, inputs, seed table,
warm-up), times a closed loop for at least ``--seconds`` seconds, checks
the program's outputs against the repository's oracles and prints, as
its last line, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs the same loop with layer spans and the Spark event
log on and reports the per-layer metrics instead. The line before it
carries annotations: the host regime stamp and per-call latencies.

Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and, for traced runs, ``.perfbench_out/`` (the span file).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("tail_mor_read", "dedup_pass")


# ------------------------------------------------------------ session


def session_resources() -> tuple[int, str]:
    """(cores, driver heap) sized from this host: every core this process
    may run on, and a quarter of MemTotal capped to 1-4 GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    heap_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    return cores, f"{heap_gb}g"


# --------------------------------------------------------------- spark


def build_spark(work: str, cores: int, heap: str, event_log: str | None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("go_cdc_spark-perfbench")
        .config("spark.driver.memory", heap)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM and the Python workers it started, and
    wait until each has ended."""
    from pyspark import SparkContext

    from perfbench.host import alive, proc_tree

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = [p for p in proc_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # a later session starts a new JVM
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while True:
        running = [p for p in started if alive(p)]
        if not running:
            return
        if time.time() > deadline:
            for p in running:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


# -------------------------------------------------------------- metrics


def tail(xs: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it; the
    maximum when there are ten samples or fewer."""
    s = sorted(xs) or [0.0]
    return s[len(s) - 11] if len(s) > 10 else s[-1]


def median(xs: list[float]) -> float:
    """0 when a failure left no samples; the result is then incorrect."""
    return statistics.median(xs) if xs else 0.0


def summary(xs: list[float]) -> dict:
    return {"n": len(xs), "p50": median(xs), "tail": tail(xs)} if xs else {"n": 0}


# ----------------------------------------------------------------- run


def run(args) -> dict:
    """One run: set-up, timed loop, gate. Returns the result object."""
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, t_start: float) -> dict:
    from perfbench import layers as tr
    from perfbench import workloads as wl
    from perfbench.host import alloc_gbps, cpu_counters, host_regime, tree_cpu_s, tree_peak_rss_mb

    size = "tiny" if args.tiny else "full"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None  # recomputed from TMPDIR
    event_log = os.path.join(work, "eventlog") if args.trace else None
    counters = cpu_counters()
    probe_before = alloc_gbps()
    cores, heap = session_resources()

    spark = build_spark(work, cores, heap, event_log)
    annotations: dict = {"workload": args.workload, "seed": args.seed, "cores": cores, "heap": heap}
    try:
        inst, warm_attempted, warm_failed = None, 0, 0
        annotations["spark_start_s"] = time.perf_counter() - t_start
        if args.workload == "dedup_pass":
            n_docs, n_vecs = wl.CORPUS[size]
            sf_dir = os.path.join(work, "corpus")
            wl.write_corpus(sf_dir, n_docs, n_vecs, args.seed)
            annotations["inputs_ready_s"] = time.perf_counter() - t_start
            # oracle_sql() resolves the LSH operating point from this table
            os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
            n_rows = {"documents": n_docs, "embeddings": n_vecs}
            warm = wl.dedup_loop(spark, sf_dir, n_rows, 0.0)  # warm-up: one pass
            warm_attempted, warm_failed = warm.attempted, warm.failed
            run_loop = lambda tracer: wl.dedup_loop(spark, sf_dir, n_rows, args.seconds, tracer)  # noqa: E731
        else:
            inst = wl.prepare_cdc(spark, work, wl.SIZES[size], args.seed)
            annotations["inputs_ready_s"] = time.perf_counter() - t_start
            warm = wl.cdc_loop(spark, inst, 0.0)  # warm-up: the first whole cycle
            warm_attempted, warm_failed = warm.attempted, warm.failed
            run_loop = lambda tracer: wl.cdc_loop(spark, inst, args.seconds, tracer)  # noqa: E731
        # set-up is reported in process-tree CPU seconds, which co-tenant
        # load moves far less than wall time (README.md, "End-to-end")
        setup_wall_s, setup_cpu_s = time.perf_counter() - t_start, tree_cpu_s()

        tracer = None
        if args.trace:
            tracer = tr.Tracer(spark.sparkContext)
            install_wrappers(tracer)
        wall0, cpu0 = time.time(), tree_cpu_s()
        try:
            loop = run_loop(tracer)
        finally:
            if tracer is not None:
                tracer.unwrap()
        cpu_s, wall1 = tree_cpu_s() - cpu0, time.time()
        peak_rss_mb = tree_peak_rss_mb()

        if inst is None:
            checks, failures = wl.dedup_gate(sf_dir, loop.outputs)
        else:
            checks, failures = wl.cdc_gate(spark, inst)
        extras = wl.lake_extras(inst, loop) if args.trace else {}
    finally:
        stop_spark(spark)

    for f in failures:
        print(f"perfbench: {f}", file=sys.stderr)
    loop_s = loop.t1 - loop.t0
    records = max(loop.records, 1)
    annotations.update(
        setup_wall_s=setup_wall_s,
        loop_s=loop_s,
        ops=summary(loop.ops),
        calls={k: summary(v) for k, v in loop.parts.items()},
        alloc_gbps_before=probe_before,
        alloc_gbps_after=alloc_gbps(),
        **host_regime(counters),
    )
    if args.trace:
        folded = tr.fold_event_log(event_log, wall0, wall1)
        metrics = tr.layer_metrics(
            tracer, folded, loop.t0, loop.t1, cores, list(wl.QUERIES)
        )
        metrics.update(extras)
        # wall-clock figures of the traced loop: recorded, not gated
        metrics["loop.events_per_s"] = (loop.records / loop_s, "1/s")
        metrics["loop.op_s_p50"] = (median(loop.ops), "s")
        metrics["loop.op_s_tail"] = (tail(loop.ops), "s")
        metrics["loop.peak_rss_mb"] = (peak_rss_mb, "MB")
        tracer.dump(os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"))
    else:
        annotations.update(
            events_per_s=loop.records / loop_s,
            op_s_p50=median(loop.ops),
            op_s_tail=tail(loop.ops),
            peak_rss_mb=peak_rss_mb,
        )
        metrics = {
            "setup_s": (setup_cpu_s, "s"),
            "cpu_s_per_mevent": (cpu_s / records * 1e6, "s"),
            "op_cpu_s_p50": (median(loop.op_cpu), "s"),
        }
    failed = warm_failed + loop.failed + len(failures)
    print(json.dumps({"annotations": annotations}))
    return {
        "correct": failed == 0,
        "attempted": warm_attempted + loop.attempted + checks,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def install_wrappers(tracer) -> None:
    """Span every layer call that engine code or the loops make, patched
    where the caller looks it up."""
    from go_cdc_spark import metrics
    from go_cdc_spark.bookmark import BookmarkStore
    from go_cdc_spark.sinks.lake import ParquetLakeTable
    from go_cdc_spark.sources import oplog
    from go_cdc_spark.streaming import replay

    tracer.wrap(oplog, "read_chunk", "oplog.read_chunk")
    tracer.wrap(replay, "apply_epoch", "replay.apply_epoch")
    tracer.wrap(ParquetLakeTable, "apply_batch", "lake.apply_batch")
    tracer.wrap(ParquetLakeTable, "manifest", "lake.manifest")
    tracer.wrap(ParquetLakeTable, "vacuum", "lake.vacuum")
    tracer.wrap(BookmarkStore, "record", "bookmark.record")
    tracer.wrap(metrics, "replication_lag", "metrics.replication_lag")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    # fail before any work when the program is not in this checkout
    import go_cdc_spark  # noqa: F401
    import __spark_entry__  # noqa: F401

    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
