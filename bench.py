#!/usr/bin/env python
"""The bench harness: the driver bench and the three campaigns built on it.

    python bench.py                      # driver bench: ONE JSON line
    python bench.py driver [NAME ...]    # same, or only the named timings
    python bench.py scaling [--events N] [--levels 8,32] [--repeats 2]
                            [--wait MIN] [--mode cow|mor]
    python bench.py gated --out PATH [--wait MIN] [NAME ...]
    python bench.py correctness [NAME ...]

**driver** runs the headline queries from __spark_entry__.queries() (and
their shipping-mode twins) at $SPARK_GRAFT_SF_DIR (default: the sf0.1
test data) on local[$SPARK_GRAFT_CPUS], plus the end-to-end
CDC replay (CoW and MoR) over a generated oplog scaled to the sf and the
bucket-pruned CoW pair, and prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "sf": ..., "replay_events_per_sec": ..., "cow_prune": {...},
   "alloc_gbps_pre": ..., "alloc_gbps_post": ...}

$SPARK_GRAFT_REPLAY_EVENTS overrides the replay size and
$SPARK_GRAFT_DRIVER_MEM the driver heap. NAMEs restrict the run to those
timings (query names, ``cdc_replay_e2e``, ``cdc_replay_e2e_mor``,
``cdc_cow_tail_full``/``cdc_cow_tail_pruned``).

**scaling** is the north rule's N→4N evidence: no real cluster exists
here, so the same replay of the SAME generated oplog runs at local[N] and
local[4N] (default 8 and 32; the recorded ≥0.8 artifacts use 1,4 — the
pair below this one-socket VM's 8-thread memory knee, BENCH/BASELINE.md),
each trial in a fresh worker process. It prints one JSON line with the
wall efficiency T_N / (4·T_4N), the per-event CPU efficiency, a pure-
compute hardware calibration and the calibrated ("normalized")
efficiency. Method (BENCH/BASELINE.md):
- data and shuffle live on tmpfs (/dev/shm): on a cluster every executor
  brings its own disks; one shared virtio disk here saturates below 8
  threads and would measure the disk, not the engine;
- each worker replays a 1M-event warmup log through the full pipeline
  before the timer, so JIT/codegen compilation is excluded;
- the host is shared (steal, load and the page-allocation path swing
  wall time up to 3×), so trials interleave across levels and the
  MINIMUM per level is scored; every trial carries its load at launch,
  its steal share of busy time and its CPU seconds.

**gated** waits for a clean host window (see ``gate``), then runs the
driver bench (or only the NAMEd timings) in a fresh process. Attempt i's
output is kept as PATH.a<i>; PATH is written only from a parsed result.

**correctness** times every contract query and its DuckDB oracle at
$SPARK_GRAFT_SF_DIR in registry order, one JSONL row per query, to show
where the driver's correctness loop spends its budget.

Every child process goes through ``run_child``; the host stamp (page-
allocation probe, CPU counters, process-tree CPU) is perfbench/host.py.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.host import alloc_gbps, cpu_counters, tree_cpu_s  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# events in the generated replay log, proportional to sf
_SF_GUESS = {"sf0.001": 0.001, "sf0.01": 0.01, "sf0.1": 0.1, "sf1": 1.0}
SF = next((v for k, v in _SF_GUESS.items() if k in SF_DIR), 0.1)
REPLAY_EVENTS = int(os.environ.get("SPARK_GRAFT_REPLAY_EVENTS", str(int(20_000_000 * SF))))

# The gate (r05 tuning, BENCH/BASELINE.md): a single good probe can be a
# transient inside a slam, so fire on GATE_STREAK consecutive probes.
GATE_GBPS, GATE_LOAD, GATE_STREAK = 1.0, 2.0, 2
CHILD_TIMEOUT_S = 3600
ATTEMPTS = 3


def _log(msg: str) -> None:
    print(f"{time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def build_spark(cpus: int, local_dir: str | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        # partitions == cores, NOT 2x: measured on this box, 64 partitions
        # x 32 threads at a 24g heap falls off a GC cliff (52s vs 4s for
        # the same resolve+write) from concurrent parquet-writer buffers;
        # one wave of right-sized tasks + a roomy heap stays off it
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .appName(f"go_cdc_spark-bench-{cpus}")
        # Write-path / fairness settings: the round-3 A/B winner
        # (split,rawfs,gc; BENCH/BASELINE.md). split: scan splits sized
        # so one epoch's segment files fan out to >= the wide level's
        # thread count — the default 128m bin-packs the ~30MB segment
        # files into ~8 splits, so the scan+shuffle-map stage runs
        # 8-wide at BOTH levels (a 50-75% idle stage at local[16/32]).
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # rawfs: LocalFileSystem writes a .crc shadow file per data file
        # (2x file creates + extra page churn per bucket write);
        # RawLocalFileSystem skips them.
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        # gc: JVM ergonomics size the GC pool off the VM's advertised
        # vCPUs at every level, so a local[4] JVM silently offloads GC
        # onto cores a real 4-core node would not have. Cap GC threads
        # at the level's core count.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:ParallelGCThreads={cpus} -XX:ConcGCThreads={max(cpus // 4, 1)}",
        )
    )
    if local_dir:
        # shuffle/spill on the same medium as the data: on a cluster every
        # executor has local shuffle disks; one shared virtio disk here
        # would serialize all levels behind writeback (measured: 2-4x noise)
        b = b.config("spark.local.dir", local_dir)
    return b.getOrCreate()


def time_query(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def bench_replay(spark, n_events: int, mode: str = "cow") -> tuple[float, dict]:
    """End-to-end: generated oplog (skewed, with duplicates and mid-log
    schema evolution) replayed into a fresh lake table. Generation is
    excluded from the timed window."""
    from go_cdc_spark import schemas
    from go_cdc_spark.config import PipelineConfig
    from go_cdc_spark.genlog import LogSpec, write_segments
    from go_cdc_spark.sinks.lake import ParquetLakeTable
    from go_cdc_spark.streaming.replay import replay_chunked

    d = tempfile.mkdtemp(prefix="go_cdc_bench_")
    try:
        cfg = PipelineConfig(
            "bench",
            f"{d}/log",
            f"{d}/table",
            f"{d}/bm",
            # 32 (was 64): measured 1.3-8x faster at local[32] on both
            # modes — halves per-epoch file creates / parquet writer
            # opens, and MoR delta files stop being pathologically tiny
            # (same A/B direction as the scaling worker's 32 buckets)
            n_buckets=32,
            salt_partitions=None,
        )
        n_segments = 8
        spec = LogSpec(
            n_events=n_events,
            n_repos=max(n_events // 2000, 20),
            n_paths=200,
            n_commits=50,
            hot_pct=30,
            dup_every=997,
            segment_events=max(n_events // n_segments, 1),
            evolve_from_segment=n_segments // 2,
            seed=42,
        )
        write_segments(spark, spec, cfg.source_log_path)
        ParquetLakeTable.create(
            spark, cfg.table_root, schemas.TABLE_SCHEMA, cfg.key_cols,
            cfg.n_buckets, mode=mode,
        )
        t0 = time.time()
        results = replay_chunked(spark, cfg, chunk_segments=2)
        dt = time.time() - t0
        events = sum(r.events for r in results)
        # the timed window INCLUDES mid-replay additive schema evolution
        # (segments >= 4 of 8 carry content_sha, so epoch 3 of 4 ALTERs
        # the live table under load — the north rule's "schema
        # evolution" clause at bench scale, not just at sf0.01 tests);
        # assert the evolved column actually reached the table so a
        # regression in the hot-loop union_schema path fails the bench
        # loudly instead of silently benching a narrower workload.
        final_cols = set(
            ParquetLakeTable(spark, cfg.table_root).read().columns
        )
        assert "content_sha" in final_cols, (
            f"mid-replay schema evolution missing from benched table: {final_cols}"
        )
        return dt, {
            "replay_events": events,
            "replay_epochs": len(results),
            # rows physically written across all epochs: CoW counts the
            # rewritten-bucket volume, so written/events is the
            # write-amplification ratio bucket pruning bounds
            "rows_written": sum(r.rows_written for r in results),
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def bench_cow_pruning(spark, n_base: int, n_tail: int) -> dict:
    """Bucket-pruned copy-on-write, isolated: the same 8-epoch tail of
    ``n_tail`` events replayed onto two identically-seeded ~``n_base``-
    key tables — once as a uniformly-hashed feed (every epoch touches
    all 32 buckets, so CoW rewrites the WHOLE table per epoch) and once
    as a shard-ordered feed (LogSpec.locality_n_buckets: each epoch's
    keys live in one 4-bucket window, 12.5%). Identical epoch count,
    event count, and table size — the only variable is the touched-
    bucket fraction, which is the real 100 TB operating point (O(10k)
    buckets, ~1%-key batches), not the e2e bench's worst case where the
    batch spans every bucket of a table it is itself growing. The
    reference's Dumper rewrites everything regardless of what changed
    (dumper.go:140-163); affected-bucket pruning in apply_batch is the
    fix, and rows-written per input event is the evidence. Seeding and
    generation are excluded from the timed windows."""
    from go_cdc_spark import schemas
    from go_cdc_spark.config import PipelineConfig
    from go_cdc_spark.genlog import LogSpec, events_df, write_segments
    from go_cdc_spark.sinks.lake import ParquetLakeTable
    from go_cdc_spark.streaming.replay import replay_chunked

    d = tempfile.mkdtemp(prefix="go_cdc_cowprune_")
    try:
        n_repos = max(n_base // 2000, 20)
        base_spec = LogSpec(
            n_events=n_base, n_repos=n_repos, n_paths=200, n_commits=50,
            insert_pct=100, update_pct=0, seed=7,
        )
        base = (
            events_df(spark, base_spec)
            .dropDuplicates(list(schemas.KEY_COLS))
            .select(*schemas.KEY_COLS, *schemas.PAYLOAD_COLS)
        )
        out: dict = {}
        for tag, locality in (("full", None), ("pruned", 32)):
            cfg = PipelineConfig(
                f"cowprune_{tag}",
                f"{d}/log_{tag}",
                f"{d}/table_{tag}",
                f"{d}/bm_{tag}",
                n_buckets=32,
                salt_partitions=None,
            )
            tail_spec = LogSpec(
                n_events=n_tail, n_repos=n_repos, n_paths=200, n_commits=50,
                hot_pct=30, dup_every=997,
                segment_events=max(n_tail // 8, 1), seed=42,
                locality_n_buckets=locality, locality_rounds=1,
            )
            write_segments(spark, tail_spec, cfg.source_log_path)
            t = ParquetLakeTable.create(
                spark, cfg.table_root, schemas.TABLE_SCHEMA, cfg.key_cols,
                cfg.n_buckets, mode="cow",
            )
            t.overwrite(base, epoch_key="seed")  # untimed
            t0 = time.time()
            results = replay_chunked(spark, cfg, chunk_segments=1)
            dt = time.time() - t0
            applied = [r for r in results if r.events]
            widths = [len(r.bucket_counts) for r in applied]
            if locality:  # the pruning claim itself
                assert max(widths) <= 4, f"pruned epoch too wide: {widths}"
            out[tag] = {
                "sec": round(dt, 3),
                "events": sum(r.events for r in results),
                "rows_written": sum(r.rows_written for r in results),
                "epochs": len(applied),
                "max_buckets_per_epoch": max(widths),
            }
        return out
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _prod_mode_queries() -> dict:
    """SHIPPING-mode twins of the dual-mode operators whose driver
    entries run in oracle mode (hex-digest / init-only hashing bought
    the exact DuckDB twin but is NOT the production path — parity
    between modes is pinned by tests/test_functions.py). Benched so the
    recorded numbers reflect what a user actually runs; these are extra
    timings only, not CORRECTNESS rows."""
    from pyspark.sql import functions as F

    def simhash_prod(spark, sf_dir):
        from go_cdc_spark.functions.dedup import simhash_near_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return simhash_near_pairs(docs, max_hamming=3)  # xxhash64 mode

    def ivf_prod(spark, sf_dir):
        from go_cdc_spark.functions.similarity import ivf_ann_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 5)
        return ivf_ann_topk(emb, q, k=10, n_centroids=16, n_probe=12)

    def semantic_dedup_prod(spark, sf_dir):
        from go_cdc_spark.functions.similarity import semantic_dedup

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return semantic_dedup(emb, threshold=0.4, n_centroids=16)

    return {
        "dedup_simhash_prod": simhash_prod,
        "sim_ann_ivf_prod": ivf_prod,
        "sim_semantic_dedup_prod": semantic_dedup_prod,
    }


def driver(names: list[str] | None = None) -> None:
    """The driver bench; ``names`` restricts it to those timings."""
    import __spark_entry__ as entry

    def want(name: str) -> bool:
        return not names or name in names

    unknown = set(names or ()) - {
        *entry.queries(), *_prod_mode_queries(), "cdc_replay_e2e",
        "cdc_replay_e2e_mor", "cdc_cow_tail_full", "cdc_cow_tail_pruned",
    }
    if unknown:
        raise SystemExit(f"unknown timings: {sorted(unknown)}")
    probe_pre = round(alloc_gbps(), 2)
    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/scan path once (excluded from timings)
    spark.read.parquet(f"{SF_DIR}/events.parquet").count()

    timings: dict[str, float] = {}
    for name, fn in {**entry.queries(), **_prod_mode_queries()}.items():
        if want(name):
            timings[name] = round(time_query(fn(spark, SF_DIR)), 3)
    rec: dict = {}
    if want("cdc_replay_e2e"):
        sec, info = bench_replay(spark, REPLAY_EVENTS, mode="cow")
        timings["cdc_replay_e2e"] = round(sec, 3)
        rec["replay_events"] = info["replay_events"]
        rec["replay_events_per_sec"] = round(info["replay_events"] / sec, 1) if sec else 0.0
    if want("cdc_replay_e2e_mor"):
        sec, info = bench_replay(spark, REPLAY_EVENTS, mode="mor")
        timings["cdc_replay_e2e_mor"] = round(sec, 3)
        rec.setdefault("replay_events", info["replay_events"])
        rec["replay_events_per_sec_mor"] = (
            round(info["replay_events"] / sec, 1) if sec else 0.0
        )
    if want("cdc_cow_tail_full") or want("cdc_cow_tail_pruned"):
        # half-sf base table + 5%-of-events tail: the ratio (touched-bucket
        # fraction × table/batch size) carries the evidence, and the full-
        # touch leg's whole-table-rewrite cost is what we're proving
        # against — keep it bounded
        prune = bench_cow_pruning(spark, REPLAY_EVENTS // 2, max(REPLAY_EVENTS // 20, 8))
        timings["cdc_cow_tail_full"] = prune["full"]["sec"]
        timings["cdc_cow_tail_pruned"] = prune["pruned"]["sec"]
        # identical 8-epoch tail onto identically-seeded tables; "full"
        # touches all 32 buckets per epoch (whole-table rewrite, the
        # Dumper anti-pattern), "pruned" touches 4 (12.5%).
        # write_amp = rows physically written / input events.
        rec["cow_prune"] = {
            tag: {
                **v,
                "write_amp": round(v["rows_written"] / v["events"], 2),
                "events_per_sec": round(v["events"] / v["sec"], 1) if v["sec"] else 0.0,
            }
            for tag, v in prune.items()
        }
        rec["cow_prune_speedup"] = (
            round(prune["full"]["sec"] / prune["pruned"]["sec"], 2)
            if prune["pruned"]["sec"]
            else 0.0
        )
    print(
        json.dumps(
            {
                "metric": "headline_queries_plus_replay",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": SF,
                "cpus": CPUS,
                **rec,
                # host-window quality: page-alloc-path GB/s before/after
                # (≥3 ⇒ clean; ≤0.2 ⇒ co-tenant slam, timings unusable)
                "alloc_gbps_pre": probe_pre,
                "alloc_gbps_post": round(alloc_gbps(), 2),
            }
        ),
        flush=True,
    )
    spark.stop()


def gate(wait_min: float) -> None:
    """Block until GATE_STREAK consecutive probes read ≥ GATE_GBPS at a
    1-min load < GATE_LOAD, or until ``wait_min`` minutes pass — then run
    anyway (the record carries its own stamp). 0 fires at once."""
    deadline = time.monotonic() + wait_min * 60
    streak = 0
    while time.monotonic() < deadline:
        bw, load = alloc_gbps(), os.getloadavg()[0]
        streak = streak + 1 if bw >= GATE_GBPS and load < GATE_LOAD else 0
        _log(f"probe alloc={bw:.2f}GB/s load={load:.2f} streak={streak}/{GATE_STREAK}")
        if streak >= GATE_STREAK:
            return
        time.sleep(20 if streak else 60)
    if wait_min > 0:
        _log("wait budget spent; running at whatever the host gives")


def run_child(
    cmd: list[str], out: str | None = None, wait: float = 0.0,
    timeout: float = CHILD_TIMEOUT_S,
) -> dict | None:
    """Run ``cmd`` in a fresh process, up to ATTEMPTS times, each attempt
    after ``gate(wait)``. The result is the last stdout line that starts
    with ``{``, parsed; a timeout (a hung JVM), a non-zero exit, no such
    line or a line that does not parse each count as one failed attempt.
    Returns the first result, or None when every attempt failed.

    With ``out``: attempt i's stdout+stderr is kept as ``out.a<i>``, and
    ``out`` is removed up front and written only from a parsed result,
    so it never holds an older run's record."""
    if out and os.path.exists(out):
        os.unlink(out)
    for attempt in range(1, ATTEMPTS + 1):
        gate(wait)
        try:
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=timeout)
            rc, stdout, stderr = p.returncode, p.stdout, p.stderr
        except subprocess.TimeoutExpired as e:  # POSIX: partial output as bytes
            rc, stdout, stderr = "timeout", *(
                (b or b"").decode(errors="replace") for b in (e.stdout, e.stderr)
            )
        if out:
            with open(f"{out}.a{attempt}", "w") as fh:
                fh.write(stdout + stderr)
        line = next((ln for ln in reversed(stdout.splitlines()) if ln.startswith("{")), None)
        try:
            rec = json.loads(line) if rc == 0 and line else None
        except json.JSONDecodeError:
            rec = None
        if rec is not None:
            if out:
                with open(f"{out}.tmp", "w") as fh:
                    fh.write(json.dumps(rec) + "\n")
                os.replace(f"{out}.tmp", out)
            return rec
        sys.stderr.write(stderr[-4000:])
        _log(f"attempt {attempt}/{ATTEMPTS} failed (exit {rc}): {' '.join(cmd[1:])[:200]}")
        if attempt < ATTEMPTS:
            time.sleep(30)
    return None


def calibrate(levels: list[int], d: str, n: int = 400_000_000) -> dict:
    """Hardware-ceiling probe: a cache-resident pure-compute job
    (spark.range → xxhash64 chain → max) containing ZERO engine code.
    Its wall-clock speedup between the two levels is the most this
    VM's vCPUs can deliver — measured 8→32 speedup is only ~1.5× on
    this box (32 advertised vCPUs ≈ 12–16 physical cores' throughput),
    so an engine efficiency equal to the ceiling means the ENGINE
    scales perfectly and the silicon is the limit. Best of 2 runs per
    level."""
    from pyspark.sql import functions as F

    out = {}
    for cpus in levels:
        spark = build_spark(cpus, os.path.join(d, f"cal{cpus}"))
        spark.sparkContext.setLogLevel("ERROR")
        df = spark.range(0, n, 1, cpus * 4)
        expr = F.xxhash64(F.xxhash64(F.xxhash64(F.xxhash64("id"))))
        df.limit(1_000_000).select(expr.alias("h")).agg(F.max("h")).collect()
        best = None
        for _ in range(2):
            t0 = time.time()
            df.select(expr.alias("h")).agg(F.max("h")).collect()
            best = min(best or 1e9, time.time() - t0)
        out[cpus] = round(best, 2)
        spark.stop()
    lo, hi = min(levels), max(levels)
    out["ceiling_efficiency"] = round(out[lo] / ((hi / lo) * out[hi]), 3)
    return out


def _generate(log_dir: str, n_events: int) -> None:
    from go_cdc_spark.genlog import LogSpec, write_segments

    spark = build_spark(8, os.path.join(os.path.dirname(log_dir), "spark-local"))
    spark.sparkContext.setLogLevel("ERROR")
    spec = LogSpec(
        n_events=n_events,
        n_repos=max(n_events // 2000, 50),
        n_paths=200,
        n_commits=50,
        hot_pct=30,
        dup_every=997,
        segment_events=max(n_events // 8, 1),
        seed=42,
    )
    write_segments(spark, spec, log_dir)
    spark.stop()


def scaling_worker(cpus: int, log_dir: str, mode: str) -> None:
    """One scaling trial: warm up, then replay ``log_dir`` at local[cpus]
    into a fresh table; prints the trial record."""
    from go_cdc_spark import schemas
    from go_cdc_spark.config import PipelineConfig
    from go_cdc_spark.genlog import LogSpec, write_segments
    from go_cdc_spark.sinks.lake import ParquetLakeTable
    from go_cdc_spark.streaming.replay import replay_chunked

    # the 1-min load at launch is the trial's cleanliness signal (load
    # after is polluted by the trial's own threads for short trials)
    load_before = round(os.getloadavg()[0], 1)
    data_root = os.path.dirname(log_dir)
    spark = build_spark(cpus, os.path.join(data_root, f"spark-local-{cpus}"))
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp(prefix=f"go_cdc_scale_{cpus}_", dir=data_root)
    # 32 buckets: half the per-epoch file creates and writer opens of 64
    # (the write path's page-alloc exposure), files well under a task's memory
    n_buckets = 32
    try:
        # Full-pipeline warmup with the SAME plan shapes as the timed
        # run, outside the timer. Must be big enough to push the hot
        # loops through C2 JIT — measured: a cold JVM pays ~3x on the
        # first full replay, and a 50k-row warmup does not amortize it.
        warm_cfg = PipelineConfig(
            f"warm{cpus}", f"{d}/warmlog", f"{d}/warmtable", f"{d}/warmbm",
            n_buckets=n_buckets,
        )
        write_segments(
            spark,
            LogSpec(n_events=1_000_000, segment_events=125_000, hot_pct=30,
                    dup_every=997, n_repos=500, seed=7),
            warm_cfg.source_log_path,
        )
        ParquetLakeTable.create(
            spark, warm_cfg.table_root, schemas.TABLE_SCHEMA, warm_cfg.key_cols,
            n_buckets, mode=mode,
        )
        replay_chunked(spark, warm_cfg, chunk_segments=4)

        cfg = PipelineConfig(
            f"scale{cpus}", log_dir, f"{d}/table", f"{d}/bm", n_buckets=n_buckets
        )
        ParquetLakeTable.create(
            spark, cfg.table_root, schemas.TABLE_SCHEMA, cfg.key_cols,
            cfg.n_buckets, mode=mode,
        )
        # CPU of this worker's process tree (Python driver + JVM):
        # co-tenant load never shows up in it
        cpu0, st0, t0 = tree_cpu_s(), cpu_counters(), time.time()
        results = replay_chunked(spark, cfg, chunk_segments=4)
        dt = time.time() - t0
        st = [b - a for a, b in zip(st0, cpu_counters())][:8]  # user .. steal
        cpu = tree_cpu_s() - cpu0
        events = sum(r.events for r in results)
        # hypervisor steal DURING the timed window, as a share of busy
        # (non-idle) time: co-tenant VMs rob cycles without showing in
        # loadavg (measured 6%..50%+ on this host)
        steal_pct = round(100.0 * st[7] / max(sum(st) - st[3], 1), 1)
        print(
            json.dumps(
                {"cpus": cpus, "seconds": round(dt, 3), "events": events,
                 "events_per_sec": round(events / dt, 1), "epochs": len(results),
                 "cpu_seconds": round(cpu, 1),
                 "cpu_us_per_event": round(cpu * 1e6 / events, 2),
                 "steal_pct_of_busy": steal_pct,
                 "load_before": load_before}
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.stop()


def scaling(events: int, levels: list[int], repeats: int, wait: float, mode: str) -> None:
    d = tempfile.mkdtemp(
        prefix="go_cdc_scaling_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    try:
        cal = calibrate(levels, d)
        log_dir = os.path.join(d, "log")
        _generate(log_dir, events)
        trials: dict[int, list] = {c: [] for c in levels}
        # Interleave trials across levels (1st trial of each, then 2nd
        # of each, ...) so a slow co-tenant phase penalizes both levels
        # equally instead of whichever level it coincides with.
        for _ in range(max(repeats, 1)):
            for cpus in levels:
                r = run_child(
                    [sys.executable, os.path.abspath(__file__), "worker",
                     str(cpus), log_dir, mode],
                    wait=wait,
                )
                if r is None:
                    raise RuntimeError(f"worker local[{cpus}] failed after {ATTEMPTS} attempts")
                r["load_after"] = round(os.getloadavg()[0], 1)
                trials[cpus].append(r)
        results = {
            c: {**min(ts, key=lambda r: r["seconds"]),
                "trials_seconds": [r["seconds"] for r in ts],
                "trials_load_before": [r["load_before"] for r in ts]}
            for c, ts in trials.items()
        }
        lo, hi = min(levels), max(levels)
        ratio = hi / lo
        eff = results[lo]["seconds"] / (ratio * results[hi]["seconds"])
        # Noise-immune companion metric: per-event CPU at the two levels.
        # A perfectly scaling engine keeps core-µs/event flat as
        # parallelism grows; co-tenant contention never pollutes it.
        cpu_eff = None
        if results[lo].get("cpu_us_per_event") and results[hi].get("cpu_us_per_event"):
            cpu_eff = round(
                results[lo]["cpu_us_per_event"] / results[hi]["cpu_us_per_event"], 3
            )
        print(
            json.dumps(
                {
                    "metric": "replay_scaling_efficiency",
                    "value": round(eff, 3),
                    "unit": f"T{lo}/({int(ratio)}*T{hi})",
                    "cpu_scaling_efficiency": cpu_eff,
                    "hardware_calibration": cal,
                    "normalized_efficiency": round(
                        min(eff / cal["ceiling_efficiency"], 1.0), 3
                    ),
                    "events": events,
                    "mode": mode,
                    "levels": {str(k): v for k, v in results.items()},
                }
            )
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def correctness(names: list[str]) -> None:
    """Per-query Spark and DuckDB-oracle wall time, registry order."""
    import duckdb

    import __spark_entry__ as entry

    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    sqls = entry.oracle_sql()
    t_total0 = time.time()
    for name, q in entry.queries().items():
        if names and name not in names:
            continue
        t0 = time.time()
        err, nrows = None, -1
        try:
            nrows = len(q(spark, SF_DIR).toPandas())
        except Exception as e:  # noqa: BLE001
            err = repr(e)[:200]
        t_spark = time.time() - t0
        t0 = time.time()
        o_err, o_rows = None, -1
        if name in sqls:
            try:
                o_rows = len(con.execute(sqls[name]).fetchdf())
            except Exception as e:  # noqa: BLE001
                o_err = repr(e)[:200]
        print(
            json.dumps(
                {"q": name, "spark_s": round(t_spark, 2),
                 "duck_s": round(time.time() - t0, 2), "rows": nrows,
                 "o_rows": o_rows, "err": err, "o_err": o_err,
                 "cum_s": round(time.time() - t_total0, 1)}
            ),
            flush=True,
        )
    print(json.dumps({"total_s": round(time.time() - t_total0, 1)}), flush=True)
    spark.stop()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="go_cdc_spark bench harness (module docstring)")
    sub = ap.add_subparsers(dest="cmd")
    p = sub.add_parser("driver", help="the driver bench (the default)")
    p.add_argument("names", nargs="*", help="only these timings")
    p = sub.add_parser("scaling", help="N→4N replay scaling campaign")
    p.add_argument("--events", type=int, default=16_000_000)
    p.add_argument("--levels", default="8,32")
    p.add_argument("--repeats", type=int, default=2,
                   help="fresh-process trials per level; the min is scored")
    p.add_argument("--wait", type=float, default=0, metavar="MIN",
                   help="per trial: wait up to MIN minutes for the gate")
    p.add_argument("--mode", default="cow", choices=["cow", "mor"])
    p = sub.add_parser("gated", help="driver bench in a fresh process after the gate")
    p.add_argument("--out", required=True)
    p.add_argument("--wait", type=float, default=150, metavar="MIN",
                   help="wait up to MIN minutes for the gate (0: fire now)")
    p.add_argument("names", nargs="*", help="only these timings")
    p = sub.add_parser("correctness", help="per-query Spark + DuckDB oracle wall time")
    p.add_argument("names", nargs="*", help="only these queries")
    p = sub.add_parser("worker")  # one scaling trial; spawned by `scaling`
    p.add_argument("cpus", type=int)
    p.add_argument("log_dir")
    p.add_argument("mode")
    args = ap.parse_args(argv)

    if args.cmd in (None, "driver"):
        driver(getattr(args, "names", None))
    elif args.cmd == "scaling":
        levels = [int(x) for x in args.levels.split(",")]
        scaling(args.events, levels, args.repeats, args.wait, args.mode)
    elif args.cmd == "gated":
        rec = run_child(
            [sys.executable, os.path.abspath(__file__), "driver", *args.names],
            out=args.out, wait=args.wait,
        )
        if rec is None:
            _log(f"no attempt produced a result; {args.out} not written")
            return 1
        print(json.dumps(rec))
    elif args.cmd == "correctness":
        correctness(args.names)
    else:
        scaling_worker(args.cpus, args.log_dir, args.mode)
    return 0


if __name__ == "__main__":
    sys.exit(main())
