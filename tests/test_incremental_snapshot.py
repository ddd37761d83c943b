"""DBLog-style incremental snapshot: chunked source copy interleaved
with tailing (sources/incremental_snapshot.py). Contract: the
dump/tail decomposition is invisible — final state equals the
single-shot LWW replay of the FULL history (prefix the source already
absorbed + the retained tail log), same as the reference's
Dump→Tail overlap rule (dumper.go:85,106-109) but chunk-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from go_cdc_spark import schemas
from go_cdc_spark.bookmark import BookmarkStore
from go_cdc_spark.config import PipelineConfig
from go_cdc_spark.genlog import LogSpec, events_df, write_segments
from go_cdc_spark.operators.resolve import lww_resolve
from go_cdc_spark.oracle import replay_oracle, table_fingerprint
from go_cdc_spark.sinks.lake import ParquetLakeTable
from go_cdc_spark.sources.incremental_snapshot import (
    incremental_snapshot_with_tail,
    plan_key_chunks,
)

PAYLOAD = ["lang", "content"]


def _setup(spark, tmpdir_path, n_events=6_000, segment_events=1_000, seed=11):
    """Full history written once; the tail log dir sees only the suffix
    segments (prefix history is 'before retention' — only the live
    source state still carries it)."""
    full_dir = os.path.join(tmpdir_path, "full_log")
    spec = LogSpec(
        n_events=n_events, segment_events=segment_events, dup_every=97, seed=seed
    )
    write_segments(spark, spec, full_dir)
    n_segments = n_events // segment_events
    tail_dir = os.path.join(tmpdir_path, "log")
    os.makedirs(tail_dir)
    for k in range(n_segments // 3, n_segments):  # suffix = last 2/3
        os.symlink(
            os.path.join(full_dir, f"segment={k}"),
            os.path.join(tail_dir, f"segment={k}"),
        )
    cfg = PipelineConfig(
        pipeline_id="incsnap",
        source_log_path=tail_dir,
        table_root=os.path.join(tmpdir_path, "table"),
        bookmark_root=os.path.join(tmpdir_path, "bm"),
        n_buckets=8,
    )
    ParquetLakeTable.create(
        spark, cfg.table_root, schemas.TABLE_SCHEMA, cfg.key_cols, cfg.n_buckets
    )
    return cfg, full_dir


def _live_source(spark, cfg, full_dir):
    """≙ SELECT against the live source DB: LWW-live state over every
    event the source has absorbed so far = full prefix + tail events up
    to the pipeline's applied watermark (source and replica advance in
    lockstep; the select never returns versions/stamps)."""
    bm = BookmarkStore(cfg.bookmark_root, cfg.pipeline_id)
    tail_segs = sorted(
        int(d.split("=")[1]) for d in os.listdir(cfg.source_log_path)
    )
    first_tail = min(tail_segs)

    def select():
        hwm = bm.latest_token()
        ev = spark.read.option("mergeSchema", "true").parquet(full_dir)
        tok = F.struct("ts_t", "ts_i", "seq")
        upper = tok <= F.struct(
            F.lit(hwm[0]).cast("long"),
            F.lit(hwm[1]).cast("long"),
            F.lit(hwm[2]).cast("long"),
        )
        seen = ev.filter((F.col("segment") < first_tail) | upper).drop("segment")
        live = lww_resolve(
            seen, cfg.key_cols, cfg.order_cols, PAYLOAD, validate=False
        )
        return live.filter(F.col("op") != "d").select(*cfg.key_cols, *PAYLOAD)

    return select


def _oracle_fp(spark, full_dir):
    full = spark.read.option("mergeSchema", "true").parquet(full_dir).drop("segment")
    return table_fingerprint(replay_oracle(full.toPandas()))


def test_incremental_snapshot_matches_single_shot_replay(spark, tmpdir_path):
    cfg, full_dir = _setup(spark, tmpdir_path)
    select = _live_source(spark, cfg, full_dir)
    results = incremental_snapshot_with_tail(
        spark, cfg, select, n_chunks=4, tail_epochs_per_chunk=1
    )
    # interleave actually happened: chunk epochs (< -99) between tails
    stages = [r.epoch for r in results]
    assert sum(1 for e in stages if e <= -100) == 4
    assert sum(1 for e in stages if e >= 0) == 4  # 4 tail segments
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    assert table_fingerprint(lake.read().toPandas()) == _oracle_fp(spark, full_dir)
    # prefix-only keys really came from the snapshot (not the tail log):
    tail = spark.read.option("mergeSchema", "true").parquet(cfg.source_log_path)
    prefix_only = (
        lake.read()
        .join(tail.select(*cfg.key_cols).distinct(), cfg.key_cols, "left_anti")
        .count()
    )
    assert prefix_only > 0
    # a second invocation is a pure tail (resume semantics) but must
    # SAY so — an operator expecting a fresh re-snapshot would
    # otherwise read success with zero rows copied
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        again = incremental_snapshot_with_tail(spark, cfg, select, n_chunks=4)
    assert any("already complete" in str(x.message) for x in w)
    assert all(r.epoch >= 0 for r in again)  # no chunk epochs re-applied
    # and a mismatched n_chunks on resume warns that the plan wins
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        incremental_snapshot_with_tail(spark, cfg, select, n_chunks=9)
    assert any("only honored" in str(x.message) for x in w)


def test_kill_mid_snapshot_then_resume(spark, tmpdir_path):
    cfg, full_dir = _setup(spark, tmpdir_path, seed=23)
    select = _live_source(spark, cfg, full_dir)

    calls = {"n": 0}

    def crashing_select():
        calls["n"] += 1
        if calls["n"] > 3:  # boundaries pass + 2 chunk selects, then die
            raise RuntimeError("kill -9")
        return select()

    try:
        incremental_snapshot_with_tail(
            spark, cfg, crashing_select, n_chunks=4, tail_epochs_per_chunk=1
        )
        raise AssertionError("crash did not fire")
    except RuntimeError:
        pass

    # resume with the healthy source: committed chunks/epochs are
    # skipped (exactly-once), the rest complete, state converges
    results = incremental_snapshot_with_tail(
        spark, cfg, select, n_chunks=4, tail_epochs_per_chunk=1
    )
    applied_chunks = [r.epoch for r in results if r.epoch <= -100]
    assert len(applied_chunks) == 2  # chunks 0-1 committed pre-crash
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    assert table_fingerprint(lake.read().toPandas()) == _oracle_fp(spark, full_dir)
    # second resume is a clean no-op on chunks
    again = incremental_snapshot_with_tail(
        spark, cfg, select, n_chunks=4, tail_epochs_per_chunk=1
    )
    assert [r.epoch for r in again if r.epoch <= -100] == []
    assert table_fingerprint(lake.read().toPandas()) == _oracle_fp(spark, full_dir)


def test_rebucket_between_chunks_is_invisible(spark, tmpdir_path):
    """A bucket-layout flip landing BETWEEN chunk commits must be
    invisible to the snapshot: nothing caches the modulus (apply_batch
    derives bucket_expr from the live manifest per commit, and the
    chunk plan hashes key columns, not buckets), so chunks committed
    before the flip are rewritten by rebucket itself and chunks after
    it route under the new modulus. Final state must still equal the
    single-shot replay."""
    cfg, full_dir = _setup(spark, tmpdir_path, seed=41)
    select = _live_source(spark, cfg, full_dir)

    calls = {"n": 0}

    def flipping_select():
        calls["n"] += 1
        # call 1 = plan boundaries, calls 2-5 = chunk selects; flip the
        # layout after chunks 0-1 committed under the 8-bucket modulus
        if calls["n"] == 4:
            ParquetLakeTable.load(spark, cfg.table_root).rebucket(16)
        return select()

    results = incremental_snapshot_with_tail(
        spark, cfg, flipping_select, n_chunks=4, tail_epochs_per_chunk=1
    )
    assert sum(1 for r in results if r.epoch <= -100) == 4  # all chunks applied
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    m = lake.manifest()
    assert m["n_buckets"] == 16  # flip survived the remaining chunks
    assert table_fingerprint(lake.read().toPandas()) == _oracle_fp(spark, full_dir)
    # post-flip chunk rows routed with the NEW modulus: every stored row
    # is in the bucket dir the 16-way hash assigns it (lookup depends on it)
    from functools import reduce

    from go_cdc_spark.sinks.lake import bucket_expr

    some = lake.read().limit(5).collect()
    keys = [tuple(r[c] for c in cfg.key_cols) for r in some]
    got = {tuple(r[c] for c in cfg.key_cols) for r in lake.lookup(keys).collect()}
    assert got == set(keys)
    pointers = list(m["buckets"].items()) + [
        (b, d) for b, ds in m.get("deltas", {}).items() for d in ds
    ]
    stored = reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.parquet(os.path.join(cfg.table_root, d, f"bucket={b}"))
            .select(*cfg.key_cols, F.lit(int(b)).alias("bucket"))
            for b, d in pointers
        ],
    ).withColumn("_want", bucket_expr(cfg.key_cols, 16))
    assert stored.filter(F.col("bucket") != F.col("_want")).count() == 0


def test_rebucket_racing_chunk_commit_conflicts_then_resumes(spark, tmpdir_path):
    """A rebucket racing a chunk commit to the SAME next version must
    lose or win loudly, never silently interleave: the chunk commit's
    manifest CAS fails (uuid data dirs mean the loser clobbers
    nothing), the snapshot run dies with the conflict error, and a
    plain re-run resumes — committed chunks skipped, the conflicted
    chunk re-applied under the new modulus — converging to the
    single-shot oracle with each chunk epoch recorded exactly once."""
    import pytest

    cfg, full_dir = _setup(spark, tmpdir_path, seed=43)
    select = _live_source(spark, cfg, full_dir)
    victim_key = f"snapchunk-{cfg.pipeline_id}-1"

    real = ParquetLakeTable._write_manifest
    fired = []

    def race_once(self, m):
        # inject the layout flip inside chunk 1's CAS window: after its
        # data dir is written, before its manifest commit
        if m.get("epoch_key") == victim_key and not fired:
            fired.append(1)
            ParquetLakeTable.load(spark, cfg.table_root).rebucket(16)
        return real(self, m)

    ParquetLakeTable._write_manifest = race_once
    try:
        with pytest.raises(RuntimeError, match="commit conflict"):
            incremental_snapshot_with_tail(
                spark, cfg, select, n_chunks=4, tail_epochs_per_chunk=1
            )
    finally:
        ParquetLakeTable._write_manifest = real
    assert fired
    mid = ParquetLakeTable.load(spark, cfg.table_root).manifest()
    assert mid["n_buckets"] == 16  # the rebucket won the version
    assert victim_key not in mid["epochs"]  # the chunk commit lost

    # plain re-run: chunk 0 + committed tail epochs skipped, chunk 1
    # re-selected and applied under the new modulus, rest completes
    results = incremental_snapshot_with_tail(
        spark, cfg, select, n_chunks=4, tail_epochs_per_chunk=1
    )
    assert sum(1 for r in results if r.epoch <= -100) == 3  # chunks 1-3
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    assert lake.manifest()["n_buckets"] == 16
    assert table_fingerprint(lake.read().toPandas()) == _oracle_fp(spark, full_dir)
    chunk_epochs = [
        k for k in lake.committed_epochs() if k.startswith("snapchunk-")
    ]
    assert sorted(chunk_epochs) == [
        f"snapchunk-{cfg.pipeline_id}-{i}" for i in range(4)
    ]


def test_watermark_window_drops_in_flight_keys(spark, tmpdir_path):
    """DBLog window rule: a chunk row whose key saw a log event inside
    the (low, high] watermark window must NOT be merged — the log is
    the newer truth. Verified by instrumenting one chunk directly."""
    from go_cdc_spark.sources.incremental_snapshot import _log_keys_between

    cfg, full_dir = _setup(spark, tmpdir_path, seed=31)
    select = _live_source(spark, cfg, full_dir)
    bm = BookmarkStore(cfg.bookmark_root, cfg.pipeline_id)
    from go_cdc_spark.sinks.lake import ParquetLakeTable
    from go_cdc_spark.streaming.replay import replay_chunked

    lo = bm.latest_token()
    replay_chunked(spark, cfg, max_epochs=1)
    hi = bm.latest_token()
    assert hi > lo
    lake = ParquetLakeTable.load(spark, cfg.table_root)
    touched = _log_keys_between(spark, cfg, lake, lo, hi)
    n_touched = touched.count()
    assert n_touched > 0
    survivors = select().join(touched, cfg.key_cols, "left_anti")
    assert survivors.join(touched, cfg.key_cols, "inner").count() == 0
    # and the window is exactly epoch 1's key set
    seg = min(
        int(d.split("=")[1]) for d in os.listdir(cfg.source_log_path)
    )
    ep = spark.read.parquet(f"{cfg.source_log_path}/segment={seg}")
    assert n_touched == ep.select(*cfg.key_cols).distinct().count()


def test_plan_key_chunks_balanced_and_total(spark):
    df = spark.range(0, 20_000).select(
        F.format_string("repo_%03d", F.pmod(F.col("id"), F.lit(7))).alias("repo"),
        F.format_string("p_%d", F.col("id")).alias("path"),
        F.sha2(F.col("id").cast("string"), 256).substr(1, 40).alias("commit"),
    )
    plans = plan_key_chunks(df, ["repo", "path", "commit"], 8)
    assert plans[0].lo is None and plans[-1].hi is None
    from go_cdc_spark.sources.incremental_snapshot import _chunk_filter

    counts = [
        _chunk_filter(df, ["repo", "path", "commit"], p).count() for p in plans
    ]
    assert sum(counts) == 20_000  # chunks partition the key space
    assert max(counts) < 2.5 * (20_000 / len(plans))  # balanced under skew
