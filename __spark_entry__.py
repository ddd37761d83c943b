"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface (SURVEY.md §2) over
the driver's testdata tables; each entry has a DuckDB ``oracle_sql()``
equivalent (same column names, order-insensitive value parity).

The CDC family derives a change-event view from the ``events`` table:
  key   = user_id                (≙ Mongo _id, query_generator.go:56)
  op    = signup→'i', error→'d', else 'u'   (≙ message.go:17-21)
  order = (ts, event_id)         (≙ primitive.Timestamp (T, I))
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_SMOKE = "/root/testdata/sf0.001"

# split point for snapshot-vs-tail style queries
_SPLIT = "2024-01-15 00:00:00"
_TOKEN_TS = "2024-01-15 00:00:00"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _op(df: DataFrame):
    return (
        F.when(df["event_type"] == "signup", F.lit("i"))
        .when(df["event_type"] == "error", F.lit("d"))
        .otherwise(F.lit("u"))
    )


_OP_SQL = "CASE event_type WHEN 'signup' THEN 'i' WHEN 'error' THEN 'd' ELSE 'u' END"


def _lww_state(ev: DataFrame) -> DataFrame:
    """LWW winner per key over a derived change-event view.

    One shuffle: groupBy(key).agg(max(struct(order..., op, payload))).
    ≙ SURVEY §2 O13 (ordered replay / implicit LWW)."""
    w = F.max(
        F.struct(
            F.col("ts"),
            F.col("event_id"),
            _op(ev).alias("op"),
            F.col("event_type"),
            F.col("value"),
        )
    ).alias("w")
    return ev.groupBy("user_id").agg(w)


def _lww_live(ev: DataFrame) -> DataFrame:
    return (
        _lww_state(ev)
        .filter(F.col("w.op") != "d")
        .select(
            "user_id",
            F.col("w.event_id").alias("last_event_id"),
            F.col("w.event_type").alias("last_event_type"),
            F.round(F.col("w.value"), 2).alias("last_value"),
        )
    )


_LWW_RANKED_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, ts, event_type, value, {_OP_SQL} AS op FROM events
), r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev
)
"""


# ---------------- CDC query family (SURVEY §2 operators) ----------------


def q_cdc_lww_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13: deterministic LWW replay — final live row per key."""
    return _lww_live(_events(spark, sf_dir))


def q_cdc_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: config-driven predicate filter, pushed into the parquet scan
    (≙ collection.go:37-50 server-side Find filters)."""
    ev = _events(spark, sf_dir)
    return ev.filter((ev.event_type == "click") & (ev.value >= 250.0)).select(
        "event_id", "user_id", F.round("value", 2).alias("value_r")
    )


def q_cdc_range_scan_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: resume-token range predicate on log position
    (≙ ts >= token, collection.go:57-60; ours is the strict-after
    tuple compare on (ts, event_id))."""
    ev = _events(spark, sf_dir)
    t = F.lit(_TOKEN_TS).cast("timestamp_ntz")
    after = (ev.ts > t) | ((ev.ts == t) & (ev.event_id > 0))
    return ev.filter(after).select("event_id", "user_id", "event_type")


def q_cdc_rate_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: limit/rate cap — first 1000 events past the token in log
    order (≙ FetchCountThreshold, tailer.go:35,61-62)."""
    ev = _events(spark, sf_dir)
    t = F.lit(_TOKEN_TS).cast("timestamp_ntz")
    return (
        ev.filter(ev.ts > t)
        .orderBy("ts", "event_id")
        .limit(1000)
        .select("event_id", "user_id")
    )


def q_cdc_exact_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2-1: exact-duplicate elimination (boundary re-reads)."""
    return _events(spark, sf_dir).select("user_id", "event_type").distinct()


def q_cdc_op_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10: op routing/dispatch counts (i/u/d validation surface)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy(_op(ev).alias("op")).agg(F.count("*").alias("n"))


def q_cdc_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing (production twin of O10's fail-fast): a
    corrupted feed — every 97th event's op mangled to 'x', every 89th
    nulled — is split into good/quarantine streams instead of failing
    the replay; returns the quarantined rows. The split is two pushed
    filter predicates, no shuffle; good ∪ bad == input is pinned by
    tests/test_resolve.py."""
    from go_cdc_spark.operators.resolve import split_bad_records

    ev = _events(spark, sf_dir)
    op = (
        F.when(F.col("event_id") % 97 == 0, F.lit("x"))
        .when(F.col("event_id") % 89 == 0, F.lit(None).cast("string"))
        .otherwise(_op(ev))
    )
    log = ev.select("event_id", "user_id", op.alias("op"))
    _good, bad = split_bad_records(log)
    return bad.select("event_id", "user_id", "op")


def q_cdc_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (temporal) join — point-in-time lookup: every click event
    gets the user's latest purchase value at-or-before its timestamp.
    One shuffle (union + per-key ordered window), no range-join blowup;
    right-side (user, ts) ties resolve to the highest event_id. The
    oracle is DuckDB's native ASOF LEFT JOIN over the tie-reduced right
    side — engine-vs-engine on an operator Spark has no builtin for."""
    from go_cdc_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.round("value", 2).alias("pval")
    )
    out = asof_join(
        clicks,
        purchases,
        key_cols=["user_id"],
        ts_col="ts",
        payload_cols=["pval"],
        tiebreak_cols=["event_id"],
    )
    return out.select(
        "event_id", "user_id", F.col("pval").alias("last_purchase_value")
    )


def q_cdc_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join without the nested-loop plan: clicks matched to
    every purchase window [ts, ts+1h] of the same user, via the
    bucketed equi-join formulation (explode intervals into buckets,
    hash-join on (user, bucket), residual BETWEEN). bucket_width is
    left to the operator's auto default — median interval length, here
    3600 s, so each interval covers ≤2 buckets. The plan is asserted
    BroadcastNestedLoopJoin-free in tests/test_asof.py; the oracle is
    the plain inequality join DuckDB can afford at sf0.01."""
    from go_cdc_spark.operators.asof import range_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("t"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("s"),
        (F.unix_timestamp("ts").cast("long") + 3600).alias("e"),
    )
    out = range_join(
        clicks, purchases, key_cols=["user_id"], ts_col="t",
        start_col="s", end_col="e",
    )
    return out.select("click_id", "purchase_id", "user_id")


def q_cdc_snapshot_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: snapshot scan row count (≙ dumper_test.go:12-43 seed-100 →
    dump → count==100)."""
    return _events(spark, sf_dir).agg(F.count("*").alias("n_rows"))


def q_cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7-O11: snapshot prefix + MERGE of the suffix ≡ LWW over the
    whole log (the dump-then-tail overlap contract, SURVEY §2.2-4).
    The Spark plan really is two stages merged; the oracle is the
    single-shot replay — equality IS the correctness claim."""
    ev = _events(spark, sf_dir)
    split = F.lit(_SPLIT).cast("timestamp_ntz")
    prefix, suffix = ev.filter(ev.ts < split), ev.filter(ev.ts >= split)
    snap = (
        _lww_state(prefix)
        .filter(F.col("w.op") != "d")
        .select(
            "user_id",
            F.col("w.ts").alias("ts"),
            F.col("w.event_id").alias("event_id"),
            F.col("w.event_type").alias("event_type"),
            F.col("w.value").alias("value"),
        )
    )
    merged = snap.unionByName(
        suffix.select("user_id", "ts", "event_id", "event_type", "value")
    )
    return _lww_live(merged)


def q_cdc_delete_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9: delete-if-present — keys whose final event is a delete."""
    return (
        _lww_state(_events(spark, sf_dir))
        .filter(F.col("w.op") == "d")
        .select("user_id", F.col("w.event_id").alias("deleted_at_event"))
    )


def q_cdc_watch_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18: bounded-run mode — stats over the first 500 events in log
    order (≙ WatchThreshold, tailer.go:34,117-120)."""
    ev = _events(spark, sf_dir)
    first_n = ev.orderBy("ts", "event_id").limit(500)
    return first_n.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def _derived_log(ev: DataFrame) -> DataFrame:
    """events → engine change-log view. event_id is monotone in ts in
    this dataset (verified), so (ts, event_id) order ≡ (ts_t=event_id,
    ts_i=0, seq=event_id)."""
    return ev.select(
        _op(ev).alias("op"),
        F.col("event_id").alias("ts_t"),
        F.lit(0).cast("long").alias("ts_i"),
        F.col("event_id").alias("seq"),
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
    )


def _table_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )


def _entry_cfg(
    spark: SparkSession, d: str, name: str, log_dir: str | None = None, **create_kw
):
    """PipelineConfig + empty lake table under temp root ``d`` — the
    shared tail of every replay-based entry query's setup. ``log_dir``
    points the source at a (possibly shared, read-only) segment dir
    outside ``d``."""
    from go_cdc_spark import schemas
    from go_cdc_spark.config import PipelineConfig
    from go_cdc_spark.sinks.lake import ParquetLakeTable

    cfg = PipelineConfig(
        pipeline_id=f"entry-{name}",
        source_log_path=log_dir or os.path.join(d, "log"),
        table_root=os.path.join(d, "table"),
        bookmark_root=os.path.join(d, "bm"),
        key_cols=["user_id"],
        order_cols=list(schemas.ORDER_COLS),
        n_buckets=8,
    )
    lake = ParquetLakeTable.create(
        spark, cfg.table_root, _table_schema(), cfg.key_cols, cfg.n_buckets,
        **create_kw,
    )
    return cfg, lake


# Session-scoped fixture memo for the driver's 59-query correctness
# loop: every replay-based contract query needs the SAME derived-log
# segment dir (read-only input), and two dedup queries share one
# expensive pairs→components fold. Rebuilding these per query is pure
# duplicated work that was pushing the full oracle loop past the
# driver's time budget (round-4 artifact stopped at 50/59 rows). Keyed
# by applicationId so a fresh session never sees another session's
# checkpointed DataFrames; per-query MUTABLE state (lake tables,
# bookmarks, checkpoints) stays per-query and is never memoized.
_FIXTURES: dict = {}


def _fixture(spark: SparkSession, key: tuple, build):
    k = (spark.sparkContext.applicationId, *key)
    if k not in _FIXTURES:
        _FIXTURES[k] = build()
    return _FIXTURES[k]


def _segmented_log_dir(spark: SparkSession, sf_dir: str, n_segments: int) -> str:
    """Memoized derived-log write: ordered seq-range segments (one
    segment ≙ one oplog poll; event_id monotone in ts makes the ranges
    ordered). Shared read-only by every pipeline query using the same
    segment count."""

    def build():
        ev = _events(spark, sf_dir)
        log = _derived_log(ev)
        max_id = ev.agg(F.max("event_id")).collect()[0][0]
        seg = log.withColumn(
            "segment", (F.col("seq") * n_segments / (max_id + 1)).cast("long")
        )
        d = tempfile.mkdtemp(prefix=f"go_cdc_log{n_segments}_")
        seg.repartition("segment").write.partitionBy("segment").mode(
            "overwrite"
        ).parquet(os.path.join(d, "log"))
        return os.path.join(d, "log")

    return _fixture(spark, (sf_dir, "seglog", n_segments), build)


def _entry_pipeline(
    spark: SparkSession, sf_dir: str, name: str, n_segments: int = 4, **create_kw
):
    """Stand up the pipeline against the shared segmented log. Returns
    (cfg, lake) ready for ``replay_chunked``; the table root and
    bookmark store are fresh per call."""
    log_dir = _segmented_log_dir(spark, sf_dir, n_segments)
    d = tempfile.mkdtemp(prefix=f"go_cdc_{name}_")
    return _entry_cfg(spark, d, name, log_dir=log_dir, **create_kw)


def q_cdc_lww_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew path: the same LWW reduce through the salted two-phase
    formulation (hot monorepo keys, north_rule) — must equal the
    single-phase oracle exactly (max-struct is a semilattice)."""
    from go_cdc_spark.operators.resolve import lww_resolve

    r = lww_resolve(
        _derived_log(_events(spark, sf_dir)),
        ["user_id"],
        ["ts_t", "ts_i", "seq"],
        ["event_type", "value"],
        salt_partitions=8,
    )
    return r.filter(F.col("op") != "d").select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_replay_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-engine end-to-end: derive a change-event log from `events`,
    write it as oplog segments, replay through the real pipeline
    (segmented chunks → LWW resolve → bucketed lake MERGE with
    epoch-idempotent manifests → bookmarks), and return the final
    table state. The oracle is the single-shot SQL replay — equality
    is the reference-parity contract (final table state matches the
    reference tailer's replicated collection, BASELINE.json)."""
    from go_cdc_spark.streaming.replay import replay_chunked

    cfg, lake = _entry_pipeline(spark, sf_dir, "e2e")
    replay_chunked(spark, cfg, chunk_segments=1)
    return lake.read().select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_mor_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read ingest + offline compaction (≙ Iceberg
    rewrite_data_files): replay the derived log into a MoR table whose
    inline budget never triggers, so every epoch lands as deltas; then
    run the standalone ``compact()`` maintenance pass and read the
    folded table. Equality with the single-shot SQL replay proves the
    fold preserves LWW/tombstone semantics exactly — the maintenance
    path is held to the same reference-parity contract as ingest."""
    from go_cdc_spark.streaming.replay import replay_chunked

    cfg, lake = _entry_pipeline(
        spark, sf_dir, "compact", n_segments=2, mode="mor", compact_every=1000
    )
    replay_chunked(spark, cfg, chunk_segments=1)
    assert lake.manifest()["deltas"], "MoR replay should leave deltas to compact"
    stats = lake.compact()
    assert stats.applied and lake.manifest()["deltas"] == {}
    return lake.read().select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_changed_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental consumer scan with manifest data skipping
    (``ParquetLakeTable.changed_since``, ≙ Iceberg incremental read via
    value bounds): replay the derived log into a MoR table in 4 epochs
    (deltas kept, so per-epoch files carry tight ts ranges), then ask
    for every key whose LAST change is after the mid-log token. The
    order stats recorded at write time let the read skip all data files
    wholly before the cursor — I/O is O(data since the cursor), not
    O(table). Oracle: ranked LWW over the full log filtered to winners
    past the cutoff; tombstone winners stay visible (op='d')."""
    from go_cdc_spark.sinks.lake import prune_by_order_stats
    from go_cdc_spark.streaming.replay import replay_chunked

    ev = _events(spark, sf_dir)
    cfg, lake = _entry_pipeline(
        spark, sf_dir, "chsince", mode="mor", compact_every=1000
    )
    replay_chunked(spark, cfg, chunk_segments=1)
    split = F.lit(_SPLIT).cast("timestamp_ntz")
    cut = ev.filter(ev.ts < split).agg(F.max("event_id")).collect()[0][0]
    token = (cut, 0, cut)
    # the stats must actually skip files for a mid-log cursor
    m = lake.manifest()
    _, kept = prune_by_order_stats(
        m["buckets"], m.get("deltas", {}), m["order_stats"], token
    )
    assert sum(len(v) for v in kept.values()) < sum(
        len(v) for v in m.get("deltas", {}).values()
    ), "order stats skipped nothing"
    return lake.changed_since(token).select(
        "user_id",
        "op",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-count evolution mid-stream (``ParquetLakeTable.rebucket``,
    ≙ Iceberg partition-spec evolution for a bucket transform): replay
    the first half of the log at 8 buckets, atomically flip the table
    to 16, replay the rest — later epochs merge under the new modulus.
    Oracle: single-shot LWW replay; the layout change must be invisible
    in the final state."""
    from go_cdc_spark.streaming.replay import replay_chunked

    cfg, lake = _entry_pipeline(spark, sf_dir, "rebucket")
    replay_chunked(spark, cfg, chunk_segments=1, max_epochs=2)
    assert lake.rebucket(16).applied and lake.n_buckets == 16
    replay_chunked(spark, cfg, chunk_segments=1)  # epochs 2-3 at 16 buckets
    return lake.read().select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-path point read (``ParquetLakeTable.lookup``): replay
    the log, then fetch five explicit keys — each hashed to its bucket
    driver-side so the scan touches only those buckets with the key
    predicate pushed into parquet. I/O is O(keys), not O(table).
    Oracle: LWW winners for the same five keys."""
    from go_cdc_spark.streaming.replay import replay_chunked

    cfg, lake = _entry_pipeline(spark, sf_dir, "lookup")
    replay_chunked(spark, cfg, chunk_segments=1)
    out = lake.lookup([(1,), (2,), (3,), (4,), (5,)])
    # the pruned scan must touch strictly fewer files than a full read
    # (5 keys hash to at most 5 of the 8 buckets)
    assert len(out.inputFiles()) < len(lake.read().inputFiles()), (
        "point lookup read as many files as a full scan"
    )
    return out.select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation / time travel: replay the full log in 4
    epochs, then read the table AS OF the manifest committed by epoch 1
    (segments 0-1 only). The oracle replays only the event prefix those
    segments contain — equality proves every kept manifest version
    remains a consistent, readable snapshot after later commits
    (≙ Iceberg snapshot reads; vacuum keeps this true by never deleting
    data referenced by a surviving manifest)."""
    import json as _json

    from go_cdc_spark.streaming.replay import replay_chunked

    cfg, lake = _entry_pipeline(spark, sf_dir, "tt")
    replay_chunked(spark, cfg, chunk_segments=1)  # 4 epochs committed
    files = lake._epoch_manifest_files()
    assert len(files) == 5  # create + 4 epoch commits
    with open(os.path.join(cfg.table_root, "_commits", files[2])) as fh:
        as_of = _json.load(fh)  # state after epochs 0 and 1
    return lake.read(manifest=as_of).select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read (≙ Iceberg incremental scan / Delta CDF):
    replay the log in 2 epochs, then diff the table state AS OF epoch 0
    against the final state via ``ParquetLakeTable.changes_between`` —
    every key classified insert/update/delete with post-image payload.
    The oracle replays both event prefixes independently and diffs them
    with a FULL OUTER JOIN, so equality proves the manifest-based diff
    returns exactly the net changes the later epochs applied."""
    import json as _json

    from go_cdc_spark.streaming.replay import replay_chunked

    cfg, lake = _entry_pipeline(spark, sf_dir, "cdf", n_segments=2)
    replay_chunked(spark, cfg, chunk_segments=1)  # 2 epochs committed
    files = lake._epoch_manifest_files()
    with open(os.path.join(cfg.table_root, "_commits", files[1])) as fh:
        m_old = _json.load(fh)  # state after epoch 0 (first half of the log)
    return lake.changes_between(m_old, lake.manifest()).select(
        "user_id",
        "change_type",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution through the real engine: the log's
    later segments carry a new nullable ``value_cents`` column the
    early segments (and the table) lack. Replay must widen the table
    mid-stream; rows whose winning event predates the column read as
    null (north_rule / SURVEY §1.2 contract). Oracle: single-shot
    replay computing value_cents only for post-split winners."""
    from go_cdc_spark.streaming.replay import replay_chunked

    ev = _events(spark, sf_dir)
    split = F.lit(_SPLIT).cast("timestamp_ntz")
    log = _derived_log(ev)

    def build_log():
        ld = tempfile.mkdtemp(prefix="go_cdc_evolve_log_")
        # segment 0 = pre-split (old schema), 1 = post-split (adds
        # column); event_id monotone in ts ⇒ segments are ordered seq
        # ranges
        old = log.filter(ev.ts < split).withColumn("segment", F.lit(0))
        new = (
            log.filter(ev.ts >= split)
            .withColumn(
                "value_cents", F.round(F.col("value") * 100).cast("long")
            )
            .withColumn("segment", F.lit(1))
        )
        old.repartition(4).write.mode("overwrite").parquet(f"{ld}/log/segment=0")
        new.repartition(4).write.mode("overwrite").parquet(f"{ld}/log/segment=1")
        return f"{ld}/log"

    log_dir = _fixture(spark, (sf_dir, "evolve-log"), build_log)
    d = tempfile.mkdtemp(prefix="go_cdc_evolve_")
    cfg, lake = _entry_cfg(spark, d, "evolve", log_dir=log_dir)
    replay_chunked(spark, cfg, chunk_segments=1)
    return lake.read().select(
        "user_id", F.col("event_type").alias("last_event_type"), "value_cents"
    )


def q_cdc_window_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window per-op rates (streaming/monitor.py):
    real F.window over the event timestamps — one map-side-combined
    aggregate, output rows ∝ windows × ops, independent of event
    volume. The streaming twin (stream_windowed_rates) adds a watermark
    and is pinned by tests/test_monitor.py's late-data test."""
    from go_cdc_spark.streaming.monitor import windowed_rates

    ev = _events(spark, sf_dir)
    log = ev.select(
        _op(ev).alias("op"),
        F.unix_timestamp("ts").cast("long").alias("ts_t"),
    )
    return windowed_rates(log, window="10 minutes")


def q_cdc_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch lineage from the bookmark store (north_rule's
    "per-partition lineage + metrics"): replay the log in 2 epochs,
    then read back each tail epoch's recorded raw-event count and
    high-water mark. The oracle recomputes both directly from the
    event halves — equality proves the lineage the pipeline records
    matches what it actually applied. (Bucket-level counts are also
    recorded but are xxhash-bucketed, hence pinned by pytest rather
    than a SQL twin.)"""
    from go_cdc_spark.bookmark import BookmarkStore
    from go_cdc_spark.streaming.replay import replay_chunked

    cfg, _ = _entry_pipeline(spark, sf_dir, "lineage", n_segments=2)
    replay_chunked(spark, cfg, chunk_segments=1)
    bm = BookmarkStore(cfg.bookmark_root, cfg.pipeline_id)
    rows = [
        (r.epoch, r.event_count, r.seq)
        for r in bm.rows()
        if r.stage == "tail" and r.status == "success"
    ]
    return spark.createDataFrame(rows, "epoch long, n_events long, hwm_seq long")


def q_cdc_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch twin of F.session_window): one
    row per (user, session) with start/end/count, 30-min gap,
    deterministic (ts, event_id) ordering. Lag + cumulative-flag over
    one key-partitioned window, rollup by (key, session) — two
    shuffles, no per-session driver work."""
    from go_cdc_spark.streaming.monitor import sessionize

    ev = _events(spark, sf_dir)
    log = ev.select(
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("t"),
        "event_id",
    )
    return sessionize(
        log, key_cols=["user_id"], ts_col="t", gap_seconds=1800,
        order_cols=["event_id"],
    )


def q_cdc_snapshot_then_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full stage machine (Init→Dump→Tail, SURVEY §3.1)
    through the real engine: snapshot the pre-split live state into the
    lake (≙ Dumper), then tail the post-split log from the recorded
    bookmark (≙ TailerManager). Oracle: single-shot replay — the
    dump-then-tail decomposition must be invisible in the final state
    (§2.2-4 overlap contract)."""
    from go_cdc_spark import schemas
    from go_cdc_spark.streaming.replay import run_pipeline

    ev = _events(spark, sf_dir)
    split = F.lit(_SPLIT).cast("timestamp_ntz")
    log = _derived_log(ev)
    prefix = log.filter(ev.ts < split)
    suffix = log.filter(ev.ts >= split).withColumn("segment", F.lit(0))
    # source collection state at the split = LWW over the prefix,
    # deletes dropped, creation stamps kept (≙ createdAt, dumper.go:85)
    from go_cdc_spark.operators.resolve import lww_resolve

    snap = lww_resolve(
        prefix, ["user_id"], list(schemas.ORDER_COLS), ["event_type", "value"]
    ).filter(F.col("op") != "d").drop("op")

    def build_log():
        ld = tempfile.mkdtemp(prefix="go_cdc_snaptail_log_")
        suffix.repartition(4).write.mode("overwrite").parquet(
            f"{ld}/log/segment=0"
        )
        return f"{ld}/log"

    log_dir = _fixture(spark, (sf_dir, "snaptail-log"), build_log)
    d = tempfile.mkdtemp(prefix="go_cdc_snaptail_")
    cfg, lake = _entry_cfg(spark, d, "snaptail", log_dir=log_dir)
    run_pipeline(spark, cfg, source_df=snap, chunk_segments=1)
    return lake.read().select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBLog-style incremental snapshot (arXiv:2010.12597,
    sources/incremental_snapshot.py): the live source is copied in 2
    hash-range key chunks INTERLEAVED with tailing the post-split log —
    each chunk select bracketed by low/high watermarks, in-window keys
    dropped (the log is their truth), survivors merged stamped at the
    LOW watermark so later log events win by LWW. Replaces the
    reference's stop-the-world Dumper (dumper.go:57-163) with the
    bounded-lag variant a 10^10-row source requires. Oracle: single-shot
    LWW replay of the full history — the chunk/tail decomposition must
    be invisible."""
    from go_cdc_spark import schemas
    from go_cdc_spark.bookmark import BookmarkStore
    from go_cdc_spark.operators.resolve import lww_resolve
    from go_cdc_spark.sources.incremental_snapshot import (
        incremental_snapshot_with_tail,
    )

    ev = _events(spark, sf_dir)
    split = F.lit(_SPLIT).cast("timestamp_ntz")
    log = _derived_log(ev)
    prefix = log.filter(ev.ts < split)
    suffix = log.filter(ev.ts >= split)

    def build_log():
        rng = suffix.agg(
            F.min("seq").alias("lo"), F.max("seq").alias("hi")
        ).collect()[0]
        suffix_seg = suffix.withColumn(
            "segment",
            ((F.col("seq") - rng["lo"]) * 4 / (rng["hi"] - rng["lo"] + 1)).cast(
                "long"
            ),
        )
        ld = tempfile.mkdtemp(prefix="go_cdc_incsnap_log_")
        suffix_seg.repartition("segment").write.partitionBy("segment").mode(
            "overwrite"
        ).parquet(os.path.join(ld, "log"))
        return os.path.join(ld, "log")

    log_dir = _fixture(spark, (sf_dir, "incsnap-log"), build_log)
    d = tempfile.mkdtemp(prefix="go_cdc_incsnap_")
    cfg, lake = _entry_cfg(spark, d, "incsnap", log_dir=log_dir)
    bm = BookmarkStore(cfg.bookmark_root, cfg.pipeline_id)

    def select_live():
        # ≙ SELECT on the live source: prefix history + every tail
        # event the pipeline has applied so far (source and replica
        # advance in lockstep); no order stamps leave the source.
        hwm = bm.latest_token()
        tok_ok = F.struct("ts_t", "ts_i", "seq") <= F.struct(
            F.lit(hwm[0]).cast("long"),
            F.lit(hwm[1]).cast("long"),
            F.lit(hwm[2]).cast("long"),
        )
        seen = prefix.unionByName(suffix.filter(tok_ok))
        live = lww_resolve(
            seen, ["user_id"], list(schemas.ORDER_COLS),
            ["event_type", "value"], validate=False,
        )
        return live.filter(F.col("op") != "d").select(
            "user_id", "event_type", "value"
        )

    # 2 chunks over a 4-segment tail: chunk 0 lands after tail epoch 0,
    # chunk 1 after epoch 1, then the drain applies epochs 2-3 — the
    # interleave (select bracketed by watermarks, in-window keys
    # dropped, survivors stamped at the LOW watermark) is exercised on
    # both chunks while keeping the sf0.01 oracle pass inside the
    # driver's loop budget; wider chunk plans are pinned by
    # tests/test_incremental_snapshot.py.
    incremental_snapshot_with_tail(spark, cfg, select_live, n_chunks=2)
    return lake.read().select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered compaction + value-bounds file skipping (≙ Iceberg
    rewrite_data_files with a sort order + per-file column bounds):
    replay the derived log into a MoR table, compact with
    cluster_by=["value"], then serve a range query through
    read(prune_ranges=...) — the scan touches only the files whose
    recorded bounds intersect the range (asserted), and the result
    must equal the unpruned SQL replay filtered to the same range."""
    from go_cdc_spark.sinks.lake import prune_files_by_ranges
    from go_cdc_spark.streaming.replay import replay_chunked

    lo, hi = 100.0, 250.0
    cfg, lake = _entry_pipeline(
        spark, sf_dir, "clustered", n_segments=2, mode="mor", compact_every=1000
    )
    replay_chunked(spark, cfg, chunk_segments=1)
    assert lake.compact(cluster_by=["value"], cluster_files=4).applied
    m = lake.manifest()
    sel = prune_files_by_ranges(
        m["buckets"], m.get("deltas", {}), m["file_stats"], {"value": (lo, hi)}
    )
    kept = sum(len(v) for v in sel.values() if v is not None)
    # the compaction data dir is uuid-named — read it off a pointer
    total = sum(
        # .get(d): a bucket pointer may reference a dir without recorded
        # file stats (non-compacted / delta-only) — count it as zero
        len(m["file_stats"].get(d, {}).get(b, {}))
        for b, d in m["buckets"].items()
    )
    assert 0 < kept < total, "clustered range scan should skip files"
    return (
        lake.read(prune_ranges={"value": (lo, hi)})
        .filter(F.col("value").between(lo, hi))
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


def q_cdc_stateful_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming materializer (streaming/stateful.py): the
    derived log replayed as 2 file micro-batches through
    ``applyInPandasWithState`` — per-key LWW state lives in the
    streaming state store (O(live keys), checkpointed), each batch
    emits only the keys it touched, already resolved. The serving-path
    twin of the reference's always-on tailer loop (tailer.go:75-121).
    Oracle: the single-shot SQL LWW replay — the micro-batch/state
    decomposition must be invisible in the final state. (Deeper batch
    splits and kill/resume are pinned by tests/test_stateful.py; the
    contract run keeps the sf0.01 pass cheap with 2 batches and 8
    state partitions — partition count is layout, not semantics.)"""
    import uuid

    from pyspark.sql import types as T

    from go_cdc_spark.streaming.stateful import (
        materialize_stream,
        materialized_state,
    )

    cfg, _lake = _entry_pipeline(spark, sf_dir, "statemat", n_segments=2)
    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("ts_t", T.LongType()),
            T.StructField("ts_i", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    out = f"statemat_{uuid.uuid4().hex[:8]}"
    # state-store partition count = shuffle partitions at query start;
    # 8 stores/batch instead of 32 — pure fixed-overhead cut at sf0.01
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = materialize_stream(spark, cfg, out, stream_schema=schema)
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    st = materialized_state(spark, out, cfg, ["event_type", "value"])
    return st.select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


# ---------------- training-data pipeline queries ----------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_cdc_spark.functions.text import token_count

    d = _docs(spark, sf_dir)
    return d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_cdc_spark.functions.text import quality_features

    return quality_features(_docs(spark, sf_dir)).select(
        "doc_id", "n_chars_q", "n_tokens", "punct_per_100_chars", "mean_token_len"
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_cdc_spark.functions.text import lang_id

    d = _docs(spark, sf_dir)
    return d.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_guess"))


def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_cdc_spark.functions.text import bpe_token_count

    d = _docs(spark, sf_dir)
    return d.select("doc_id", bpe_token_count(F.col("text")).alias("n_bpe_tokens"))


def q_text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk LLM sequence packing: distributed global token
    cumsum (range-partitioned two-pass, zipWithIndex pattern — driver
    sees O(partitions) rows, never data). Oracle: single window cumsum
    in SQL; equality proves the partition-parallel prefix sum matches
    the sequential definition exactly."""
    from go_cdc_spark.functions.text import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=512, n_partitions=8)


def q_text_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sha256-keyed train/val/test split — pure integer
    threshold compare on a 60-bit key hash, reproduced bit-for-bit by
    the DuckDB twin (same sha256 → int60 chain as the simhash oracle)."""
    from go_cdc_spark.functions.text import split_by_hash

    return split_by_hash(_docs(spark, sf_dir)).select("doc_id", "split")


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k: map-side-combined token counts +
    TakeOrderedAndProject global top-k (per-partition heaps, no full
    vocab sort). Deterministic ties (freq DESC, token ASC) make the
    cutoff row exact in both engines."""
    from go_cdc_spark.functions.text import vocab_top_k

    return vocab_top_k(_docs(spark, sf_dir), k=50)


def q_text_filter_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus quality gate: token-length window + punctuation
    cap + language allowlist as ONE codegen'd scan predicate — the
    filtering stage of a pretraining data pipeline, composed from the
    oracle-checked quality/lang-id columns."""
    from go_cdc_spark.functions.text import filter_corpus

    return filter_corpus(
        _docs(spark, sf_dir), min_tokens=40, max_tokens=80, langs=("en",)
    ).select("doc_id", "n_tokens", "punct_per_100_chars")


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (arXiv:2112.11446 §A1.1, word
    level): distinct-word and top-bigram counts per doc. The entry
    selects the exact long counts — the ratio columns are trivial
    divisions of them (kept out of the hash to avoid cross-engine
    float-rounding ties)."""
    from go_cdc_spark.functions.text import repetition_signals

    return repetition_signals(_docs(spark, sf_dir)).select(
        "doc_id", "n_words", "n_distinct_words", "top_bigram_n", "n_bigrams"
    )


def q_text_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-reweighting downsample: cap en at 25% and zh at 50%,
    keep the rest — per-key sha256 threshold compare (integer math,
    zero shuffle, decisions stable under corpus growth), reproduced
    bit-for-bit by the DuckDB twin via the split_hash chain."""
    from go_cdc_spark.functions.text import sample_stratified

    return sample_stratified(
        _docs(spark, sf_dir), strata_col="lang", rates={"en": 0.25, "zh": 0.5}
    ).select("doc_id", "lang")


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-appendix-C test-set decontamination: docs with
    doc_id % 29 == 0 stand in for the benchmark suite; every other doc
    is flagged if it shares any 8-word n-gram with the benchmark. The
    benchmark gram set is broadcast (benchmark suites are MB-scale);
    the training side is one scan + broadcast semi-join + map-side
    count — O(corpus) work, O(matched docs) shuffle."""
    from go_cdc_spark.functions.text import decontaminate

    d = _docs(spark, sf_dir)
    return decontaminate(
        d.filter(F.col("doc_id") % 29 != 0), d.filter(F.col("doc_id") % 29 == 0), n=8
    )


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram-level boilerplate detection (CCNet-style shared-text
    removal): 5-grams appearing in >3 distinct docs are corpus-common;
    per doc, the exact distinct-gram and common-gram counts (the
    fraction is their trivial division — kept out of the hash like
    text_repetition's ratios). One corpus scan, one co-partitioned
    self-join on gram, shuffles carry (gram, id) pairs only."""
    from go_cdc_spark.functions.text import boilerplate_score

    return boilerplate_score(_docs(spark, sf_dir), n=5, df_threshold=3).select(
        "doc_id", "n_grams", "n_common_grams"
    )


def q_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus dedup (streaming/stateful.py dedup_stream): the
    documents table replayed as 4 arrival-ordered segment files in 2
    micro-batches; the state store admits exactly one (first-seen) doc
    per content fingerprint — dedup-on-ingest with O(unique contents)
    checkpointed state. Oracle: first occurrence per fingerprint by
    (segment, doc_id) — the micro-batch decomposition must be
    invisible."""
    import glob as _glob
    import tempfile
    import time as _time
    import uuid

    from pyspark.sql import types as T

    from go_cdc_spark.streaming.stateful import dedup_stream

    d = _docs(spark, sf_dir).select(
        "doc_id", "text", (F.col("doc_id") % 4).cast("int").alias("seg")
    )
    tmp = tempfile.mkdtemp(prefix="go_cdc_dedupstream_")
    src = os.path.join(tmp, "src")
    d.repartition("seg").write.partitionBy("seg").parquet(src)
    now = _time.time()
    for i in range(4):  # arrival order = segment order
        for f in _glob.glob(os.path.join(src, f"seg={i}", "*")):
            os.utime(f, (now + 60 * i, now + 60 * i))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("seg", T.IntegerType()),
        ]
    )
    out = f"dedupstream_{uuid.uuid4().hex[:8]}"
    # 2 files/trigger → 2 micro-batches (in-batch first-seen resolves
    # by min (seg, doc_id), so batching adjacent segments is
    # semantics-neutral); 8 state partitions — both cut fixed per-batch
    # overhead in the sf0.01 correctness loop. Single-file triggers and
    # kill/resume are pinned by tests/test_stateful.py.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = dedup_stream(
            spark, src, os.path.join(tmp, "ckpt"), out, schema,
            order_cols=["seg", "doc_id"],
            max_files_per_trigger=2,
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(out).select("doc_id", "fp")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch ingest dedup: docs with doc_id % 3 == 0 play the
    already-ingested corpus (fingerprint index only — the index side
    never rescans text); the rest arrive as the new batch and are
    admitted iff their fingerprint is new to both the index and the
    batch (min-id wins in-batch). One anti-join + one min-aggregate."""
    from go_cdc_spark.functions.dedup import incremental_dedup
    from go_cdc_spark.functions.text import fingerprint

    d = _docs(spark, sf_dir)
    index = d.filter(F.col("doc_id") % 3 == 0).select(
        fingerprint(F.col("text")).alias("fp")
    )
    return incremental_dedup(d.filter(F.col("doc_id") % 3 != 0), index)


def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-oracle checked: winnowing is deterministic, and its
    rolling hash never wraps uint64 on ASCII text, so the DuckDB twin
    reproduces fingerprints (and therefore pairs) bit-for-bit."""
    from go_cdc_spark.functions.dedup import winnow_near_pairs

    return winnow_near_pairs(_docs(spark, sf_dir), min_shared=5)


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_cdc_spark.functions.text import fingerprint

    d = _docs(spark, sf_dir)
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_cdc_spark.functions.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir))


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_cdc_spark.functions.dedup import jaccard_pairs

    return jaccard_pairs(_docs(spark, sf_dir), threshold=0.9)


def _near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized pairs→clusters fold shared by q_dedup_components and
    q_dedup_near_keep: both contract queries run the SAME exact-Jaccard
    pair graph through the SAME iterative star contraction, so the
    driver's correctness loop paid the ~20 s fold twice. The result is
    localCheckpoint-pinned per (session, sf_dir); the checkpoint also
    keeps the returned frame valid across both queries."""
    from go_cdc_spark.functions.dedup import connected_components, jaccard_pairs

    def build():
        pairs = jaccard_pairs(_docs(spark, sf_dir), threshold=0.9)
        return connected_components(pairs).localCheckpoint(eager=True)

    return _fixture(spark, (sf_dir, "near-dup-components"), build)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: exact-Jaccard near-dup pairs (≥0.9) fed through
    the large-star/small-star connected-components contraction — the
    canonical-survivor stage of a dedup pipeline. Oracle: the same pair
    SQL + a recursive transitive-closure CTE with min-label components
    (tractable at sf0.01; the Spark side is the O(log n)-round scale
    path)."""
    return _near_dup_components(spark, sf_dir)


def q_dedup_near_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup: pairs (exact Jaccard ≥0.9) → clusters
    (star contraction) → anti-join the losers — the surviving corpus'
    ids. Completes the pairs→clusters→filter pipeline as one oracle-
    checked unit; the cluster stage is the shared memoized fold (the
    pairs argument is unused when components are passed — dedup_near's
    own pairs→clusters path is pinned by tests/test_functions.py)."""
    from go_cdc_spark.functions.dedup import dedup_near

    docs = _docs(spark, sf_dir)
    comp = _near_dup_components(spark, sf_dir)
    return dedup_near(docs, pairs=None, components=comp).select("doc_id")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-oracle checked: signatures are now JVM Column expressions
    whose shingle ids come from sha2(), so the DuckDB twin replays the
    whole chain — shingling, universal hashing (same inlined a/b
    constants), banding (slice equality; Spark compacts the band key
    through xxhash64, an implementation detail that cannot change the
    pair set short of a 64-bit collision), and the estimate, which is
    an exact multiple of 1/64."""
    from go_cdc_spark.functions.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs(spark, sf_dir), n_hashes=64, bands=16, threshold=0.8
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-oracle checked via the sha256 hash mode: the 60-bit
    digest-prefix token hash, bit votes, pigeonhole chunks, and hamming
    filter are all integer-exact and reproduced verbatim by the DuckDB
    twin. Production pipelines keep the default xxhash64 mode (same
    algorithm, one codegen'd long per token instead of a hex digest);
    exact bit-vote parity between the two modes is pinned by
    tests/test_functions.py."""
    from go_cdc_spark.functions.dedup import simhash_near_pairs

    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3, hash_mode="sha256")


def q_sim_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_cdc_spark.functions.similarity import brute_force_topk

    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries_df, k=10)


def q_sim_near_dup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_cdc_spark.functions.similarity import near_dup_by_cosine

    return near_dup_by_cosine(_emb(spark, sf_dir), threshold=0.45)


# The entry LSH near-dup operating POINT is auto-resolved from corpus
# size (the round-3 defect was pinning n_bits=4, which degenerates to
# near-all-pairs as N grows): bits = max(occupancy bits for ~4
# rows/bucket, the scale-free 25%-candidate-fraction floor — see
# lsh_frac_floor_bits), tables target 0.92 recall for pairs AT the
# 0.45 threshold. On the fixtures both scales resolve to bits=9,
# T=123: sf0.01 candidates ~22% of all pairs, sf0.1 ~21%, recall ≥0.95
# — candidate volume stays bounded while signature work is 2.4× below
# the round-3 occupancy-only point (11 bits → 295 tables). Honest
# note: the fixture's widest real pairs sit at cos≈0.45-0.49 (θ≈63°),
# where hyperplane LSH's ρ-exponent is poor — at N=2k the exact GEMM
# operator is still cheaper; the LSH entry is benched as the scale
# path whose work is Θ(N^(1+ρ)) vs the exact Θ(N²).
_LSH_ND_POLICY = dict(threshold=0.45, target_bucket_rows=4, target_recall=0.92)


def q_sim_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic near-dup pairs: LSH-bucket candidates, exact
    cosine verify. Exact-oracle checked via the inlined-planes SQL twin
    (same technique as sim_ann_lsh); the oracle resolves the SAME
    (n_bits, n_tables) from the corpus row count via lsh_auto_bits /
    lsh_auto_tables, so operator and twin replay identical planes."""
    from go_cdc_spark.functions.similarity import near_dup_by_cosine_lsh

    return near_dup_by_cosine_lsh(_emb(spark, sf_dir), **_LSH_ND_POLICY)


def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-oracle checked: the random hyperplanes are deterministic
    from the seed, and the DuckDB twin inlines the SAME plane constants
    (full float64 repr round-trip) — signatures, bucket join, and the
    exact cosine re-rank are replayed step for step. Recall quality vs
    brute force is separately pinned by tests/test_functions.py."""
    from go_cdc_spark.functions.similarity import lsh_ann_topk

    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return lsh_ann_topk(emb, queries_df, k=10, n_bits=3, n_tables=16)


def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-oracle checked in init-only mode (n_iters=0 + sha256 init
    ordering): centroid selection, L2 normalization, argmax cell
    assignment (stable ties → lower cid), n_probe ranking, and the
    exact cosine re-rank are all reproduced by the DuckDB twin. Lloyd
    iterations deliberately stay OUT of the oracle — their centroid
    means are FP-accumulation-order sensitive across engines — and are
    instead pinned by the production-mode recall gate in
    tests/test_functions.py."""
    from go_cdc_spark.functions.similarity import ivf_ann_topk

    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return ivf_ann_topk(
        emb, queries_df, k=10, n_centroids=16, n_probe=12,
        n_iters=0, init_hash="sha256",
    )


def q_sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table, exact-oracle checked in
    init-only mode (n_iters=0 + sha256 init): cluster assignment and
    the in-cluster lower-id ε-neighbor drop rule are replayed step for
    step by the DuckDB twin. Production-mode (Lloyd-trained) quality is
    pinned separately by tests/test_functions.py. ``keep`` emitted as
    int 0/1 so both engines canonicalize identically."""
    from go_cdc_spark.functions.similarity import semantic_dedup

    out = semantic_dedup(
        _emb(spark, sf_dir), threshold=0.4, n_centroids=16,
        n_iters=0, init_hash="sha256",
    )
    return out.select("vec_id", "cid", F.col("keep").cast("int").alias("keep"))


def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing with stubbed codec, emitted as scalar
    columns only (``features_fingerprint`` digests the float vector)
    so the harness can canonicalise every column and DuckDB can mirror
    the whole hash chain exactly."""
    from go_cdc_spark.functions.multimodal import (
        extract_features,
        features_fingerprint,
        synthetic_media,
    )

    feats = extract_features(synthetic_media(spark, 1000), codec="fake")
    return feats.select(
        "media_id",
        "kind",
        "payload_sha",
        features_fingerprint("features").alias("features_sha"),
    )


def q_mm_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: explode-based fan-out (one row per
    sampled frame) over a metadata fixture whose n_frames derivation is
    ANSI-SQL-reproducible (media_id*37 % 300 + 1 — the production
    synthetic_media uses xxhash64 meta, which DuckDB lacks). The
    exploded `sequence` must match generate-series semantics exactly,
    including the inclusive-endpoint-on-multiple case."""
    from pyspark.sql import types as T

    from go_cdc_spark.functions.multimodal import frame_sample_plan

    media = spark.range(1000).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.struct(
            ((F.col("id") * 37) % 300 + 1).cast("int").alias("n_frames")
        ).alias("meta"),
    )
    return frame_sample_plan(media, every_n=30).select(
        "media_id", F.col("frame_idx").cast("long").alias("frame_idx")
    )


# ---------------- driver contract ----------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: LWW replay of the sf0.001 event log (O13)."""
    return q_cdc_lww_replay(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order is CHEAPEST-FIRST by profiled sf0.01 wall time
    # (Spark + DuckDB oracle — `python bench.py correctness`): the
    # driver's correctness loop runs entries in this order under a time
    # budget, so if a pass is ever truncated it drops the most
    # expensive tail queries instead of whole families (the round-4
    # artifact lost 9 registry-tail rows that way). Queries sharing a
    # memoized fixture (_segmented_log_dir, _near_dup_components) are
    # ordered so the listed cost stays honest: the first family member
    # pays the build.
    return {
        "text_sample_stratified": q_text_sample_stratified,
        "text_token_count": q_text_token_count,
        "text_fingerprint": q_text_fingerprint,
        "text_split_hash": q_text_split_hash,
        "text_bpe_tokens": q_text_bpe_tokens,
        "cdc_snapshot_count": q_cdc_snapshot_count,
        "text_quality": q_text_quality,
        "text_vocab": q_text_vocab,
        "text_filter_corpus": q_text_filter_corpus,
        "cdc_rate_cap": q_cdc_rate_cap,
        "cdc_dead_letter": q_cdc_dead_letter,
        "cdc_filter_pushdown": q_cdc_filter_pushdown,
        "cdc_op_routing": q_cdc_op_routing,
        "cdc_window_rates": q_cdc_window_rates,
        "cdc_watch_threshold": q_cdc_watch_threshold,
        "cdc_delete_apply": q_cdc_delete_apply,
        "cdc_sessionize": q_cdc_sessionize,
        "sim_near_dup_cosine": q_sim_near_dup_cosine,
        "cdc_exact_dedupe": q_cdc_exact_dedupe,
        "cdc_range_scan_token": q_cdc_range_scan_token,
        "sim_ann_bruteforce": q_sim_ann_bruteforce,
        "text_repetition": q_text_repetition,
        "cdc_asof_join": q_cdc_asof_join,
        "text_pack_sequences": q_text_pack_sequences,
        "text_decontaminate": q_text_decontaminate,
        "cdc_merge_upsert": q_cdc_merge_upsert,
        "cdc_range_join": q_cdc_range_join,
        "dedup_incremental": q_dedup_incremental,
        "text_lang_id": q_text_lang_id,
        "cdc_lww_replay": q_cdc_lww_replay,
        "cdc_lww_salted": q_cdc_lww_salted,
        "text_boilerplate": q_text_boilerplate,
        "dedup_exact": q_dedup_exact,
        "mm_frame_plan": q_mm_frame_plan,
        "cdc_lineage": q_cdc_lineage,
        "sim_ann_ivf": q_sim_ann_ivf,
        "sim_semantic_dedup": q_sim_semantic_dedup,
        "dedup_jaccard": q_dedup_jaccard,
        "sim_ann_lsh": q_sim_ann_lsh,
        "dedup_simhash": q_dedup_simhash,
        "mm_features": q_mm_features,
        "cdc_point_lookup": q_cdc_point_lookup,
        "cdc_rebucket": q_cdc_rebucket,
        "cdc_changed_since": q_cdc_changed_since,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "cdc_snapshot_then_tail": q_cdc_snapshot_then_tail,
        "cdc_replay_pipeline": q_cdc_replay_pipeline,
        "sim_near_dup_lsh": q_sim_near_dup_lsh,
        "cdc_mor_compact": q_cdc_mor_compact,
        "cdc_time_travel": q_cdc_time_travel,
        "cdc_changelog": q_cdc_changelog,
        "cdc_schema_evolution": q_cdc_schema_evolution,
        "cdc_clustered_scan": q_cdc_clustered_scan,
        "dedup_winnow": q_dedup_winnow,
        "dedup_stream": q_dedup_stream,
        "dedup_components": q_dedup_components,
        "dedup_near_keep": q_dedup_near_keep,
        "cdc_incremental_snapshot": q_cdc_incremental_snapshot,
        "cdc_stateful_materialize": q_cdc_stateful_materialize,
    }


_MERSENNE_P = (1 << 31) - 1


def _minhash_oracle_sql(n_hashes=64, bands=16, shingle_len=3, threshold=0.8, seed=42) -> str:
    """DuckDB twin of q_dedup_minhash_lsh: identical shingling, sha256
    shingle ids, the SAME universal-hash constants inlined from
    _hash_params(seed), band-slice equality join, and the 1/64-exact
    estimate. Must track go_cdc_spark.functions.dedup.minhash_signatures
    / minhash_lsh_pairs step for step."""
    from go_cdc_spark.functions.dedup import _hash_params

    a, b = _hash_params(n_hashes, seed)
    rows_per_band = n_hashes // bands
    params = ", ".join(
        f"({i}, {int(ai)}, {int(bi)})" for i, (ai, bi) in enumerate(zip(a, b))
    )
    k, p = shingle_len, _MERSENNE_P
    return (
        f"WITH hp(i, a, b) AS (VALUES {params}), "
        "tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
        "t -> len(t) > 0) AS toks FROM documents), "
        f"sh AS (SELECT doc_id, CASE WHEN len(toks) >= {k} THEN "
        f"list_transform(range(1, len(toks) - {k} + 2), i -> array_to_string(toks[i:i+{k - 1}], ' ')) "
        "ELSE [array_to_string(toks, ' ')] END AS shingles FROM tk), "
        "ids AS (SELECT doc_id, list_transform(shingles, s -> "
        f"('0x' || substr(sha256(s), 1, 15))::BIGINT % {p}) AS sh_ids FROM sh), "
        "sigv AS (SELECT doc_id, hp.i, "
        f"list_min(list_transform(sh_ids, x -> (hp.a * x + hp.b) % {p})) AS v "
        "FROM ids, hp), "
        "sigs AS (SELECT doc_id, list(v ORDER BY i) AS sig FROM sigv GROUP BY doc_id), "
        f"bands AS (SELECT doc_id, sig, j, array_to_string(sig[j*{rows_per_band}+1 : "
        f"j*{rows_per_band}+{rows_per_band}], ',') AS bkey "
        f"FROM sigs, LATERAL unnest(range({bands})) t(j)), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "a.sig AS sig_a, b.sig AS sig_b FROM bands a JOIN bands b "
        "ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id), "
        "est AS (SELECT doc_a, doc_b, round(len(list_filter(range(1, "
        f"{n_hashes + 1}), i -> sig_a[i] = sig_b[i])) / {n_hashes}.0, 6) AS est_jaccard FROM cand) "
        f"SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= {threshold}"
    )


def _simhash_oracle_sql(max_hamming=3, n_bits=60) -> str:
    """DuckDB twin of q_dedup_simhash (sha256 mode): 60-bit
    digest-prefix token hashes, strict-majority bit votes, pigeonhole
    chunk join, hamming filter — all integer-exact. Tracks
    go_cdc_spark.functions.dedup.simhash_signatures / simhash_near_pairs."""
    n_chunks = max_hamming + 1
    width = -(-n_bits // n_chunks)
    mask = (1 << width) - 1
    bit_sums = ", ".join(f"sum((h >> {i}) & 1) AS b{i}" for i in range(n_bits))
    sig_terms = " + ".join(
        f"(CASE WHEN 2*b{i} > n THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i in range(n_bits)
    )
    return (
        "WITH tk AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array("
        "lower(trim(text)), '\\s+'), t -> len(t) > 0)) AS tok FROM documents), "
        "th AS (SELECT doc_id, ('0x' || substr(sha256(tok), 1, 15))::BIGINT AS h FROM tk), "
        f"votes AS (SELECT doc_id, count(*) AS n, {bit_sums} FROM th GROUP BY doc_id), "
        f"sigs0 AS (SELECT doc_id, {sig_terms} AS sig FROM votes), "
        "sigs AS (SELECT d.doc_id, coalesce(s.sig, 0::BIGINT) AS sig FROM documents d "
        "LEFT JOIN sigs0 s USING (doc_id)), "
        f"chunks AS (SELECT doc_id, sig, k, (sig >> (CAST(k AS INT) * {width})) & {mask} AS cv "
        f"FROM sigs, LATERAL unnest(range({n_chunks})) t(k)), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "a.sig AS ha, b.sig AS hb FROM chunks a JOIN chunks b "
        "ON a.k = b.k AND a.cv = b.cv AND a.doc_id < b.doc_id) "
        "SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming "
        f"FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}"
    )


def _lsh_ann_oracle_sql(n_bits=4, dim=64, seed=42, n_tables=8, k=10, max_query_id=5) -> str:
    """DuckDB twin of q_sim_ann_lsh: the SAME RandomState(seed) planes
    are inlined as literals (repr round-trips float64 exactly), bits by
    sign of the projection, per-table bucket join, exact cosine
    re-rank with the (cos DESC, neighbor_id) tie-break. Tracks
    go_cdc_spark.functions.similarity.hyperplane_signatures/lsh_ann_topk."""
    import numpy as np

    planes = np.random.RandomState(seed).standard_normal((n_tables, dim, n_bits))
    vals = ", ".join(
        f"({t}, {d}, {j}, {planes[t, d, j]!r})"
        for t in range(n_tables)
        for d in range(dim)
        for j in range(n_bits)
    )
    return (
        f"WITH pl(t, d, j, w) AS (VALUES {vals}), "
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        "comp AS (SELECT e.vec_id, pl.t, pl.j, sum(e.v[pl.d + 1] * pl.w) AS s "
        "FROM e, pl GROUP BY 1, 2, 3), "
        "bits AS (SELECT vec_id, t, sum(CASE WHEN s > 0 THEN (1::BIGINT << j) "
        "ELSE 0::BIGINT END) AS bucket FROM comp GROUP BY 1, 2), "
        "cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id "
        "FROM bits q JOIN bits c ON q.t = c.t AND q.bucket = c.bucket "
        f"WHERE q.vec_id < {max_query_id} AND c.vec_id <> q.vec_id), "
        "scored AS (SELECT cand.query_id, cand.neighbor_id, "
        "list_dot_product(qe.v, ce.v) / (sqrt(list_dot_product(qe.v, qe.v)) * "
        "sqrt(list_dot_product(ce.v, ce.v))) AS cos "
        "FROM cand JOIN e qe ON qe.vec_id = cand.query_id "
        "JOIN e ce ON ce.vec_id = cand.neighbor_id), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, neighbor_id) AS rn FROM scored) "
        "SELECT query_id, neighbor_id, round(cos, 6) AS cos_sim, "
        f"CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= {k}"
    )


def _oracle_embeddings_rows() -> int:
    """Row count of the embeddings table AT THE SCALE THE DRIVER RUNS
    THE ORACLE (sf0.01 unless overridden via SPARK_GRAFT_ORACLE_SF_DIR)
    — parquet footer metadata only, no scan. Needed because the LSH
    near-dup operating point is resolved FROM corpus size (the whole
    round-3 fix), so the SQL twin must resolve bits/tables from the
    same N the operator will see."""
    import os

    import pyarrow.parquet as pq

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    return pq.ParquetFile(os.path.join(sf_dir, "embeddings.parquet")).metadata.num_rows


def _lsh_near_dup_oracle_sql(threshold=0.45, n_bits=3, dim=64, seed=42, n_tables=16) -> str:
    """DuckDB twin of q_sim_near_dup_lsh: same inlined RandomState
    planes, per-table bucket collision candidates (doc_a < doc_b),
    exact cosine thresholded UNROUNDED, survivors rounded to 6dp —
    tracks go_cdc_spark.functions.similarity.near_dup_by_cosine_lsh."""
    import numpy as np

    planes = np.random.RandomState(seed).standard_normal((n_tables, dim, n_bits))
    vals = ", ".join(
        f"({t}, {d}, {j}, {planes[t, d, j]!r})"
        for t in range(n_tables)
        for d in range(dim)
        for j in range(n_bits)
    )
    return (
        f"WITH pl(t, d, j, w) AS (VALUES {vals}), "
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        "comp AS (SELECT e.vec_id, pl.t, pl.j, sum(e.v[pl.d + 1] * pl.w) AS s "
        "FROM e, pl GROUP BY 1, 2, 3), "
        "bits AS (SELECT vec_id, t, sum(CASE WHEN s > 0 THEN (1::BIGINT << j) "
        "ELSE 0::BIGINT END) AS bucket FROM comp GROUP BY 1, 2), "
        "cand AS (SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b "
        "FROM bits a JOIN bits b ON a.t = b.t AND a.bucket = b.bucket "
        "AND a.vec_id < b.vec_id), "
        "scored AS (SELECT doc_a, doc_b, "
        "list_dot_product(ae.v, be.v) / (sqrt(list_dot_product(ae.v, ae.v)) * "
        "sqrt(list_dot_product(be.v, be.v))) AS cos "
        "FROM cand JOIN e ae ON ae.vec_id = doc_a JOIN e be ON be.vec_id = doc_b) "
        f"SELECT doc_a, doc_b, round(cos, 6) AS cos_sim FROM scored WHERE cos >= {threshold}"
    )


def _lsh_near_dup_oracle_sql_auto() -> str:
    """Resolve the auto-scaled (n_bits, n_tables) EXACTLY as
    near_dup_by_cosine_lsh will at run time — same lsh_auto_bits /
    lsh_auto_tables calls on the oracle-scale corpus row count (parquet
    footer, no scan) — then emit the inlined-planes twin."""
    from go_cdc_spark.functions.similarity import (
        lsh_auto_bits,
        lsh_auto_tables,
        lsh_frac_floor_bits,
    )

    n = _oracle_embeddings_rows()
    bits = max(
        lsh_auto_bits(n, _LSH_ND_POLICY["target_bucket_rows"]),
        lsh_frac_floor_bits(
            _LSH_ND_POLICY["threshold"], _LSH_ND_POLICY["target_recall"]
        ),
    )
    tables = lsh_auto_tables(
        _LSH_ND_POLICY["threshold"], bits, _LSH_ND_POLICY["target_recall"]
    )
    return _lsh_near_dup_oracle_sql(
        threshold=_LSH_ND_POLICY["threshold"], n_bits=bits, n_tables=tables
    )


def _ivf_ann_oracle_sql(n_centroids=16, n_probe=6, seed=42, k=10, max_query_id=5) -> str:
    """DuckDB twin of q_sim_ann_ivf (init-only oracle mode): sha256
    init ordering, unit-normalized centroids, argmax assignment with
    (sim DESC, cid) ties, n_probe query cells, exact cosine re-rank.
    Tracks go_cdc_spark.functions.similarity.kmeans_centroids(n_iters=0)
    + _nearest_centroids + ivf_ann_topk."""
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        "init AS (SELECT vec_id, v, row_number() OVER (ORDER BY "
        f"sha256(CAST(vec_id AS VARCHAR) || ':{seed}')) AS rn FROM e), "
        "cents AS (SELECT rn - 1 AS cid, list_transform(v, x -> "
        "x / greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS c "
        f"FROM init WHERE rn <= {n_centroids}), "
        "en AS (SELECT vec_id, v, list_transform(v, x -> "
        "x / greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS vn FROM e), "
        "sims AS (SELECT en.vec_id, cents.cid, "
        "list_dot_product(en.vn, cents.c) AS sim FROM en, cents), "
        "asg AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id "
        "ORDER BY sim DESC, cid) AS rn FROM sims), "
        "c_cell AS (SELECT vec_id AS neighbor_id, cid FROM asg WHERE rn = 1), "
        f"q_cell AS (SELECT vec_id AS query_id, cid FROM asg WHERE rn <= {n_probe} "
        f"AND vec_id < {max_query_id}), "
        "cand AS (SELECT q.query_id, c.neighbor_id FROM q_cell q "
        "JOIN c_cell c USING (cid) WHERE c.neighbor_id <> q.query_id), "
        "scored AS (SELECT cand.query_id, cand.neighbor_id, "
        "list_dot_product(qe.v, ce.v) / (sqrt(list_dot_product(qe.v, qe.v)) * "
        "sqrt(list_dot_product(ce.v, ce.v))) AS cos "
        "FROM cand JOIN e qe ON qe.vec_id = cand.query_id "
        "JOIN e ce ON ce.vec_id = cand.neighbor_id), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, neighbor_id) AS rn FROM scored) "
        "SELECT query_id, neighbor_id, round(cos, 6) AS cos_sim, "
        f"CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= {k}"
    )


def _semantic_dedup_oracle_sql(n_centroids=16, seed=42, threshold=0.4) -> str:
    """DuckDB twin of q_sim_semantic_dedup (init-only oracle mode):
    sha256 init ordering, unit-normalized centroids, argmax cell
    assignment with (sim DESC, cid) ties, then the SemDeDup drop rule —
    a row is dropped iff a LOWER-id row in the SAME cluster has cosine
    ≥ threshold. Tracks semantic_dedup(n_iters=0, init_hash='sha256')."""
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        "init AS (SELECT vec_id, v, row_number() OVER (ORDER BY "
        f"sha256(CAST(vec_id AS VARCHAR) || ':{seed}')) AS rn FROM e), "
        "cents AS (SELECT rn - 1 AS cid, list_transform(v, x -> "
        "x / greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS c "
        f"FROM init WHERE rn <= {n_centroids}), "
        "en AS (SELECT vec_id, list_transform(v, x -> "
        "x / greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS vn FROM e), "
        "sims AS (SELECT en.vec_id, cents.cid, "
        "list_dot_product(en.vn, cents.c) AS sim FROM en, cents), "
        "asg AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id "
        "ORDER BY sim DESC, cid) AS rn FROM sims), "
        "cell AS (SELECT vec_id, cid FROM asg WHERE rn = 1), "
        "drops AS (SELECT DISTINCT a.vec_id FROM cell a "
        "JOIN cell b ON a.cid = b.cid AND b.vec_id < a.vec_id "
        "JOIN en an ON an.vec_id = a.vec_id JOIN en bn ON bn.vec_id = b.vec_id "
        f"WHERE list_dot_product(an.vn, bn.vn) >= {threshold}) "
        "SELECT cell.vec_id, CAST(cell.cid AS INTEGER) AS cid, "
        "CAST(drops.vec_id IS NULL AS INTEGER) AS keep "
        "FROM cell LEFT JOIN drops ON drops.vec_id = cell.vec_id"
    )


def oracle_sql() -> dict[str, str]:
    from go_cdc_spark.functions.text import BPE_PATTERN

    bpe_sql = BPE_PATTERN.replace("'", "''")
    live_select = (
        "SELECT user_id, event_id AS last_event_id, event_type AS last_event_type, "
        "round(value, 2) AS last_value FROM r WHERE rn = 1 AND op <> 'd'"
    )
    return {
        "cdc_lww_replay": _LWW_RANKED_SQL + live_select,
        "cdc_filter_pushdown": (
            "SELECT event_id, user_id, round(value, 2) AS value_r FROM events "
            "WHERE event_type = 'click' AND value >= 250.0"
        ),
        "cdc_range_scan_token": (
            f"SELECT event_id, user_id, event_type FROM events "
            f"WHERE ts > TIMESTAMP '{_TOKEN_TS}' "
            f"OR (ts = TIMESTAMP '{_TOKEN_TS}' AND event_id > 0)"
        ),
        "cdc_rate_cap": (
            f"SELECT event_id, user_id FROM events WHERE ts > TIMESTAMP '{_TOKEN_TS}' "
            f"ORDER BY ts, event_id LIMIT 1000"
        ),
        "cdc_exact_dedupe": "SELECT DISTINCT user_id, event_type FROM events",
        "cdc_op_routing": (
            f"SELECT {_OP_SQL} AS op, CAST(count(*) AS BIGINT) AS n "
            f"FROM events GROUP BY 1"
        ),
        "cdc_dead_letter": (
            "SELECT event_id, user_id, CASE WHEN event_id % 97 = 0 THEN 'x' END AS op "
            "FROM events WHERE event_id % 97 = 0 OR event_id % 89 = 0"
        ),
        # native ASOF LEFT JOIN vs our union+window formulation; right
        # (user, ts) ties pre-reduced to the highest event_id, matching
        # the Spark side's tiebreak_cols=["event_id"]
        "cdc_asof_join": (
            "WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'), "
            "r0 AS (SELECT user_id, ts, round(value, 2) AS pval, "
            "row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn "
            "FROM events WHERE event_type = 'purchase'), "
            "r AS (SELECT user_id, ts, pval FROM r0 WHERE rn = 1) "
            "SELECT l.event_id, l.user_id, r.pval AS last_purchase_value "
            "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"
        ),
        # plain inequality join as the oracle for the bucketed equi-join
        "cdc_range_join": (
            "WITH l AS (SELECT event_id AS click_id, user_id, "
            "CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events WHERE event_type = 'click'), "
            "r AS (SELECT event_id AS purchase_id, user_id, "
            "CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events WHERE event_type = 'purchase') "
            "SELECT l.click_id, r.purchase_id, l.user_id FROM l JOIN r "
            "ON l.user_id = r.user_id AND l.t >= r.s AND l.t <= r.s + 3600"
        ),
        "cdc_snapshot_count": "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM events",
        "cdc_merge_upsert": _LWW_RANKED_SQL + live_select,
        "cdc_delete_apply": (
            _LWW_RANKED_SQL
            + "SELECT user_id, event_id AS deleted_at_event FROM r WHERE rn = 1 AND op = 'd'"
        ),
        "cdc_watch_threshold": (
            "WITH first_n AS (SELECT * FROM events ORDER BY ts, event_id LIMIT 500) "
            "SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
            "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
            "FROM first_n GROUP BY event_type"
        ),
        # full-engine replay vs single-shot SQL replay (event_id is
        # monotone in ts, so ordering by event_id ≡ (ts, event_id))
        "cdc_replay_pipeline": (
            f"WITH ev AS (SELECT user_id, event_id, event_type, round(value,2) AS value, "
            f"{_OP_SQL} AS op FROM events), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn FROM ev) "
            "SELECT user_id, event_type AS last_event_type, value AS last_value "
            "FROM r WHERE rn = 1 AND op <> 'd'"
        ),
        # MoR ingest + compact() fold must equal the same single-shot
        # replay — the maintenance pass may not change the logical view
        "cdc_mor_compact": (
            f"WITH ev AS (SELECT user_id, event_id, event_type, round(value,2) AS value, "
            f"{_OP_SQL} AS op FROM events), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn FROM ev) "
            "SELECT user_id, event_type AS last_event_type, value AS last_value "
            "FROM r WHERE rn = 1 AND op <> 'd'"
        ),
        # AS-OF read after epochs 0-1: replay only events whose segment
        # floor(event_id*4/(max+1)) <= 1 — the prefix those epochs hold
        "cdc_time_travel": (
            f"WITH mx AS (SELECT max(event_id) + 1 AS m FROM events), "
            f"pre AS (SELECT e.* FROM events e, mx "
            f"WHERE CAST(floor(e.event_id * 4.0 / mx.m) AS BIGINT) <= 1), "
            f"ev AS (SELECT user_id, event_id, event_type, round(value,2) AS value, "
            f"{_OP_SQL} AS op FROM pre), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn FROM ev) "
            "SELECT user_id, event_type AS last_event_type, value AS last_value "
            "FROM r WHERE rn = 1 AND op <> 'd'"
        ),
        # CDF diff: LWW-live state over the first half of the log vs the
        # full log, FULL OUTER JOIN on key, unchanged rows dropped
        "cdc_changelog": (
            f"WITH mx AS (SELECT max(event_id) + 1 AS m FROM events), "
            f"ev AS (SELECT user_id, event_id, event_type, round(value,2) AS value, "
            f"{_OP_SQL} AS op, CAST(floor(event_id * 2.0 / mx.m) AS BIGINT) AS seg "
            "FROM events, mx), "
            "r_old AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn "
            "FROM ev WHERE seg <= 0), "
            "s_old AS (SELECT user_id, event_type, value FROM r_old WHERE rn = 1 AND op <> 'd'), "
            "r_new AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn FROM ev), "
            "s_new AS (SELECT user_id, event_type, value FROM r_new WHERE rn = 1 AND op <> 'd') "
            "SELECT coalesce(o.user_id, n.user_id) AS user_id, "
            "CASE WHEN o.user_id IS NULL THEN 'insert' "
            "WHEN n.user_id IS NULL THEN 'delete' ELSE 'update' END AS change_type, "
            "n.event_type AS last_event_type, n.value AS last_value "
            "FROM s_old o FULL OUTER JOIN s_new n ON o.user_id = n.user_id "
            "WHERE o.user_id IS NULL OR n.user_id IS NULL "
            "OR o.event_type IS DISTINCT FROM n.event_type "
            "OR o.value IS DISTINCT FROM n.value"
        ),
        "cdc_lww_salted": (
            f"WITH ev AS (SELECT user_id, event_id, event_type, round(value,2) AS value, "
            f"{_OP_SQL} AS op FROM events), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn FROM ev) "
            "SELECT user_id, event_type AS last_event_type, value AS last_value "
            "FROM r WHERE rn = 1 AND op <> 'd'"
        ),
        # clustered compact + file-skipping range read: pruning must be
        # invisible — equal to the plain replay filtered to the range
        "cdc_clustered_scan": (
            f"WITH ev AS (SELECT user_id, event_id, event_type, round(value,2) AS value, "
            f"{_OP_SQL} AS op FROM events), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn FROM ev) "
            "SELECT user_id, event_type AS last_event_type, value AS last_value "
            "FROM r WHERE rn = 1 AND op <> 'd' AND value BETWEEN 100.0 AND 250.0"
        ),
        # stateful streaming materializer: per-key state-store LWW over
        # 4 micro-batches must equal the single-shot SQL replay
        "cdc_stateful_materialize": (
            f"WITH ev AS (SELECT user_id, event_id, event_type, round(value,2) AS value, "
            f"{_OP_SQL} AS op FROM events), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn FROM ev) "
            "SELECT user_id, event_type AS last_event_type, value AS last_value "
            "FROM r WHERE rn = 1 AND op <> 'd'"
        ),
        "cdc_schema_evolution": (
            f"WITH ev AS (SELECT user_id, event_id, ts, event_type, round(value,2) AS value, "
            f"{_OP_SQL} AS op FROM events), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn FROM ev) "
            "SELECT user_id, event_type AS last_event_type, "
            f"CASE WHEN ts >= TIMESTAMP '{_SPLIT}' "
            "THEN CAST(round(value * 100) AS BIGINT) END AS value_cents "
            "FROM r WHERE rn = 1 AND op <> 'd'"
        ),
        # F.window's tumbling 10-min grid is epoch-aligned (UTC origin),
        # so window_start ≡ floor(epoch/600)*600 exactly
        "cdc_window_rates": (
            # floor(): unix_timestamp TRUNCATES sub-second parts while a
            # DuckDB double->BIGINT cast ROUNDS — boundary events differ
            f"SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 600) * 600 AS window_start, "
            f"{_OP_SQL} AS op, CAST(count(*) AS BIGINT) AS n_events, "
            "round(count(*) / 600.0, 6) AS events_per_sec "
            "FROM events GROUP BY 1, 2"
        ),
        # lineage truth: raw-event count + HWM per log half
        "cdc_lineage": (
            "WITH mx AS (SELECT max(event_id) + 1 AS m FROM events), "
            "ev AS (SELECT event_id, CAST(floor(event_id * 2.0 / mx.m) AS BIGINT) AS seg "
            "FROM events, mx) "
            "SELECT seg AS epoch, CAST(count(*) AS BIGINT) AS n_events, "
            "max(event_id) AS hwm_seq FROM ev GROUP BY seg"
        ),
        # lag + cumulative-flag sessionization, (ts, event_id) tie order
        "cdc_sessionize": (
            "WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id FROM events), "
            "l AS (SELECT *, lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt FROM e), "
            "f AS (SELECT *, CASE WHEN pt IS NULL OR t - pt > 1800 THEN 1 ELSE 0 END AS ns FROM l), "
            "s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id "
            "ROWS UNBOUNDED PRECEDING) AS sid FROM f) "
            "SELECT user_id, CAST(sid AS BIGINT) AS session_seq, min(t) AS session_start, "
            "max(t) AS session_end, CAST(count(*) AS BIGINT) AS n_events "
            "FROM s GROUP BY user_id, sid"
        ),
        "cdc_snapshot_then_tail": (
            f"WITH ev AS (SELECT user_id, event_id, event_type, round(value,2) AS value, "
            f"{_OP_SQL} AS op FROM events), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn FROM ev) "
            "SELECT user_id, event_type AS last_event_type, value AS last_value "
            "FROM r WHERE rn = 1 AND op <> 'd'"
        ),
        # bucket-pruned point read: LWW winners for the 5 requested keys
        "cdc_point_lookup": (
            f"WITH ev AS (SELECT user_id, event_id, event_type, round(value,2) AS value, "
            f"{_OP_SQL} AS op FROM events), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn FROM ev) "
            "SELECT user_id, event_type AS last_event_type, value AS last_value "
            "FROM r WHERE rn = 1 AND op <> 'd' AND user_id IN (1, 2, 3, 4, 5)"
        ),
        # mid-stream bucket-layout flip must be invisible in final state
        "cdc_rebucket": (
            f"WITH ev AS (SELECT user_id, event_id, event_type, round(value,2) AS value, "
            f"{_OP_SQL} AS op FROM events), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn FROM ev) "
            "SELECT user_id, event_type AS last_event_type, value AS last_value "
            "FROM r WHERE rn = 1 AND op <> 'd'"
        ),
        # incremental consumer scan: winners strictly past the cutoff,
        # tombstones included (op visible)
        "cdc_changed_since": (
            f"WITH ev AS (SELECT user_id, event_id, event_type, round(value,2) AS value, "
            f"{_OP_SQL} AS op FROM events), "
            f"x AS (SELECT max(event_id) AS cut FROM events WHERE ts < TIMESTAMP '{_SPLIT}'), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn FROM ev) "
            "SELECT user_id, op, event_type AS last_event_type, value AS last_value "
            "FROM r, x WHERE rn = 1 AND event_id > x.cut"
        ),
        # chunked-snapshot + tail must converge to the same single-shot
        # LWW state — the DBLog watermark contract
        "cdc_incremental_snapshot": (
            f"WITH ev AS (SELECT user_id, event_id, event_type, round(value,2) AS value, "
            f"{_OP_SQL} AS op FROM events), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn FROM ev) "
            "SELECT user_id, event_type AS last_event_type, value AS last_value "
            "FROM r WHERE rn = 1 AND op <> 'd'"
        ),
        "text_token_count": (
            "SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
            "ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens "
            "FROM documents"
        ),
        "text_quality": (
            "WITH q AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_q, "
            "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
            "ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens, "
            "length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct FROM documents) "
            "SELECT doc_id, n_chars_q, n_tokens, "
            "round(n_punct * 100.0 / greatest(n_chars_q, 1), 4) AS punct_per_100_chars, "
            "round((n_chars_q - (n_tokens - 1)) / greatest(n_tokens, 1), 4) AS mean_token_len "
            "FROM q"
        ),
        "text_lang_id": (
            "WITH s AS (SELECT doc_id, lang, "
            "len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) s_en, "
            "len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist)\\b')) s_de, "
            "len(regexp_extract_all(lower(text), '\\b(le|la|les|et|est)\\b')) s_fr, "
            "len(regexp_extract_all(lower(text), '\\b(el|los|las|y|es)\\b')) s_es, "
            "len(regexp_extract_all(text, '[一-鿿]')) s_zh FROM documents) "
            "SELECT doc_id, lang, CASE WHEN s_zh > 0 THEN 'zh' "
            "WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en' "
            "WHEN s_de >= s_fr AND s_de >= s_es THEN 'de' "
            "WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_guess FROM s"
        ),
        "text_fingerprint": (
            "SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp "
            "FROM documents"
        ),
        "text_bpe_tokens": (
            f"SELECT doc_id, CAST(len(regexp_extract_all(text, '{bpe_sql}')) "
            "AS BIGINT) AS n_bpe_tokens FROM documents"
        ),
        # sequential definition of concat-and-chunk packing: one global
        # window cumsum; the Spark side must reproduce it partition-parallel
        "text_pack_sequences": (
            "WITH t AS (SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
            "ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens "
            "FROM documents), "
            "c AS (SELECT doc_id, n_tokens, coalesce(sum(n_tokens) OVER "
            "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s FROM t) "
            "SELECT doc_id, n_tokens, CAST(s // 512 AS BIGINT) AS seq_id, "
            "CAST(s % 512 AS BIGINT) AS seq_pos FROM c"
        ),
        "text_vocab": (
            "WITH tk AS (SELECT unnest(list_filter(regexp_split_to_array("
            "lower(trim(text)), '\\s+'), t -> len(t) > 0)) AS token FROM documents), "
            "c AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tk GROUP BY token) "
            "SELECT token, freq FROM c ORDER BY freq DESC, token LIMIT 50"
        ),
        "text_filter_corpus": (
            "WITH q AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars_q, "
            "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
            "ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens, "
            "length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct FROM documents), "
            "s AS (SELECT *, round(n_punct * 100.0 / greatest(n_chars_q, 1), 4) AS punct_per_100_chars, "
            "len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) s_en, "
            "len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist)\\b')) s_de, "
            "len(regexp_extract_all(lower(text), '\\b(le|la|les|et|est)\\b')) s_fr, "
            "len(regexp_extract_all(lower(text), '\\b(el|los|las|y|es)\\b')) s_es, "
            "len(regexp_extract_all(text, '[一-鿿]')) s_zh FROM q) "
            "SELECT doc_id, n_tokens, punct_per_100_chars FROM s "
            "WHERE n_tokens BETWEEN 40 AND 80 AND punct_per_100_chars <= 25.0 "
            "AND s_zh = 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es"
        ),
        # word-level Gopher repetition signals: exact long counts only
        # (ratio columns stay out of the hash — float-rounding ties)
        "text_repetition": (
            "WITH t AS (SELECT doc_id, "
            "list_filter(string_split(text, ' '), w -> len(w) > 0) AS w FROM documents), "
            "base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, "
            "CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_words, w FROM t "
            "WHERE len(w) >= 2), "
            "b AS (SELECT doc_id, n_words, n_distinct_words, "
            "unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg "
            "FROM base), "
            "c AS (SELECT doc_id, n_words, n_distinct_words, bg, count(*) AS n "
            "FROM b GROUP BY 1, 2, 3, 4) "
            "SELECT doc_id, n_words, n_distinct_words, "
            "CAST(max(n) AS BIGINT) AS top_bigram_n, CAST(sum(n) AS BIGINT) AS n_bigrams "
            "FROM c GROUP BY doc_id, n_words, n_distinct_words"
        ),
        "text_sample_stratified": (
            "WITH h AS (SELECT doc_id, lang, ('0x' || substr(sha256("
            "CAST(doc_id AS VARCHAR) || ':sample'), 1, 15))::BIGINT AS hv FROM documents) "
            f"SELECT doc_id, lang FROM h WHERE hv < CASE lang "
            f"WHEN 'en' THEN {int(0.25 * (1 << 60))} "
            f"WHEN 'zh' THEN {int(0.5 * (1 << 60))} ELSE {1 << 60} END"
        ),
        "text_decontaminate": (
            "WITH words AS (SELECT doc_id, "
            "list_filter(string_split(lower(text), ' '), w -> len(w) > 0) AS ws FROM documents), "
            "grams AS (SELECT doc_id, CASE WHEN len(ws) >= 8 THEN "
            "list_distinct(list_transform(generate_series(1, len(ws) - 7), "
            "i -> list_aggr(ws[i:i+7], 'string_agg', ' '))) "
            "ELSE []::VARCHAR[] END AS gs FROM words), "
            "bench AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 29 = 0), "
            "train AS (SELECT doc_id, gs FROM grams WHERE doc_id % 29 <> 0), "
            "matched AS (SELECT e.doc_id, count(*) AS n_matched FROM "
            "(SELECT doc_id, unnest(gs) AS g FROM train) e JOIN bench USING (g) GROUP BY 1) "
            "SELECT t.doc_id, CAST(len(t.gs) AS BIGINT) AS n_grams, "
            "CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched, "
            "coalesce(m.n_matched, 0) > 0 AS contaminated "
            "FROM train t LEFT JOIN matched m ON t.doc_id = m.doc_id"
        ),
        "text_boilerplate": (
            "WITH words AS (SELECT doc_id, "
            "list_filter(string_split(lower(text), ' '), w -> len(w) > 0) AS ws FROM documents), "
            "grams AS (SELECT doc_id, CASE WHEN len(ws) >= 5 THEN "
            "list_distinct(list_transform(generate_series(1, len(ws) - 4), "
            "i -> list_aggr(ws[i:i+4], 'string_agg', ' '))) "
            "ELSE []::VARCHAR[] END AS gs FROM words), "
            "ex AS (SELECT doc_id, unnest(gs) AS g FROM grams), "
            "common AS (SELECT g FROM ex GROUP BY g HAVING count(*) > 3), "
            "percd AS (SELECT ex.doc_id, count(*) AS n FROM ex "
            "JOIN common USING (g) GROUP BY 1) "
            "SELECT gr.doc_id, CAST(len(gr.gs) AS BIGINT) AS n_grams, "
            "CAST(coalesce(c.n, 0) AS BIGINT) AS n_common_grams "
            "FROM grams gr LEFT JOIN percd c ON gr.doc_id = c.doc_id"
        ),
        "dedup_stream": (
            "WITH fps AS (SELECT doc_id, doc_id % 4 AS seg, "
            "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp FROM documents), "
            "r AS (SELECT doc_id, fp, row_number() OVER "
            "(PARTITION BY fp ORDER BY seg, doc_id) AS rn FROM fps) "
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, fp FROM r WHERE rn = 1"
        ),
        "dedup_incremental": (
            "WITH fps AS (SELECT doc_id, "
            "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp FROM documents), "
            "idx AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 3 = 0), "
            "fresh AS (SELECT doc_id, fp FROM fps WHERE doc_id % 3 <> 0 "
            "AND fp NOT IN (SELECT fp FROM idx)) "
            "SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, fp FROM fresh GROUP BY fp"
        ),
        "text_split_hash": (
            "WITH h AS (SELECT doc_id, ('0x' || substr(sha256("
            "CAST(doc_id AS VARCHAR) || ':split'), 1, 15))::BIGINT AS hv FROM documents) "
            f"SELECT doc_id, CASE WHEN hv < {int(0.9 * (1 << 60))} THEN 'train' "
            f"WHEN hv < {int(0.95 * (1 << 60))} THEN 'val' ELSE 'test' END AS split FROM h"
        ),
        "dedup_exact": (
            "SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp, "
            "CAST(min(doc_id) AS BIGINT) AS canonical_id, "
            "CAST(count(*) AS BIGINT) AS group_size FROM documents GROUP BY 1"
        ),
        # same pair derivation as dedup_jaccard, then components via a
        # recursive transitive-closure CTE (UNION dedup terminates it);
        # component = min reachable id, matching star contraction
        "dedup_components": (
            "WITH RECURSIVE toks AS (SELECT doc_id, unnest(list_distinct(string_split_regex("
            "lower(trim(text)), '\\s+'))) AS token FROM documents), "
            "tk AS (SELECT doc_id, token FROM toks WHERE length(token) > 0), "
            "sizes AS (SELECT doc_id, count(*) AS n_tok FROM tk GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common "
            "FROM tk a JOIN tk b ON a.token = b.token AND a.doc_id < b.doc_id GROUP BY 1, 2), "
            "pairs AS (SELECT doc_a, doc_b FROM inter "
            "JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id "
            "WHERE round(n_common * 1.0 / (sa.n_tok + sb.n_tok - n_common), 6) >= 0.9), "
            "sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs "
            "UNION SELECT doc_b, doc_a FROM pairs), "
            "reach(src, dst) AS (SELECT u, v FROM sym "
            "UNION SELECT r.src, s.v FROM reach r JOIN sym s ON r.dst = s.u) "
            "SELECT src AS doc_id, least(src, min(dst)) AS component "
            "FROM reach GROUP BY src"
        ),
        # survivors: all docs minus non-canonical cluster members
        "dedup_near_keep": (
            "WITH RECURSIVE toks AS (SELECT doc_id, unnest(list_distinct(string_split_regex("
            "lower(trim(text)), '\\s+'))) AS token FROM documents), "
            "tk AS (SELECT doc_id, token FROM toks WHERE length(token) > 0), "
            "sizes AS (SELECT doc_id, count(*) AS n_tok FROM tk GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common "
            "FROM tk a JOIN tk b ON a.token = b.token AND a.doc_id < b.doc_id GROUP BY 1, 2), "
            "pairs AS (SELECT doc_a, doc_b FROM inter "
            "JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id "
            "WHERE round(n_common * 1.0 / (sa.n_tok + sb.n_tok - n_common), 6) >= 0.9), "
            "sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs "
            "UNION SELECT doc_b, doc_a FROM pairs), "
            "reach(src, dst) AS (SELECT u, v FROM sym "
            "UNION SELECT r.src, s.v FROM reach r JOIN sym s ON r.dst = s.u), "
            "comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component "
            "FROM reach GROUP BY src) "
            "SELECT d.doc_id FROM documents d "
            "WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)"
        ),
        "dedup_jaccard": (
            "WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split_regex("
            "lower(trim(text)), '\\s+'))) AS token FROM documents), "
            "tk AS (SELECT doc_id, token FROM toks WHERE length(token) > 0), "
            "sizes AS (SELECT doc_id, count(*) AS n_tok FROM tk GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common "
            "FROM tk a JOIN tk b ON a.token = b.token AND a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT doc_a, doc_b, "
            "round(n_common * 1.0 / (sa.n_tok + sb.n_tok - n_common), 6) AS jaccard "
            "FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id "
            "WHERE round(n_common * 1.0 / (sa.n_tok + sb.n_tok - n_common), 6) >= 0.9"
        ),
        "sim_ann_bruteforce": (
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
            "q AS (SELECT * FROM e WHERE vec_id < 5), "
            "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
            "list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * "
            "sqrt(list_dot_product(c.v, c.v))) AS cos FROM e c, q WHERE c.vec_id <> q.vec_id), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos DESC, neighbor_id) AS rn FROM scored) "
            "SELECT query_id, neighbor_id, round(cos, 6) AS cos_sim, "
            "CAST(rn AS INTEGER) AS rank FROM r WHERE rn <= 10"
        ),
        "sim_near_dup_cosine": (
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) "
            "SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, "
            "round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * "
            "sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim "
            "FROM e a JOIN e b ON a.vec_id < b.vec_id "
            "WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * "
            "sqrt(list_dot_product(b.v, b.v))) >= 0.45"
        ),
        "dedup_winnow": (
            # Exact SQL twin of MOSS winnowing (k=8, window=4): the
            # base-257 rolling hash is a plain weighted byte sum. Max
            # for ASCII (byte ≤ 127): 127·Σ257^j(j<8) ≈ 9.4e18 — UNDER
            # 2^64 ≈ 1.84e19, so the Spark UDF's uint64 arithmetic never
            # wraps and DuckDB's HUGEINT computes the identical integer
            # (it can exceed 2^63, which is fine: only hash-EQUALITY
            # classes — shared-fp pair counts — are compared, never the
            # signed-reinterpreted values). The guard CTE asserts the
            # precondition: pure ASCII docs (octet_length == length and
            # every codepoint ≤ 127 ⇒ unicode(char) == utf-8 byte and
            # no wraparound) — a non-ASCII corpus fails LOUDLY via
            # error() instead of silently diverging.
            "WITH guard AS (SELECT CASE WHEN bool_or(octet_length(encode(text)) <> length(text)) "
            "OR max(unicode(g.c)) > 127 THEN error('winnow oracle requires pure-ASCII docs') "
            "ELSE 1 END AS ok FROM documents, LATERAL unnest(split(text, '')) AS g(c)), "
            "d AS (SELECT doc_id, text, length(text) AS L FROM documents, guard WHERE guard.ok = 1), "
            "g AS (SELECT doc_id, CAST(t.i AS INT) AS i, "
            "list_sum(list_transform(range(8), j -> "
            "CAST(unicode(substr(text, CAST(t.i + j + 1 AS INT), 1)) AS HUGEINT) * "
            "([74051159531521793, 288136807515649, 1121154893057, 4362470401, "
            "16974593, 66049, 257, 1])[CAST(j+1 AS INT)])) AS h "
            "FROM d, LATERAL unnest(range(L - 7)) AS t(i) WHERE L >= 8), "
            "gn AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id), "
            "wins AS (SELECT g1.doc_id, g1.i AS w, g2.h, g2.i AS j, "
            "row_number() OVER (PARTITION BY g1.doc_id, g1.i "
            "ORDER BY g2.h ASC, g2.i DESC) AS rn "
            "FROM g g1 JOIN gn ON gn.doc_id = g1.doc_id AND gn.n_grams >= 4 "
            "JOIN g g2 ON g2.doc_id = g1.doc_id AND g2.i BETWEEN g1.i AND g1.i + 3 "
            "WHERE g1.i <= gn.n_grams - 4), "
            "short_docs AS (SELECT g.doc_id, g.h FROM g "
            "JOIN gn ON gn.doc_id = g.doc_id AND gn.n_grams < 4), "
            "fps AS (SELECT DISTINCT doc_id, h FROM wins WHERE rn = 1 "
            "UNION SELECT DISTINCT doc_id, h FROM short_docs), "
            "ndocs AS (SELECT count(*) AS n FROM documents), "
            "freq AS (SELECT h, count(*) AS df FROM fps GROUP BY h), "
            "rare AS (SELECT fps.doc_id, fps.h FROM fps "
            "JOIN freq ON freq.h = fps.h, ndocs "
            "WHERE freq.df <= greatest(CAST(ceil(ndocs.n * 0.005) AS BIGINT), 100)), "
            "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "CAST(count(*) AS BIGINT) AS n_shared "
            "FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id "
            "GROUP BY 1, 2) "
            "SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= 5"
        ),
        "mm_features": (
            # Mirrors the fake codec exactly: payload = sha256 digest of
            # 'payload{id}'; payload_sha = sha256 of its lowercase hex;
            # the 16 uint16 features are the payload_sha digest bytes, so
            # the quantised-vector fingerprint is sha256(payload_sha).
            "WITH m AS (SELECT range AS media_id, "
            "CASE range % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, "
            "unhex(sha256('payload' || CAST(range AS VARCHAR))) AS payload "
            "FROM range(1000)), "
            "h AS (SELECT media_id, kind, sha256(lower(hex(payload))) AS payload_sha FROM m) "
            "SELECT media_id, kind, payload_sha, sha256(payload_sha) AS features_sha FROM h"
        ),
        # approximate ops, exact twins: "approximate" describes their
        # relation to true Jaccard / true top-k, not nondeterminism —
        # with fixed seeds every step is reproducible, so each gets a
        # full DuckDB twin (recall quality vs the exact counterparts is
        # separately pinned by tests/test_functions.py)
        "dedup_minhash_lsh": _minhash_oracle_sql(),
        "dedup_simhash": _simhash_oracle_sql(),
        "sim_ann_lsh": _lsh_ann_oracle_sql(n_bits=3, n_tables=16),
        "sim_near_dup_lsh": _lsh_near_dup_oracle_sql_auto(),
        "sim_ann_ivf": _ivf_ann_oracle_sql(n_probe=12),
        "sim_semantic_dedup": _semantic_dedup_oracle_sql(),
        # explode fan-out vs generate-series; Spark sequence() is
        # endpoint-inclusive when it lands on a step multiple, DuckDB
        # range() is stop-exclusive — hence the +1
        "mm_frame_plan": (
            "WITH m AS (SELECT media_id, (media_id * 37) % 300 + 1 AS nf "
            "FROM range(1000) t(media_id) WHERE media_id % 3 = 2) "
            "SELECT media_id, CAST(unnest(range(0, greatest(nf - 1, 0) + 1, 30)) AS BIGINT) "
            "AS frame_idx FROM m"
        ),
    }
