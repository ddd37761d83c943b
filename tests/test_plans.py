"""Plan-shape assertions: pushdown, pruning, shuffle budget, codegen.

These lock in the scale properties: a filter that stops reaching the
scan or an extra shuffle in the LWW path is a perf regression even if
results stay correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_cdc_spark import schemas
from go_cdc_spark.genlog import LogSpec, write_segments
from go_cdc_spark.operators.resolve import apply_filters, from_token, lww_resolve
from go_cdc_spark.plans.inspect import (
    codegen_stage_count,
    has_pushed_filter,
    pushed_filters,
    reads_only_columns,
    shuffle_count,
)

K, O, P = schemas.KEY_COLS, schemas.ORDER_COLS, schemas.PAYLOAD_COLS


def _log(spark, tmpdir_path):
    write_segments(spark, LogSpec(n_events=2_000, segment_events=1_000, seed=5), tmpdir_path)
    return spark.read.parquet(tmpdir_path)


def test_config_filter_reaches_scan(spark, tmpdir_path):
    # ≙ reference pushing filters into Mongo Find (collection.go:52-66)
    df = apply_filters(_log(spark, tmpdir_path), [("repo", "$eq", "repo_00001")])
    assert has_pushed_filter(df, "EqualTo(repo,repo_00001)"), pushed_filters(df)


def test_token_range_filter_reaches_scan(spark, tmpdir_path):
    df = from_token(_log(spark, tmpdir_path), (1_700_000_000, 500, 500))
    # tuple compare decomposes into ts_t >= bound pushed to the scan
    assert "ts_t" in pushed_filters(df), pushed_filters(df)


def test_column_pruning(spark, tmpdir_path):
    df = _log(spark, tmpdir_path).select("repo", "seq")
    assert reads_only_columns(df, {"repo", "seq", "segment"})


def test_lww_is_single_shuffle_and_codegen(spark, tmpdir_path):
    df = lww_resolve(_log(spark, tmpdir_path).drop("segment"), K, O, P)
    assert shuffle_count(df) == 1, "LWW reduce must be exactly one shuffle"
    assert codegen_stage_count(df) >= 1


def test_salted_lww_is_two_shuffles(spark, tmpdir_path):
    df = lww_resolve(_log(spark, tmpdir_path).drop("segment"), K, O, P, salt_partitions=8)
    assert shuffle_count(df) == 2, "salted reduce = partial + final shuffle"


def test_events_query_filter_pushdown(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    q = ev.filter((ev.event_type == "click") & (ev.value >= 250.0)).select("event_id")
    pf = pushed_filters(q)
    assert "EqualTo(event_type,click)" in pf and "GreaterThanOrEqual(value,250.0)" in pf
    assert reads_only_columns(q, {"event_id", "event_type", "value"})


def test_pack_sequences_plan_broadcasts_offsets(spark):
    """The packing cumsum must broadcast the O(P) offset table (never
    shuffle the corpus for that join) and stay within its two planned
    shuffles (range repartition + per-pid window)."""
    from go_cdc_spark.functions.text import pack_sequences
    from go_cdc_spark.plans.inspect import formatted_plan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pack_sequences(docs, budget=512, n_partitions=4)
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert shuffle_count(out) <= 2, formatted_plan(out)


def test_vocab_topk_plan_heap_and_partial_agg(spark):
    """Global top-k must plan as TakeOrderedAndProject (per-partition
    heaps, no full vocab sort) with a map-side partial count."""
    from go_cdc_spark.functions.text import vocab_top_k
    from go_cdc_spark.plans.inspect import formatted_plan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = vocab_top_k(docs, k=50)
    plan = formatted_plan(out)
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan, plan


def test_filter_corpus_plan_no_shuffle(spark):
    """The quality gate is one codegen'd scan predicate — no shuffle,
    no Python."""
    from go_cdc_spark.functions.text import filter_corpus
    from go_cdc_spark.plans.inspect import codegen_stage_count

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = filter_corpus(docs, min_tokens=40, max_tokens=80, langs=("en",))
    assert shuffle_count(out) == 0
    assert codegen_stage_count(out) >= 1


def test_boilerplate_single_corpus_scan(spark):
    """The doc-frequency aggregate and the join's left side must share
    ONE materialized gram pass — the final plan reads the checkpointed
    (id, grams) blocks and never re-scans the parquet source (the
    round-4 defect was two full scan+regex+explode executions)."""
    from go_cdc_spark.functions.text import boilerplate_score
    from go_cdc_spark.plans.inspect import formatted_plan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = boilerplate_score(docs, n=5, df_threshold=3)
    plan = formatted_plan(out)
    assert "Scan parquet" not in plan, plan


def test_split_bad_records_good_side_pushdown(spark, tmpdir_path):
    """The quarantine split's good-side predicate must reach the
    parquet scan as a plain In() filter."""
    from go_cdc_spark.operators.resolve import split_bad_records

    good, _bad = split_bad_records(_log(spark, tmpdir_path))
    assert "op" in pushed_filters(good), pushed_filters(good)


def _spy_write_plans(monkeypatch):
    """Record the exchange count of every plan the lake writes."""
    from go_cdc_spark.sinks.lake import ParquetLakeTable

    seen = []
    write = ParquetLakeTable._write_version_data

    def spy(self, df, *args, **kwargs):
        seen.append(shuffle_count(df.sortWithinPartitions("bucket")))
        return write(self, df, *args, **kwargs)

    monkeypatch.setattr(ParquetLakeTable, "_write_version_data", spy)
    return seen


def _epoch(spark, seed):
    from go_cdc_spark.genlog import events_df

    return events_df(
        spark, LogSpec(n_events=400, n_repos=4, n_paths=20, n_commits=5, seed=seed)
    )


def test_epoch_write_plan_is_one_exchange(spark, tmpdir_path, monkeypatch):
    """The unsalted MERGE hash-partitions batch ∪ current rows once by
    bucket; the LWW reduce and the bucket-partitioned write reuse that
    exchange: exactly 1 per copy-on-write epoch, merge-on-read delta
    epoch, merge-on-read compaction epoch and ``compact()``."""
    from go_cdc_spark.sinks.lake import ParquetLakeTable

    seen = _spy_write_plans(monkeypatch)
    cow = ParquetLakeTable.create(spark, f"{tmpdir_path}/cow", schemas.TABLE_SCHEMA, K, 4)
    cow.apply_batch(_epoch(spark, 1), "e1")
    cow.apply_batch(_epoch(spark, 2), "e2")  # merges current rows
    assert seen == [1, 1], seen
    mor = ParquetLakeTable.create(
        spark, f"{tmpdir_path}/mor", schemas.TABLE_SCHEMA, K, 4, mode="mor",
        compact_every=3,
    )
    for e in range(4):
        mor.apply_batch(_epoch(spark, 10 + e), f"e{e}")
    m = mor.manifest()
    assert m["deltas"] and all(len(ds) == 1 for ds in m["deltas"].values())
    assert mor.compact().applied
    # 2 delta epochs, 1 compaction epoch, 1 delta epoch, compact()
    assert seen[2:] == [1, 1, 1, 1, 1], seen


def test_read_changed_since_lookup_plan_without_jobs(spark, tmpdir_path):
    """Every tail-path read is planned from the manifest: building
    read(), changed_since() and lookup() launches no Spark job (no
    schema inference, no Python-worker job to hash lookup keys); only
    the caller's action does."""
    import uuid

    from go_cdc_spark.sinks.lake import ParquetLakeTable

    t = ParquetLakeTable.create(
        spark, tmpdir_path, schemas.TABLE_SCHEMA, K, 4, mode="mor", compact_every=8
    )
    t.apply_batch(_epoch(spark, 1), "e1")
    t.apply_batch(_epoch(spark, 2), "e2")  # a delta on top: reads fold
    live = t.read().toPandas()
    keys = [tuple(r) for r in live[K].head(3).itertuples(index=False)]
    sc = spark.sparkContext
    group = f"plan-only-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build reads without an action")
    try:
        dfs = [t.read(), t.changed_since((0, 0, -1)), t.lookup(keys)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    read, changed, looked = dfs
    assert read.count() == len(live) and changed.count() >= len(live)
    assert {tuple(r[c] for c in K) for r in looked.collect()} == set(keys)


def test_exact_near_dup_plans_one_exchange_no_broadcast(spark):
    """Both exact near-dup operators plan as the sharded block-pair
    kernel: no broadcast of the corpus, and exactly one exchange — the
    hash by shard pair that groups the fanned-out rows."""
    from go_cdc_spark.functions.dedup import jaccard_pairs
    from go_cdc_spark.functions.similarity import near_dup_by_cosine
    from go_cdc_spark.plans.inspect import formatted_plan

    docs = spark.createDataFrame(
        [(i, " ".join("abcd"[: 1 + i % 4])) for i in range(40)], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(40)], "vec_id long, embedding array<double>"
    )
    for out in (jaccard_pairs(docs, threshold=0.9), near_dup_by_cosine(emb, threshold=0.9)):
        plan = formatted_plan(out)
        assert "BroadcastExchange" not in plan, plan
        assert shuffle_count(out) == 1, plan
        assert "hashpartitioning(pair#" in plan, plan
