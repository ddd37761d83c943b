"""LWW resolver unit tests ≙ reference tailer/query_generator tests
(mongoreplay/query_generator_test.go:11-32, tailer_test.go:17-54)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.errors.exceptions.captured import SparkRuntimeException

from go_cdc_spark import schemas
from go_cdc_spark.genlog import LogSpec, events_df
from go_cdc_spark.operators.resolve import apply_filters, from_token, lww_resolve
from go_cdc_spark.oracle import replay_oracle

KEYS = schemas.KEY_COLS
ORDER = schemas.ORDER_COLS
PAYLOAD = schemas.PAYLOAD_COLS


def _mk(spark, rows):
    return spark.createDataFrame(rows, schema=schemas.EVENT_SCHEMA)


def _row(op, seq, key=("r1", "p1", "c1"), lang="py", content="x"):
    repo, path, commit = key
    if op == "d":
        lang = content = None
    return (op, 1_700_000_000 + seq // 10, seq % 10, seq, repo, path, commit, lang, content)


def test_insert_then_update_wins_update(spark):
    # ≙ query_generator_test.go: apply i then u on same key
    df = _mk(spark, [_row("i", 1, content="v1"), _row("u", 2, content="v2")])
    out = lww_resolve(df, KEYS, ORDER, PAYLOAD).collect()
    assert len(out) == 1
    assert out[0]["op"] == "u" and out[0]["content"] == "v2"


def test_delete_wins_marks_absent(spark):
    df = _mk(spark, [_row("i", 1), _row("u", 2), _row("d", 3)])
    out = lww_resolve(df, KEYS, ORDER, PAYLOAD).collect()
    assert len(out) == 1 and out[0]["op"] == "d"


def test_duplicate_boundary_event_is_idempotent(spark):
    # ≙ ts>=token re-read (collection.go:59) + swallowed dup-key error
    base = [_row("i", 1, content="v1"), _row("u", 2, content="v2")]
    df = _mk(spark, base + [base[-1]])  # exact duplicate of last event
    out = lww_resolve(df, KEYS, ORDER, PAYLOAD).collect()
    assert len(out) == 1 and out[0]["content"] == "v2"


def test_unknown_op_raises(spark):
    # ≙ query_generator.go:43-45
    df = _mk(spark, [_row("i", 1)]).replace("i", "x", subset=["op"])
    with pytest.raises(SparkRuntimeException, match="unknown op"):
        lww_resolve(df, KEYS, ORDER, PAYLOAD).collect()


def test_salted_equals_unsalted(spark):
    df = events_df(spark, LogSpec(n_events=5_000, n_repos=3, hot_pct=60, seed=7))
    a = lww_resolve(df, KEYS, ORDER, PAYLOAD).sort(*KEYS).collect()
    b = lww_resolve(df, KEYS, ORDER, PAYLOAD, salt_partitions=16).sort(*KEYS).collect()
    assert a == b


def test_lww_matches_pandas_oracle(spark):
    spec = LogSpec(n_events=8_000, n_repos=5, n_paths=7, n_commits=3, dup_every=97, seed=11)
    df = events_df(spark, spec)
    resolved = lww_resolve(df, KEYS, ORDER, PAYLOAD)
    live = resolved.filter("op != 'd'").select(*KEYS, *PAYLOAD)
    got = live.toPandas().sort_values(KEYS).reset_index(drop=True)
    want = replay_oracle(df.toPandas())[got.columns]
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _table(spark, root, mode):
    from go_cdc_spark.sinks.lake import ParquetLakeTable

    return ParquetLakeTable.create(
        spark, root, schemas.TABLE_SCHEMA, KEYS, 4, mode=mode, compact_every=2
    )


def test_merge_applies_iud(spark, tmpdir_path):
    """≙ MERGE INTO: update replaces, delete removes, insert adds, and a
    delete of an absent key is a no-op — through the sink's one merge,
    over snapshot rows stamped order=-1 ("lose to any event"), in both
    write modes."""
    for mode in ("cow", "mor"):
        _check_iud(spark, _table(spark, f"{tmpdir_path}/{mode}", mode))


def _check_iud(spark, t):
    t.overwrite(
        spark.createDataFrame(
            [("r1", "p1", "c1", "py", "old"), ("r2", "p1", "c1", "go", "keep")],
            schema=schemas.TABLE_SCHEMA,
        ),
        "snap",
    )
    batch = _mk(
        spark,
        [
            _row("u", 10, key=("r1", "p1", "c1"), content="new"),  # replace
            _row("d", 11, key=("r2", "p1", "c1")),  # delete existing
            _row("i", 12, key=("r3", "p1", "c1"), content="ins"),  # insert new
            _row("d", 13, key=("r4", "p1", "c1")),  # delete absent = no-op
        ],
    )
    t.apply_batch(lww_resolve(batch, KEYS, ORDER, PAYLOAD), "e1")
    got = {(r["repo"], r["content"]) for r in t.read().collect()}
    assert got == {("r1", "new"), ("r3", "ins")}
    # deletes persist as tombstones carrying their order tuple
    out = t.read(internal=True)
    tomb = {(r["repo"], r["seq"]) for r in out.filter("op = 'd'").collect()}
    assert tomb == {("r2", 11), ("r4", 13)}


def test_merge_is_order_aware(spark, tmpdir_path):
    """An OLDER event arriving in a later batch must lose to the stored
    row — micro-batches may split a poll window out of order. Under
    merge-on-read the second epoch of a bucket compacts
    (compact_every=2), so the compaction merge is covered too."""
    for mode in ("cow", "mor"):
        _check_order_aware(spark, f"{tmpdir_path}/{mode}", mode)


def _check_order_aware(spark, root, mode):
    newer = (1_700_000_099, 50, 50)
    stale = _mk(spark, [_row("u", 10, key=("r1", "p1", "c1"), content="stale")])
    t = _table(spark, f"{root}/u", mode)
    t.apply_batch(
        _mk(spark, [("u", *newer, "r1", "p1", "c1", "py", "newer")]), "e1"
    )
    t.apply_batch(stale, "e2")
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["content"] == "newer"
    # and a delete tombstone shields against resurrection by older events
    t2 = _table(spark, f"{root}/d", mode)
    t2.apply_batch(
        _mk(spark, [("d", *newer, "r1", "p1", "c1", None, None)]), "e1"
    )
    t2.apply_batch(stale, "e2")
    assert t2.read().count() == 0
    assert [r["op"] for r in t2.read(internal=True).collect()] == ["d"]


def test_filters_and_token(spark):
    df = events_df(spark, LogSpec(n_events=2_000, seed=3))
    f = apply_filters(df, [("repo", "$eq", "repo_00001")])
    assert f.select("repo").distinct().collect() == [("repo_00001",)]
    tok = (1_700_000_000, 500, 500)
    after = from_token(df, tok)
    assert after.count() == df.count() - 501  # seqs 0..500 excluded


def test_split_bad_records_partitions_input(spark):
    """Dead-letter routing: good ∪ bad == input, good ∩ bad == ∅,
    null ops land in bad (never silently dropped), and replaying only
    the good stream matches the oracle over the good events."""
    from go_cdc_spark.operators.resolve import split_bad_records

    from pyspark.sql import functions as F

    rows = [_row("i", 1), _row("u", 2), _row("d", 3, key=("r2", "p", "c")),
            _row("i", 4, key=("r3", "p", "c")), _row("i", 5, key=("r4", "p", "c"))]
    df = _mk(spark, rows).withColumn(
        "op",
        F.when(F.col("seq") == 4, F.lit("x"))
        .when(F.col("seq") == 5, F.lit(None).cast("string"))
        .otherwise(F.col("op")),
    )
    good, bad = split_bad_records(df)
    assert good.count() == 3 and bad.count() == 2
    assert {r["repo"] for r in bad.collect()} == {"r3", "r4"}
    assert good.count() + bad.count() == df.count()
    # the good stream replays cleanly (validation passes)
    out = lww_resolve(good, KEYS, ORDER, PAYLOAD).collect()
    assert {r["repo"] for r in out} == {"r1", "r2"}
