"""The benchmark's workloads: inputs, warm-up, timed closed loop and
correctness gate for each.

Each workload runs one closed-loop client: it sends its next operation
only after the previous one has completed. Why each workload exists is
recorded in ``perfbench/README.md``.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench.host import tree_cpu_s

# The dedup_pass queries and the input table each one reads: the two
# exact-GEMM operators, one LSH, one ANN and one n-gram operator. A cold
# pass over them costs ~20 s on a 4-core host; the run budget (see
# README.md, "Sizing") holds five of the contract's dedup queries.
QUERIES = {
    "dedup_jaccard": "documents",
    "sim_near_dup_cosine": "embeddings",
    "dedup_minhash_lsh": "documents",
    "text_decontaminate": "documents",
    "sim_ann_ivf": "embeddings",
}

# Base snapshot stamps precede every log event, so the seeded rows are
# older than anything the tail replays.
BASE_TS = 1_600_000_000
LOG_TS = 1_700_000_000


@dataclass(frozen=True)
class CdcSize:
    n_buckets: int
    base_events: int  # insert-only events folded into the seed snapshot
    n_repos: int
    epoch_events: int
    n_epochs: int  # log length; the loop stops early once time is up
    cycle: int  # epochs per compaction-and-vacuum cycle
    lookup_keys: int


# Full sizes keep one run, set-up included, near a minute on a 4-core
# host (see README.md, "Sizing"): a warm-up cycle, then at least one
# timed cycle; the log holds a spare cycle for faster hosts.
SIZES = {
    "full": CdcSize(8, 10_000, 10, 1_000, 9, 3, 5),
    "tiny": CdcSize(4, 2_000, 4, 200, 4, 2, 3),
}
CORPUS = {"full": (500, 500), "tiny": (120, 120)}  # (documents, embeddings)


@dataclass
class Loop:
    """What one timed closed loop measured."""

    ops: list[float] = field(default_factory=list)  # closed-loop op latencies
    op_cpu: list[float] = field(default_factory=list)  # process-tree CPU s per op
    parts: dict[str, list[float]] = field(default_factory=dict)  # per call kind
    records: int = 0  # input records the loop completed
    rows_written: int = 0
    files_written: int = 0
    attempted: int = 0
    failed: int = 0
    outputs: dict = field(default_factory=dict)  # dedup_pass: last pass's query outputs
    t0: float = 0.0
    t1: float = 0.0

    def part(self, kind: str, seconds: float) -> None:
        self.parts.setdefault(kind, []).append(seconds)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: failed operation: {what}", file=sys.stderr)


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


# ---------------------------------------------------------------- CDC


@dataclass
class CdcInstance:
    cfg: object  # PipelineConfig
    lake: object  # ParquetLakeTable
    bookmarks: object  # BookmarkStore
    chunks: list
    base: pd.DataFrame  # the seeded rows, as insert events
    lookup_keys: list[tuple]
    cycle: int
    cursor: tuple[int, int, int]  # the consumer's changed_since position
    token: tuple[int, int, int]  # resume token, read once per replay
    consumed: list = field(default_factory=list)  # chunks applied


def prepare_cdc(spark, root: str, size: CdcSize, seed: int) -> CdcInstance:
    """Generate the log, create the merge-on-read table and seed it with
    a snapshot."""
    from go_cdc_spark import schemas
    from go_cdc_spark.bookmark import BookmarkStore
    from go_cdc_spark.config import PipelineConfig
    from go_cdc_spark.genlog import LogSpec, events_df, write_segments
    from go_cdc_spark.operators.resolve import lww_resolve
    from go_cdc_spark.sinks.lake import ParquetLakeTable
    from go_cdc_spark.sources.oplog import list_segments, plan_chunks

    cfg = PipelineConfig(
        "tail_mor_read",
        os.path.join(root, "log"),
        os.path.join(root, "table"),
        os.path.join(root, "bookmarks"),
        n_buckets=size.n_buckets,
        vacuum_every=size.cycle,
    )
    common = dict(n_repos=size.n_repos, n_paths=200, n_commits=50)
    # Small, uniformly spread epochs: each touches every bucket, so every
    # ``cycle``-th epoch compacts all of them. The log has bench.py's
    # shape: a 30% hot repo, an exact duplicate every 997 events, and
    # additive schema evolution, here from the second (warm-up) epoch.
    log = LogSpec(
        n_events=size.epoch_events * size.n_epochs, segment_events=size.epoch_events,
        files_per_segment=1, hot_pct=30, dup_every=997, evolve_from_segment=1,
        seed=2 * seed + 1, base_ts=LOG_TS, **common,
    )
    write_segments(spark, log, cfg.source_log_path)

    snap = LogSpec(
        n_events=size.base_events, insert_pct=100, update_pct=0,
        seed=2 * seed, base_ts=BASE_TS, **common,
    )
    base_df = lww_resolve(
        events_df(spark, snap), schemas.KEY_COLS, schemas.ORDER_COLS, schemas.PAYLOAD_COLS
    )
    lake = ParquetLakeTable.create(
        spark, cfg.table_root, schemas.TABLE_SCHEMA, cfg.key_cols, cfg.n_buckets,
        mode="mor", compact_every=size.cycle,
    )
    lake.overwrite(base_df.drop("op"), epoch_key="seed")
    base = base_df.toPandas()
    order = base[schemas.ORDER_COLS].itertuples(index=False, name=None)
    bookmarks = BookmarkStore(cfg.bookmark_root, cfg.pipeline_id)
    rng = np.random.default_rng(seed)
    picks = rng.choice(len(base), size=size.lookup_keys, replace=False)
    return CdcInstance(
        cfg=cfg,
        lake=lake,
        bookmarks=bookmarks,
        chunks=plan_chunks(list_segments(cfg.source_log_path), 1),
        base=base,
        lookup_keys=[
            tuple(base.iloc[int(i)][c] for c in schemas.KEY_COLS) for i in sorted(picks)
        ],
        cycle=size.cycle,
        cursor=tuple(int(v) for v in max(order)),
        token=bookmarks.latest_token(),
    )


def cdc_loop(spark, inst: CdcInstance, seconds: float, tracer=None) -> Loop:
    """Replay the next epochs in whole cycles until ``seconds`` have
    passed (one cycle when ``seconds`` is 0: the warm-up).

    One operation is one epoch commit followed by what the consumer does
    next: a ``changed_since`` of its previous high-water mark and a
    ``lookup`` of the seeded keys. The last operation of a cycle (the
    compaction epoch) also runs the operator's maintenance: ``vacuum``
    and a ``replication_lag`` poll. The per-chunk body is
    ``replay_chunked``'s, so the consumer can act between commits;
    warm-up and timed loop are one replay, with one resume token.

    Layer calls go through their module or class attribute, where the
    traced run's wrappers (``run.install_wrappers``) find them; only the
    consumer's reads, which include collecting rows, are spanned here."""
    from go_cdc_spark import metrics
    from go_cdc_spark.sources import oplog
    from go_cdc_spark.streaming import replay

    cfg, lake, bookmarks = inst.cfg, inst.lake, inst.bookmarks
    applied_hwm = bookmarks.latest_token()
    out = Loop(t0=time.perf_counter())
    for i, chunk in enumerate(inst.chunks[len(inst.consumed):]):
        if i and i % inst.cycle == 0 and time.perf_counter() - out.t0 >= seconds:
            break
        t0, c0 = time.perf_counter(), tree_cpu_s()
        out.attempted += 1
        try:
            events = oplog.read_chunk(
                spark, cfg.source_log_path, chunk, token=inst.token, filters=cfg.filters
            )
            res = replay.apply_epoch(
                events, lake, bookmarks, cfg, chunk.epoch,
                f"tail-{cfg.pipeline_id}-{chunk.epoch}",
            )
        except Exception:  # report the epoch as failed; the gate still runs
            traceback.print_exc()
            out.fail(f"epoch {chunk.epoch}")
            break
        t1 = time.perf_counter()
        out.part("epoch", t1 - t0)
        inst.consumed.append(chunk)
        out.records += res.events
        out.rows_written += res.rows_written
        out.files_written += len(res.bucket_counts)
        applied_hwm = max(applied_hwm, res.hwm)
        try:
            out.attempted += 2
            with _span(tracer, "lake.read"):
                lake.changed_since(inst.cursor).collect()
            t2 = time.perf_counter()
            with _span(tracer, "lake.read"):
                lake.lookup(inst.lookup_keys).collect()
            t3 = time.perf_counter()
            out.part("changed_since", t2 - t1)
            out.part("lookup", t3 - t2)
            inst.cursor = max(inst.cursor, res.hwm)
            if (i + 1) % cfg.vacuum_every == 0:
                out.attempted += 2
                lake.vacuum()
                t4 = time.perf_counter()
                lag = metrics.replication_lag(spark, cfg.source_log_path, bookmarks)
                out.part("vacuum", t4 - t3)
                out.part("lag", time.perf_counter() - t4)
                if tuple(lag["applied_hwm"]) != applied_hwm:
                    out.fail(f"lag applied_hwm {lag['applied_hwm']} != {applied_hwm}")
        except Exception:
            traceback.print_exc()
            out.fail(f"consumer after epoch {chunk.epoch}")
            break
        out.ops.append(time.perf_counter() - t0)
        out.op_cpu.append(tree_cpu_s() - c0)
    out.t1 = time.perf_counter()
    return out


def _live_rows(df: pd.DataFrame) -> list[tuple]:
    """(key, lang, sha256(content)) per live row, sorted: the
    per-key content sha256 invariant."""
    from go_cdc_spark.oracle import content_sha256

    d = df.reset_index(drop=True)
    sha = content_sha256(d) if len(d) else pd.Series([], dtype=object)
    return sorted(zip(d["repo"], d["path"], d["commit"], d["lang"].fillna(""), sha.fillna("")))


def cdc_gate(spark, inst: CdcInstance) -> tuple[int, list[str]]:
    """Compare the final table, and a lookup of the seeded keys, with
    ``oracle.replay_oracle`` over the seed plus every applied event.
    Returns (checks attempted, failures)."""
    from go_cdc_spark import schemas
    from go_cdc_spark.oracle import replay_oracle

    paths = [
        os.path.join(inst.cfg.source_log_path, f"segment={s}")
        for c in inst.consumed
        for s in c.segments
    ]
    frames = [inst.base]
    if paths:
        frames.append(spark.read.option("mergeSchema", "true").parquet(*paths).toPandas())
    want = replay_oracle(pd.concat(frames, ignore_index=True))
    failures = []
    got = inst.lake.read().toPandas()
    if _live_rows(got) != _live_rows(want):
        failures.append(
            f"tail_mor_read: final state differs from the oracle "
            f"({len(got)} rows vs {len(want)})"
        )
    keys = set(inst.lookup_keys)
    hit = [tuple(r) in keys for r in want[schemas.KEY_COLS].itertuples(index=False)]
    got_l = inst.lake.lookup(inst.lookup_keys).toPandas()
    if _live_rows(got_l) != _live_rows(want[hit]):
        failures.append("tail_mor_read: lookup after the last epoch differs from the oracle")
    return 2, failures


def lake_extras(inst: CdcInstance | None, loop: Loop) -> dict[str, tuple[float, str]]:
    """Storage-side counts for the traced run, read after the loop."""
    vals = {
        "lake.files_written": (0.0, "count"),
        "lake.write_amp": (0.0, "ratio"),
        "lake.manifest_bytes": (0.0, "B"),
        "lake.storage_bytes_per_live_row": (0.0, "B/row"),
    }
    if inst is None:
        return vals
    root = inst.cfg.table_root
    manifest = os.path.join(root, "_commits", f"v{inst.lake.latest_version():012d}.json")
    data_bytes = 0
    for d, _, files in os.walk(os.path.join(root, "data")):
        data_bytes += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    vals["lake.files_written"] = (float(loop.files_written), "count")
    vals["lake.write_amp"] = (loop.rows_written / max(loop.records, 1), "ratio")
    vals["lake.manifest_bytes"] = (float(os.path.getsize(manifest)), "B")
    vals["lake.storage_bytes_per_live_row"] = (data_bytes / max(inst.lake.read().count(), 1), "B/row")
    return vals


# -------------------------------------------------------------- dedup


_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()


def write_corpus(sf_dir: str, n_docs: int, n_vecs: int, seed: int) -> None:
    """Seeded ``documents`` and ``embeddings`` tables shaped like the
    contract fixtures: 10-99 words over a 30-word vocabulary, one doc in
    20 an exact copy of an earlier one plus " dup"; 64-dim unit vectors
    in 10 equal, weakly separated classes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # The seed picks words, lengths' order and which docs are copied; the
    # length distribution and the copy count are fixed, so every seed
    # gives the queries the same amount of work.
    rng = np.random.default_rng(seed)
    lengths = rng.permutation(np.linspace(10, 99, n_docs).round().astype(int))
    texts: list[str] = []
    for i, n in enumerate(lengths):
        if i >= 20 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), n)))
    langs = rng.permutation(np.array(["en", "en", "zh", "es", "fr", "de"] * n_docs)[:n_docs])
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": texts,
                "lang": langs.tolist(),
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    labels = rng.permutation(np.arange(n_vecs) % 10)
    centers = rng.standard_normal((10, 64))
    v = rng.standard_normal((n_vecs, 64)) + 0.6 * centers[labels]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )


def dedup_loop(spark, sf_dir: str, n_rows: dict[str, int], seconds: float, tracer=None) -> Loop:
    """Whole passes over the queries until ``seconds`` have passed (one
    pass when ``seconds`` is 0: the warm-up). One operation is one pass.
    Each query's output is collected; the gate checks the last pass."""
    import __spark_entry__ as entry

    qs = entry.queries()
    out = Loop(t0=time.perf_counter())
    while not out.ops or time.perf_counter() - out.t0 < seconds:
        t0, c0 = time.perf_counter(), tree_cpu_s()
        for q, table in QUERIES.items():
            tq = time.perf_counter()
            out.attempted += 1
            try:
                with _span(tracer, f"functions.{q}"):
                    out.outputs[q] = qs[q](spark, sf_dir).toPandas()
            except Exception:
                traceback.print_exc()
                out.fail(q)
                out.outputs.pop(q, None)
                continue
            out.part(q, time.perf_counter() - tq)
            out.records += n_rows[table]
        out.ops.append(time.perf_counter() - t0)
        out.op_cpu.append(tree_cpu_s() - c0)
    out.t1 = time.perf_counter()
    return out


def _norm_cell(v) -> str:
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "null"
    if isinstance(v, float):
        return f"{v:.6f}"
    return str(v)


def _norm(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    return cols, sorted(tuple(_norm_cell(v) for v in row) for row in df[cols].itertuples(index=False))


def dedup_gate(sf_dir: str, got: dict[str, pd.DataFrame]) -> tuple[int, list[str]]:
    """Each query's collected output against its DuckDB ``oracle_sql()``
    twin (columns, then order-insensitive rows, floats to 6 places). A
    query with no output (it failed) is already counted as failed."""
    import duckdb

    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{os.path.join(sf_dir, 'duckdb-tmp')}'")
        for t in ("documents", "embeddings"):
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        failures = []
        for q in got:
            if _norm(got[q]) != _norm(con.execute(sqls[q]).fetchdf()):
                failures.append(f"dedup_pass: {q} differs from its DuckDB oracle")
    finally:
        con.close()
    return len(QUERIES), failures
