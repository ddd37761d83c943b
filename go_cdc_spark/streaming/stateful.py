"""Continuously-materialized per-key state via ``applyInPandasWithState``.

The batch engine materializes state epoch-by-epoch: ``lww_resolve``
reduces each chunk and the lake MERGE folds it into bucketed parquet
(read amplification per epoch, state lives on disk). This module is
the low-latency serving alternative the reference approximates with
its always-on tailer loop (reference mongoreplay/tailer.go:75-121,
single-threaded apply of each fetched batch): per-key LWW state lives
in the *streaming state store* — hash-partitioned by key across
executors, exactly one row per live key, checkpointed for
exactly-once recovery — and each micro-batch emits only the keys it
touched, already resolved.

Scale shape (100 TB / 10^10 events): state is O(live keys), not
O(events); each micro-batch shuffles only its own rows (one exchange
on the key hash, the same partitioning every batch, so state-store
locality is preserved); the Python worker sees one Arrow batch per
updated key-group. No per-batch table rewrite, no compaction debt.

Semantic contract (reference parity, SURVEY §2.2): identical to the
batch engine's LWW resolve — max ``(ts_t, ts_i, seq)`` wins per key,
re-delivered/stale events lose the tuple compare and are dropped
(duplicate-boundary tolerance), deletes are retained in state as
tombstones so a late stale update cannot resurrect a deleted key
(op set ≙ message.go:17-21).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from go_cdc_spark import schemas
from go_cdc_spark.config import PipelineConfig
from go_cdc_spark.operators.resolve import apply_filters


def _split_schema(schema: T.StructType, cfg: PipelineConfig):
    """(key fields, order fields, payload fields) in declaration order."""
    by_name = {f.name: f for f in schema.fields}
    missing = [c for c in list(cfg.key_cols) + list(cfg.order_cols) + ["op"] if c not in by_name]
    if missing:
        raise ValueError(f"stream schema lacks required columns {missing}")
    reserved = set(cfg.key_cols) | set(cfg.order_cols) | {"op"}
    payload = [f.name for f in schema.fields if f.name not in reserved]
    return (
        [by_name[c] for c in cfg.key_cols],
        [by_name[c] for c in cfg.order_cols],
        [by_name[c] for c in payload],
    )


def materialize_stream(
    spark: SparkSession,
    cfg: PipelineConfig,
    out_table: str,
    stream_schema: T.StructType | None = None,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    tombstone_ttl_ms: int | None = None,
):
    """Start a stateful materializer over the oplog segment directory.

    Emits, per micro-batch, one resolved row per key the batch touched
    (update output mode) into the in-memory table ``out_table``;
    returns the StreamingQuery. Deletes are emitted with op='d' so a
    downstream serving layer can evict; :func:`materialized_state`
    folds the emission history back to a point-in-time table.

    Sink caveat: ``format("memory")`` holds the full emission history
    on the driver — right for bounded availableNow runs and tests; an
    always-on production deployment (``available_now=False``) uses
    :func:`materialize_stream_to_lake`, the durable foreachBatch →
    lake-MERGE twin — only the STATE STORE is O(live keys), the memory
    sink is O(emissions). The checkpoint is keyed by (pipeline_id,
    out_table): re-running with the same pair resumes the source and
    skips already-committed files (sound only while the same
    session's memory table survives); a fresh ``out_table`` gets a
    fresh checkpoint and replays from the start.

    ``tombstone_ttl_ms`` bounds state held for DELETED keys: a
    tombstone that receives no further events for the TTL is evicted
    from the state store (processing-time timeout). Without it,
    every key ever deleted holds state forever — unbounded at
    10^10-key scale. The trade-off is explicit and standard (Flink
    state TTL): the TTL must exceed the source's maximum
    out-of-orderness, because after eviction a re-delivered STALE
    update for that key would re-materialize it (the tombstone
    shield is gone). Live keys never time out — they ARE the table.

    TTL requires ``available_now=False``: a processing-time timeout
    makes Trigger.AvailableNow schedule empty batches forever — the
    engine can never prove no timer will fire later, so the query
    never reaches its done condition (measured here: the run-once
    materializer wedged at batch 1000+ on three files). That is no
    loss: TTL eviction only matters on an always-on stream; a bounded
    run's state dies with the run.
    """
    emitted = _emission_stream(
        spark, cfg, stream_schema, max_files_per_trigger, tombstone_ttl_ms,
        available_now,
    )
    writer = (
        emitted.writeStream.outputMode("update")
        .format("memory")
        .queryName(out_table)
        .option(
            "checkpointLocation",
            f"{cfg.bookmark_root}/{cfg.pipeline_id}/"
            f"_materialize_checkpoint/{out_table}",
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=cfg.trigger_interval or "1 second")
    return writer.start()


def _emission_stream(
    spark: SparkSession,
    cfg: PipelineConfig,
    stream_schema: T.StructType | None,
    max_files_per_trigger: int,
    tombstone_ttl_ms: int | None,
    available_now: bool,
) -> DataFrame:
    """The shared stateful core of both materializer sinks: the oplog
    segment stream grouped by key through ``applyInPandasWithState``,
    emitting one resolved (key, order, op, payload) row per key each
    micro-batch touches. Sink-agnostic — :func:`materialize_stream`
    writes it to a memory table, :func:`materialize_stream_to_lake`
    MERGEs each batch into the parquet lake."""
    from go_cdc_spark.streaming.monitor import _read_source

    if tombstone_ttl_ms is not None and available_now:
        raise ValueError(
            "tombstone_ttl_ms requires available_now=False: processing-time "
            "timeouts keep an AvailableNow query scheduling empty batches "
            "forever (no terminal 'no future timers' proof exists)"
        )

    schema = stream_schema or cfg.source_schema() or schemas.EVENT_SCHEMA
    key_f, order_f, payload_f = _split_schema(schema, cfg)
    for f in order_f:
        if not isinstance(
            f.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            raise ValueError(
                f"order column {f.name!r} must be an integer type for the "
                f"state tuple compare, got {f.dataType.simpleString()}"
            )
    key_cols = [f.name for f in key_f]
    order_cols = [f.name for f in order_f]
    payload_cols = [f.name for f in payload_f]
    n_order = len(order_cols)

    state_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in order_f]
        + [T.StructField("op", T.StringType(), True)]
        + [T.StructField(f.name, f.dataType, True) for f in payload_f]
    )
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in key_f] + state_schema.fields
    )
    out_cols = key_cols + order_cols + ["op"] + payload_cols

    def update(key, pdfs, state):
        if tombstone_ttl_ms is not None and state.hasTimedOut:
            # quiet tombstone past its TTL: evict, emit nothing — the
            # delete was already emitted when it won the key
            state.remove()
            return
        cur = tuple(state.get) if state.exists else None
        for pdf in pdfs:
            # a NULL order value cannot participate in the tuple
            # compare — drop the row, mirroring the batch path's
            # SQL ordering tolerance rather than killing the stream
            pdf = pdf.dropna(subset=order_cols)
            if len(pdf) == 0:
                continue
            # Only the batch's LWW winner can change state: argmax by
            # the order tuple (stable sort; tuples are unique by seq).
            top = pdf.sort_values(order_cols, kind="mergesort").iloc[-1]
            cand = tuple(int(top[c]) for c in order_cols)
            if cur is None or cand > cur[:n_order]:
                payload = [
                    None
                    if pd.isna(top[c])
                    else (top[c].item() if hasattr(top[c], "item") else top[c])
                    for c in payload_cols
                ]
                cur = cand + (str(top["op"]),) + tuple(payload)
        if cur is None:  # every row had a NULL order value
            return
        state.update(cur)
        if tombstone_ttl_ms is not None and cur[n_order] == schemas.DELETE_OP:
            state.setTimeoutDuration(tombstone_ttl_ms)
        yield pd.DataFrame([tuple(key) + cur], columns=out_cols)

    # cfg.filters before the groupBy, so they push into the scan
    reader = apply_filters(
        _read_source(
            spark.readStream.schema(schema).option(
                "maxFilesPerTrigger", max_files_per_trigger
            ),
            cfg,
        ),
        cfg.filters,
    )
    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if tombstone_ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return reader.groupBy(*key_cols).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout_conf
    )


def materialize_stream_to_lake(
    spark: SparkSession,
    cfg: PipelineConfig,
    stream_schema: T.StructType | None = None,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    tombstone_ttl_ms: int | None = None,
    checkpoint_name: str = "lake",
    _fault_injector=None,
):
    """Durable-sink twin of :func:`materialize_stream`: the same
    stateful LWW resolve, but each micro-batch's emissions MERGE into
    the :class:`~go_cdc_spark.sinks.lake.ParquetLakeTable` at
    ``cfg.table_root`` (which must exist — ``ParquetLakeTable.create``
    it first, exactly like the batch replay path) via ``foreachBatch``.
    This is the production path for an always-on materializer
    (``available_now=False``, optionally ``tombstone_ttl_ms``): state
    is O(live keys) in the checkpointed state store AND the serving
    table is bounded on disk — no driver-resident emission history.

    Exactly-once across kills/restarts, by composition of two
    idempotence layers:

    - the streaming checkpoint replays any micro-batch whose offsets
      committed but whose foreachBatch failed mid-apply (same
      ``batch_id``, same emitted rows — the stateful operator's state
      store versions with the batch);
    - ``apply_batch(epoch_key=f"statemat-{pipeline}-{batch_id}")`` is
      an idempotent lake MERGE: a replayed batch whose manifest commit
      already landed is a no-op (epoch-key check), a batch that never
      committed applies atomically (os.link CAS manifest).

    Emissions already carry op='d' tombstones, so deletes flow through
    the same MERGE the batch engine uses; ``tombstone_ttl_ms`` only
    evicts state-store rows and never touches the table.

    ``_fault_injector`` (tests only): callable(batch_id) invoked before
    each batch's apply — raise from it to simulate a crash between the
    lake commit and the streaming commit log.
    """
    from go_cdc_spark.sinks.lake import ParquetLakeTable

    emitted = _emission_stream(
        spark, cfg, stream_schema, max_files_per_trigger, tombstone_ttl_ms,
        available_now,
    )
    table_root = cfg.table_root
    pipeline_id = cfg.pipeline_id
    order_cols = list(cfg.order_cols)
    salt = cfg.salt_partitions

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # persist: apply_batch takes several actions over the batch and
        # each would otherwise re-execute the stateful operator (the
        # classic foreachBatch recompute trap — state must advance
        # exactly once per batch)
        batch_df.persist()
        try:
            # one resolved row per key — already the MERGE input shape
            lake = ParquetLakeTable.load(batch_df.sparkSession, table_root)
            stats = lake.apply_batch(
                batch_df,
                epoch_key=f"statemat-{pipeline_id}-{batch_id}",
                order_cols=order_cols,
                salt_partitions=salt,
            )
            if not stats.applied:
                # replayed batch whose lake commit already landed (we
                # crashed between the lake commit and the streaming
                # commit log): the MERGE is a no-op, but the batch must
                # still be materialized so every state-store partition
                # re-commits its version — Spark validates this
                # (STATE_STORE_COMMIT_VALIDATION_FAILED otherwise)
                batch_df.count()
            if _fault_injector is not None:
                _fault_injector(batch_id)
        finally:
            batch_df.unpersist()

    writer = (
        emitted.writeStream.outputMode("update")
        .foreachBatch(apply)
        .option(
            "checkpointLocation",
            f"{cfg.bookmark_root}/{cfg.pipeline_id}/"
            f"_materialize_checkpoint/{checkpoint_name}",
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=cfg.trigger_interval or "1 second")
    return writer.start()


def materialized_state(
    spark: SparkSession,
    out_table: str,
    cfg: PipelineConfig,
    payload_cols: list[str],
    include_deletes: bool = False,
) -> DataFrame:
    """Fold the emission history in ``out_table`` to final table state.

    Per-key state is monotone in the order tuple, so the final state
    is the LWW winner over all emissions — the same semilattice reduce
    as the batch path (one shuffle)."""
    from pyspark.sql import functions as F

    from go_cdc_spark.operators.resolve import lww_resolve

    r = lww_resolve(
        spark.table(out_table),
        list(cfg.key_cols),
        list(cfg.order_cols),
        payload_cols,
    )
    return r if include_deletes else r.filter(F.col("op") != schemas.DELETE_OP)


def dedup_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_table: str,
    schema: T.StructType,
    id_col: str = "doc_id",
    text_col: str = "text",
    order_cols: list[str] | None = None,
    max_files_per_trigger: int = 1,
):
    """Exactly-once streaming corpus dedup: as document segments arrive,
    admit only the first occurrence of each content fingerprint — the
    dedup-on-ingest gate of a continuously-fed training corpus, the
    streaming twin of :func:`go_cdc_spark.functions.dedup.
    incremental_dedup` (whose "index" here IS the state store).

    State is one empty-payload row per DISTINCT fingerprint ever seen
    (O(unique contents), checkpointed), and
    each micro-batch emits only its newly-admitted (id, fp) rows. Within
    a batch, the row minimizing ``order_cols`` (default ``[id_col]``)
    wins; across batches the first-arriving batch wins and later ones
    cannot displace it — pass the segment/arrival column in
    ``order_cols`` so the winner is well-defined even if the source
    coalesces several segments into one micro-batch.

    Scale shape: one exchange per batch on the fingerprint hash (the
    same partitioning every batch, so state-store locality holds), the
    Python worker sees one Arrow batch per NEW fingerprint group, and
    shuffle rows carry (fp, id, order) — never the text (the
    fingerprint is computed JVM-side in the scan projection).

    Sink caveat (same as :func:`materialize_stream`): the memory sink
    does not support checkpoint RECOVERY — restarting over the same
    checkpoint raises. A production deployment swaps the writer for a
    durable sink (foreachBatch upsert, Kafka); there the checkpointed
    fingerprint state makes admission exactly-once across restarts.
    Admission is deterministic given ``order_cols``, so a fresh-
    checkpoint rebuild reproduces the same decisions."""
    from pyspark.sql import functions as F

    from go_cdc_spark.functions.text import fingerprint

    order_cols = list(order_cols or [id_col])
    by_name = {f.name: f for f in schema.fields}
    missing = [c for c in {id_col, text_col, *order_cols} if c not in by_name]
    if missing:
        raise ValueError(f"stream schema lacks columns {sorted(missing)}")

    out_schema = T.StructType(
        [by_name[id_col], T.StructField("fp", T.StringType(), True)]
    )
    state_schema = T.StructType([T.StructField("admitted", T.ByteType(), True)])

    def admit(key, pdfs, state):
        if state.exists:  # fingerprint already admitted in a prior batch
            return
        best = None
        for pdf in pdfs:
            pdf = pdf.dropna(subset=order_cols)
            if len(pdf) == 0:
                continue
            top = pdf.sort_values(order_cols, kind="mergesort").iloc[0]
            cand = tuple(top[c] for c in order_cols)
            if best is None or cand < best[0]:
                best = (cand, top[id_col])
        if best is None:
            return
        state.update((1,))
        doc_id = best[1]
        doc_id = doc_id.item() if hasattr(doc_id, "item") else doc_id
        yield pd.DataFrame([(doc_id, key[0])], columns=[id_col, "fp"])

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
        .select(
            fingerprint(F.col(text_col)).alias("fp"),
            F.col(id_col),
            *[F.col(c) for c in order_cols if c != id_col],
        )
    )
    emitted = src.groupBy("fp").applyInPandasWithState(
        admit, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    return (
        emitted.writeStream.outputMode("update")
        .format("memory")
        .queryName(out_table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
