"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exact baseline. Dot products are pure
  Column expressions (``zip_with`` + ``aggregate`` — JVM-side), ranked
  with a per-query window. O(|Q|·|C|) — fine when the query set is
  small and the corpus scan is the dominant cost.
- LSH-bucketed ANN (random hyperplanes): the scale path. Signatures
  via one vectorized pandas UDF (numpy GEMM per Arrow batch); only
  same-bucket candidates are scored. With b-bit signatures the
  candidate set shrinks ~2^b-fold; recall is probed in tests against
  the brute-force baseline.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query (excluding self-matches).

    The query side is broadcast (small by contract); the corpus is
    scanned once, no shuffle of the corpus vectors themselves — the
    only shuffle is the per-query top-k reduction.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(
                F.col("q_vec").cast("array<double>"),
                F.col("c_vec").cast("array<double>"),
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank")
    )


def hyperplane_signatures(
    df: DataFrame,
    n_bits: int = 12,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    n_tables: int = 1,
) -> DataFrame:
    """Random-hyperplane LSH bucket ids per vector — one row per
    (vector, table). Multi-table LSH: each table has independent
    planes; candidate recall grows with ``n_tables`` at linear cost.
    One numpy GEMM per Arrow batch; planes are regenerated
    deterministically from the seed on every executor (no broadcast)."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("table", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
        ]
    )

    def compute(it):
        planes = np.random.RandomState(seed).standard_normal((n_tables, dim, n_bits))
        weights = 1 << np.arange(n_bits, dtype=np.int64)
        for pdf in it:
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)  # (n, dim)
            n = len(mat)
            frames = []
            for t in range(n_tables):
                bits = (mat @ planes[t]) > 0  # (n, n_bits)
                buckets = (bits.astype(np.int64) * weights).sum(axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col].to_numpy(),
                            "table": np.full(n, t, dtype=np.int32),
                            "bucket": buckets,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return df.select(id_col, vec_col).mapInPandas(compute, schema=out_schema)


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket in
    any of the ``n_tables`` tables, then exact cosine re-rank."""
    c_sig = hyperplane_signatures(corpus, n_bits, dim, id_col, vec_col, seed, n_tables)
    q_sig = hyperplane_signatures(queries, n_bits, dim, id_col, vec_col, seed, n_tables)
    c = corpus.join(c_sig, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "table", "bucket"
    )
    q = F.broadcast(
        queries.join(q_sig, id_col).select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "table", "bucket"
        )
    )
    scored = (
        c.join(q, on=["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(
                F.col("q_vec").cast("array<double>"),
                F.col("c_vec").cast("array<double>"),
            ).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank")
    )


def kmeans_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_sample: int = 200_000,
    init_hash: str = "xxhash64",
) -> np.ndarray:
    """Spherical k-means centroids (L2-normalized, cosine objective).

    Deterministic init: the ``n_centroids`` vectors with the smallest
    hash of (id, seed) — ``xxhash64`` by default, or the hex digest of
    ``sha2(id || ':' || seed)`` when ``init_hash="sha256"`` (the
    ANSI-SQL-reproducible mode the DuckDB oracle twin uses). Each Lloyd
    iteration is ONE distributed pass: a vectorized pandas UDF (numpy
    GEMM per Arrow batch) emits per-partition partial sums
    (≤ n_centroids rows per partition), and the driver finishes the
    tiny reduce — O(n_centroids × dim) driver state, never the vectors.

    Training runs on a deterministic hash-sampled subset of at most
    ~``train_sample`` rows, cached across the ``n_iters`` passes —
    centroid quality needs a representative sample, not the corpus, so
    a 100 TB input pays ONE sampling scan + n_iters cheap passes over
    the cached sample instead of n_iters full-corpus scans. The final
    assignment pass (in the caller) stays full-corpus.
    """
    if init_hash == "sha256":
        init_order = F.sha2(
            F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed))), 256
        )
    else:
        init_order = F.xxhash64(F.col(id_col), F.lit(seed))
    init_rows = (
        df.select(id_col, vec_col).orderBy(init_order).limit(n_centroids).collect()
    )
    cents = np.vstack([np.asarray(r[vec_col], dtype=np.float64) for r in init_rows])
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    if n_iters <= 0:
        return cents

    # deterministic sample: keep ids whose hash lands under the target
    # fraction's bucket cut (limit-probe the size first — cheap gate)
    n_total = df.select(id_col).limit(train_sample + 1).count()
    train = df.select(id_col, vec_col)
    if n_total > train_sample:
        n_docs = df.select(id_col).count()
        buckets = 1_000_000
        cut = max(1, int(buckets * train_sample / n_docs))
        train = train.filter(
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed + 1)), F.lit(buckets)) < cut
        )
    train = train.persist()
    try:
        part_schema = T.StructType(
            [
                T.StructField("cid", T.IntegerType()),
                T.StructField("vsum", T.ArrayType(T.DoubleType())),
                T.StructField("n", T.LongType()),
            ]
        )
        for _ in range(n_iters):
            c = cents  # closure-capture this iteration's centroids

            def partials(it, c=c):
                for pdf in it:
                    mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
                    norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
                    assign = np.argmax((mat / norms) @ c.T, axis=1)
                    rows = []
                    for cid in np.unique(assign):
                        sel = mat[assign == cid]
                        rows.append((int(cid), sel.sum(axis=0).tolist(), len(sel)))
                    yield pd.DataFrame(rows, columns=["cid", "vsum", "n"])

            parts = train.select(vec_col).mapInPandas(partials, schema=part_schema).collect()
            sums = np.zeros_like(cents)
            counts = np.zeros(len(cents), dtype=np.int64)
            for r in parts:
                sums[r["cid"]] += np.asarray(r["vsum"])
                counts[r["cid"]] += r["n"]
            nz = counts > 0
            cents[nz] = sums[nz] / counts[nz, None]
            cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    finally:
        train.unpersist()
    return cents


def _nearest_centroids(
    df: DataFrame, cents: np.ndarray, n_probe: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, cid) rows: each vector's ``n_probe`` nearest centroids by
    cosine — one GEMM per Arrow batch, centroids shipped in the closure
    (tiny: n_centroids × dim)."""
    out_schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("cid", T.IntegerType())]
    )

    def compute(it):
        for pdf in it:
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            sims = (mat / norms) @ cents.T  # (n, n_centroids)
            # stable sort: ties break toward the lower cid, matching the
            # SQL oracle's ORDER BY sim DESC, cid ASC tie-break
            top = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            ids = np.repeat(pdf[id_col].to_numpy(), n_probe)
            yield pd.DataFrame({id_col: ids, "cid": top.ravel().astype(np.int32)})

    return df.select(id_col, vec_col).mapInPandas(compute, schema=out_schema)


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_sample: int = 200_000,
    init_hash: str = "xxhash64",
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means-partition the corpus, probe
    only the ``n_probe`` closest cells per query, exact cosine re-rank.

    The scale path alongside :func:`lsh_ann_topk`: candidate volume
    shrinks ~(n_centroids / n_probe)-fold. Training scans a cached
    hash-sample (never the full corpus n_iters times), the one full
    assignment pass is a single scan, and the cell join is a broadcast
    of the exploded query probes — the corpus vectors never shuffle.

    ``n_iters=0`` + ``init_hash="sha256"`` is the oracle mode: init-only
    centroids whose every step (init ordering, normalization, argmax
    assignment, probe ranking, re-rank) is reproducible in ANSI SQL —
    the DuckDB correctness twin runs exactly that.
    """
    cents = kmeans_centroids(
        corpus, n_centroids, n_iters, id_col, vec_col, seed, train_sample, init_hash
    )
    c_cell = _nearest_centroids(corpus, cents, 1, id_col, vec_col)
    c = corpus.join(c_cell, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "cid"
    )
    q_cell = _nearest_centroids(queries, cents, n_probe, id_col, vec_col)
    q = F.broadcast(
        queries.join(q_cell, id_col).select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "cid"
        )
    )
    scored = (
        c.join(q, on="cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(
                F.col("q_vec").cast("array<double>"),
                F.col("c_vec").cast("array<double>"),
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank")
    )


def near_dup_by_cosine(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim ≥ threshold) — exact,
    on the sharded block-pair kernel :func:`_block_pairs`: the driver
    holds nothing, and the O(N²) compare spreads over S·(S+1)/2 tasks.
    Use :func:`near_dup_by_cosine_lsh` / :func:`ivf_ann_topk` when
    approximate answers are acceptable and N² itself is the problem.

    FP recipe (shared with the DuckDB oracle): un-normalised float64
    GEMM, divide by the floored L2 norms, threshold the UNROUNDED value,
    round only the survivors to 6 places.
    """

    def prep(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        m = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        return m, np.maximum(np.linalg.norm(m, axis=1), 1e-12)

    def score(a, b):
        sims = (a[0] @ b[0].T) / (a[1][:, None] * b[1][None, :])
        ia, ib = np.nonzero(sims >= threshold)
        return ia, ib, np.round(sims[ia, ib], 6)

    rows = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return _block_pairs(rows, "cos_sim", prep, score)


def _scaled_shards(
    n_docs: int, parallelism: int, target_block_rows: int = 25_000
) -> int:
    """Shard count S for :func:`_block_pairs`: the smallest S whose
    S·(S+1)/2 shard-pair tasks cover ``parallelism`` slots, raised so
    each shard holds at most ~``target_block_rows`` docs — bounding the
    per-task GEMM inputs (the verifier row-chunks the temporaries) no
    matter how large the corpus is."""
    s = max(1, -(-n_docs // target_block_rows))
    while s * (s + 1) // 2 < parallelism:
        s += 1
    return s


# Left-side row-chunk for the per-group GEMMs: bounds the largest
# temporary to chunk × block_rows doubles (4096 × 25k × 8 B ≈ 800 MB)
# instead of block_rows² (~5 GB at the 25k target block).
_GEMM_ROW_CHUNK = 4096


def _block_pairs(rows: DataFrame, value_col: str, prep, score) -> DataFrame:
    """Exact all-pairs kernel shared by the exact near-dup operators:
    (doc_a < doc_b, ``value_col``) for every pair ``score`` keeps.

    ``rows`` has an ``id`` column plus the payload ``prep`` reads. One
    count sizes S (:func:`_scaled_shards`); rows hash into S shards and
    every unordered shard pair (s ≤ t) is one task group. A JVM-side
    ``sequence``+``explode`` fans each row of shard u out S times: as
    side A (role 0) to groups (u, t≥u) and as side B (role 1) to groups
    (s<u, u), so each unordered row pair lands in exactly one group and
    the plan has one exchange (hash by group). Per group,
    ``prep(pdf) -> tuple of row-aligned arrays`` runs once per side and
    ``score(a_chunk, b) -> (ia, ib, values)`` runs per left row chunk;
    this helper maps positions to ids, keeps one order of each
    diagonal-group pair and canonicalises the rest.
    """
    S = _scaled_shards(rows.count(), rows.sparkSession.sparkContext.defaultParallelism)
    u, k = F.col("_u"), F.col("_k")
    fanned = (
        rows.withColumn("_u", F.pmod(F.xxhash64("id"), F.lit(S)))
        .withColumn("_k", F.explode(F.sequence(F.lit(0), F.lit(S - 1))))
        .withColumn("role", (k >= S - u).cast("int"))
        .withColumn(
            "pair", F.when(k < S - u, u * S + u + k).otherwise((k - S + u) * S + u)
        )
        .drop("_u", "_k")
    )
    empty = pd.DataFrame(
        {
            "doc_a": np.array([], dtype=np.int64),
            "doc_b": np.array([], dtype=np.int64),
            value_col: np.array([], dtype=np.float64),
        }
    )

    def verify(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pair = int(key[0])
        diagonal = pair // S == pair % S
        if diagonal:  # one shard scored against itself: side A only
            left = right = pdf
        else:
            left, right = pdf[pdf["role"] == 0], pdf[pdf["role"] == 1]
        if left.empty or right.empty:
            return empty
        la, rb = prep(left), prep(right)
        l_ids, r_ids = left["id"].to_numpy(), right["id"].to_numpy()
        outs = []
        for lo in range(0, len(l_ids), _GEMM_ROW_CHUNK):
            ia, ib, vals = score(tuple(x[lo:lo + _GEMM_ROW_CHUNK] for x in la), rb)
            a_ids, b_ids = l_ids[lo + ia], r_ids[ib]
            if diagonal:
                # every pair appears as (i, j) and (j, i), plus self-pairs
                keep = a_ids < b_ids
                a_ids, b_ids, vals = a_ids[keep], b_ids[keep], vals[keep]
            else:
                # disjoint shards: each pair appears once, in arbitrary id
                # order — canonicalise, never filter
                a_ids, b_ids = np.minimum(a_ids, b_ids), np.maximum(a_ids, b_ids)
            outs.append(pd.DataFrame({"doc_a": a_ids, "doc_b": b_ids, value_col: vals}))
        return pd.concat(outs, ignore_index=True)

    return fanned.groupBy("pair").applyInPandas(
        verify, schema=f"doc_a long, doc_b long, {value_col} double"
    )


def lsh_auto_bits(n_docs: int, target_bucket_rows: int = 2, max_bits: int = 24) -> int:
    """Scale-adaptive signature width: the smallest ``bits`` such that
    2^bits buckets hold ~``target_bucket_rows`` docs each. Fixed bits
    do NOT scale — at constant bits, per-bucket occupancy (and thus
    candidate volume) grows linearly with the corpus, degenerating LSH
    to near-all-pairs; this mirrors ``_scaled_shards`` for the blocked
    GEMM paths. Pure integer arithmetic so any SQL oracle can replay it
    exactly (no cross-engine log2 rounding)."""
    buckets_needed = -(-max(n_docs, 1) // target_bucket_rows)
    return max(1, min(max_bits, (buckets_needed - 1).bit_length()))


def lsh_frac_floor_bits(
    threshold: float,
    target_recall: float = 0.95,
    max_frac: float = 0.25,
    max_bits: int = 24,
) -> int:
    """Smallest signature width whose PREDICTED random-pair candidate
    fraction stays ≤ ``max_frac`` once enough tables are stacked to hit
    ``target_recall`` at the threshold: frac(b) = 1-(1-2^-b)^T(b),
    which is scale-FREE (no N). Complements :func:`lsh_auto_bits`: the
    occupancy bits bound absolute candidate VOLUME as N grows; this
    floor bounds the FRACTION at small N. Resolving bits as the max of
    the two also stops over-paying signatures — every bit above the
    floor multiplies the table count by ~1/p_plane for no candidate-
    volume benefit once occupancy is already ~1 (the round-3→4 lesson:
    at N=2k/θ≈63° the old occupancy-only resolution picked 11 bits →
    295 tables, 2.4× the signature work of the 9-bit floor for the
    same recall and capped fraction)."""
    for b in range(1, max_bits + 1):
        t = lsh_auto_tables(threshold, b, target_recall)
        frac = 1.0 - (1.0 - 0.5**b) ** t
        if frac <= max_frac:
            return b
    return max_bits


def lsh_auto_tables(
    threshold: float,
    n_bits: int,
    target_recall: float = 0.95,
    max_tables: int = 4096,
) -> int:
    """Table count that hits ``target_recall`` for pairs AT the
    threshold (everything above it collides more often): per-table
    collision for a pair at angle θ is p₁ = (1-θ/π)^bits, so
    T = ln(1-R)/ln(1-p₁). This is the honest hyperplane-LSH scale
    shape — at fixed threshold, auto-bits keeps candidates linear in N
    but p₁^bits shrinks with bits, so T must grow ~N^ρ
    (ρ = ln 1/p₁ / ln 1/p₂): total candidate work is Θ(N^(1+ρ)),
    sub-quadratic, vs the exact operator's Θ(N²). Resolved in driver
    Python (both the operator and its SQL-oracle generator call this
    same function — no cross-engine FP risk)."""
    import math

    p_plane = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    p_table = min(max(p_plane, 1e-9), 1.0 - 1e-9) ** n_bits
    t = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_table))
    return max(1, min(max_tables, t))


def _bucket_array_signatures(
    df: DataFrame,
    n_bits: int,
    dim: int,
    id_col: str,
    vec_col: str,
    seed: int,
    n_tables: int,
) -> DataFrame:
    """One row per vector with its per-table LSH bucket ids as an
    ARRAY — the vector crosses the Arrow boundary ONCE (vs once per
    table if the explode happened in Python); the n_tables-fold
    expansion is a JVM-side ``posexplode`` downstream. Same plane
    stream as :func:`hyperplane_signatures`
    (``RandomState(seed).standard_normal((n_tables, dim, n_bits))``),
    so the SQL oracle twin inlines identical constants."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("buckets", T.ArrayType(T.LongType())),
        ]
    )

    def compute(it):
        planes = np.random.RandomState(seed).standard_normal((n_tables, dim, n_bits))
        # (dim, n_tables*n_bits): one GEMM per batch covers every table
        flat = planes.transpose(1, 0, 2).reshape(dim, n_tables * n_bits)
        weights = 1 << np.arange(n_bits, dtype=np.int64)
        for pdf in it:
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (mat @ flat) > 0  # (n, n_tables*n_bits)
            bkts = (
                bits.reshape(len(mat), n_tables, n_bits).astype(np.int64) * weights
            ).sum(axis=2)  # (n, n_tables)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "buckets": list(bkts)}
            )

    return df.select(id_col, vec_col).mapInPandas(compute, schema=out_schema)


def _expanded_dot(a, b, dim: int):
    """Dot product as an EXPANDED sum of ``dim`` products — a plain
    codegen'd arithmetic chain. The lambda-based ``_dot``
    (zip_with+aggregate) is evaluated per element by the higher-order-
    function interpreter, ~20× slower on the per-pair hot path; the
    expansion keeps the same left-assoc sequential FP order as the
    fold (and as an accumulate loop in a SQL oracle)."""
    out = a[0] * b[0]
    for i in range(1, dim):
        out = out + a[i] * b[i]
    return out


def near_dup_by_cosine_lsh(
    df: DataFrame,
    threshold: float = 0.9,
    n_bits: int | None = None,
    n_tables: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    target_bucket_rows: int = 2,
    target_recall: float = 0.95,
    max_broadcast_rows: int = 500_000,
) -> DataFrame:
    """APPROXIMATE embedding near-dup pairs — the sub-quadratic sibling
    of :func:`near_dup_by_cosine`: candidate pairs share a random-
    hyperplane LSH bucket in ANY of ``n_tables`` tables, verified with
    exact cosine (unrounded) against ``threshold``; only survivors are
    rounded. Work is Σ_buckets |bucket|² instead of N².

    Scale shape (the round-3 defect fix — both halves):

    - ``n_bits=None`` (default) AUTO-SCALES the signature width via
      :func:`lsh_auto_bits` so buckets hold ~``target_bucket_rows``
      docs no matter the corpus size — candidate volume stays
      ~``n_tables·N·target/2`` (LINEAR in N) instead of quadratic at
      fixed bits. Costs one ``count()``.
    - Candidate generation is SKINNY (id, table, bucket) rows only —
      the vectors cross the Arrow boundary once for signatures and
      never ride the bucket shuffle. Verification is gated on corpus
      size: ≤ ``max_broadcast_rows`` broadcasts the corpus matrix
      once and scores candidate batches with vectorized gathers (no
      corpus re-join at all); above it, two skinny
      key-joins fetch vectors for the deduped candidates and a
      codegen'd expanded-dot cosine scores them. ``dropDuplicates``
      runs on SURVIVORS (broadcast regime) or on the skinny pair set
      pre-join (distributed regime) — never on wide rows.

    Recall is tunable: more tables → recall at linear cost (gate:
    tests/test_functions.py asserts ≥0.9 vs the exact operator at the
    entry operating point). Wide thresholds (small cos) need MANY
    tables — per-table collision is (1-θ/π)^bits. The bucket shuffle
    is (table, bucket) keyed skinny rows — no broadcast of the corpus
    in candidate generation, no driver state beyond the resolved bit
    count."""
    if n_bits is None:
        n_docs = df.count()  # exact N drives the bit resolution
    else:
        # bits pinned: table resolution never looks at N, so only the
        # verify-regime gate needs it, and a limit(k+1) probe answers
        # "≤ k?" without a full scan
        n_docs = df.select(id_col).limit(max_broadcast_rows + 1).count()
    if n_bits is None:
        # occupancy bits bound candidate VOLUME as N grows; the frac
        # floor bounds candidate FRACTION (and table count) at small N
        n_bits = max(
            lsh_auto_bits(n_docs, target_bucket_rows),
            lsh_frac_floor_bits(threshold, target_recall),
        )
    if n_tables is None:
        n_tables = lsh_auto_tables(threshold, n_bits, target_recall)
    # candidate generation on SKINNY rows only — (id, table, bucket),
    # 24 B/row; vectors never ride the bucket shuffle. NOT a self-join:
    # groupBy(table,bucket) + collect_list + a JVM pair-explode emits
    # the identical candidate multiset with ONE exchange and a single
    # consumption of the Python signature stage (a self-join would
    # shuffle both sides and need a checkpoint to avoid recomputing the
    # Arrow pass). Per-bucket fan-out is |bucket|² but auto-bits holds
    # |bucket| ≈ target_bucket_rows, so the explode stays linear in N.
    sig = _bucket_array_signatures(df, n_bits, dim, id_col, vec_col, seed, n_tables)
    # NO dropDuplicates here: a pair colliding in k tables costs k
    # cheap vectorized re-verifications (k ≈ T·p₁, small), which is
    # far cheaper than a full-width shuffle of the candidate set; the
    # dedup runs post-filter on SURVIVORS (≈ true pairs, tiny).
    #
    # Pair generation is posexplode + per-element SLICE of the bucket's
    # id array, NOT a flattened |bucket|²-struct array: the slice keeps
    # per-row memory O(|bucket|) so one pathological bucket (a giant
    # exact-duplicate cluster hashes identically in EVERY table, no
    # matter the bit width) degrades to |bucket|² output ROWS instead
    # of a single 2 GB array that kills the executor. (Such clusters
    # should still be collapsed by exact dedup first — their pair
    # OUTPUT is inherently quadratic.)
    cand = (
        sig.select(id_col, F.posexplode("buckets").alias("table", "bucket"))
        .groupBy("table", "bucket")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.col("ids"), F.posexplode("ids").alias("_i", "_a"))
        .select(
            F.col("_a"),
            F.explode(F.slice(F.col("ids"), F.col("_i") + 2, F.size("ids"))).alias("_b"),
        )
        .select(
            F.least("_a", "_b").alias("doc_a"), F.greatest("_a", "_b").alias("doc_b")
        )
    )
    # exact verify, gated on corpus size:
    if n_docs <= max_broadcast_rows:
        # broadcast the corpus matrix once; candidates stream through
        # as Arrow batches of id pairs and one vectorized gather+dot
        # scores each batch — same FP recipe as near_dup_by_cosine
        # (unnormalized dot, divide by norms, threshold unrounded)
        out_schema = T.StructType(
            [
                T.StructField("doc_a", T.LongType()),
                T.StructField("doc_b", T.LongType()),
                T.StructField("cos_sim", T.DoubleType()),
            ]
        )
        pdf = df.select(id_col, vec_col).toPandas()
        if pdf.empty:  # np.vstack rejects zero arrays; no pairs anyway
            return df.sparkSession.createDataFrame([], out_schema)
        ids = pdf[id_col].to_numpy()
        mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.maximum(np.linalg.norm(mat, axis=1), 1e-12)
        idx = {int(i): k for k, i in enumerate(ids)}
        bc = df.sparkSession.sparkContext.broadcast((idx, mat, norms))

        def verify(it):
            c_idx, c_mat, c_norms = bc.value
            for block in it:
                ia = block["doc_a"].map(c_idx).to_numpy()
                ib = block["doc_b"].map(c_idx).to_numpy()
                sims = np.einsum("ij,ij->i", c_mat[ia], c_mat[ib]) / (
                    c_norms[ia] * c_norms[ib]
                )
                keep = sims >= threshold
                yield pd.DataFrame(
                    {
                        "doc_a": block["doc_a"].to_numpy()[keep],
                        "doc_b": block["doc_b"].to_numpy()[keep],
                        "cos_sim": np.round(sims[keep], 6),
                    }
                )

        return cand.mapInPandas(verify, schema=out_schema).dropDuplicates(
            ["doc_a", "doc_b"]
        )
    # distributed fallback: two key-joins fetch the vectors (linear
    # shuffles — candidate rows stay ~n_tables·target/2·N thanks to
    # auto-bits), then one expanded-dot cosine. HERE the dedup runs
    # pre-join: a skinny (doc_a, doc_b) shuffle is cheaper than
    # carrying duplicate WIDE vector rows through two joins.
    cand = cand.dropDuplicates()
    v = F.col(vec_col).cast("array<double>")
    vecs = df.select(
        F.col(id_col).alias("_vid"), v.alias("_v"),
        # norm once per vector, floored like the broadcast path — a
        # zero vector would make sim 0/0 = NaN, and Spark SQL orders
        # NaN ABOVE every double, so `>= threshold` would pass it
        F.greatest(
            F.sqrt(_expanded_dot(v, v, dim)), F.lit(1e-12)
        ).alias("_n"),
    )
    sim = _expanded_dot(F.col("_va"), F.col("_vb"), dim) / (
        F.col("_na") * F.col("_nb")
    )
    return (
        cand.join(
            vecs.select(F.col("_vid").alias("doc_a"), F.col("_v").alias("_va"),
                        F.col("_n").alias("_na")), "doc_a")
        .join(
            vecs.select(F.col("_vid").alias("doc_b"), F.col("_v").alias("_vb"),
                        F.col("_n").alias("_nb")), "doc_b")
        .withColumn("_s", sim)
        .filter(F.col("_s") >= threshold)
        .select("doc_a", "doc_b", F.round("_s", 6).alias("cos_sim"))
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_sample: int = 200_000,
    init_hash: str = "xxhash64",
    chunk: int = 2048,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with spherical k-means, then inside each cluster
    drop every vector that has a LOWER-id neighbor with cosine ≥
    ``threshold`` — per-point ε-neighbor pruning, deliberately NOT
    connected components (matching the paper: one representative
    survives per tight semantic neighborhood, chains don't merge).
    Emits every row with its cluster and a ``keep`` verdict.

    Scale shape: k-means trains on a cached hash-sample (see
    :func:`kmeans_centroids`), assignment is one full scan, and the
    O(n²) compare is confined to ``groupBy(cid).applyInPandas`` — work
    is Σ_clusters |cluster|², and worker memory is bounded by
    ``chunk × |cluster|`` (the per-cluster GEMM runs in row chunks, the
    full pair matrix is never materialized). At 10⁹ docs you raise
    ``n_centroids`` so clusters stay ~10⁴ — the paper's regime.

    ``n_iters=0`` + ``init_hash="sha256"`` is the oracle mode: the
    whole chain (init ordering, argmax cell, in-cluster ε-neighbor
    test) is reproduced in ANSI SQL by the DuckDB twin.
    """
    cents = kmeans_centroids(
        df, n_centroids, n_iters, id_col, vec_col, seed, train_sample, init_hash
    )
    cell = _nearest_centroids(df, cents, 1, id_col, vec_col)
    v = df.join(cell, id_col).select(id_col, vec_col, "cid")
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cid", T.IntegerType()),
            T.StructField("keep", T.BooleanType()),
        ]
    )

    def prune(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        n = len(mat)
        keep = np.ones(n, dtype=bool)
        # rows sorted by id: row i is dropped iff any j<i has sim>=thr;
        # chunked GEMM keeps memory at O(chunk * n)
        for lo in range(1, n, chunk):
            hi = min(lo + chunk, n)
            sims = mat[lo:hi] @ mat.T  # (hi-lo, n)
            for r in range(lo, hi):
                if (sims[r - lo, :r] >= threshold).any():
                    keep[r] = False
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "cid": np.full(n, key[0], dtype=np.int32),
                "keep": keep,
            }
        )

    return v.groupBy("cid").applyInPandas(prune, schema=out_schema)
