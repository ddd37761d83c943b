"""Deduplication operators for training-data pipelines.

Scale design notes (the 100 TB story):
- exact: one groupBy on a 128-bit fingerprint — shuffle carries
  (fingerprint, id), never the text.
- token-Jaccard: explode to (token, doc) postings, self-join on token
  (shuffle co-partitioned by token), count shared tokens, then one
  broadcast-able per-doc-cardinality join. Works when the token
  vocabulary is large (postings lists short); for web-scale corpora
  use the MinHash-LSH variant instead.
- MinHash-LSH: per-doc signatures via a *vectorized* pandas UDF
  (numpy matrix ops over Arrow batches — no per-row Python), banded
  into buckets; only same-bucket candidates are joined. Candidate
  count is O(near-dup pairs), not O(n²).
- SimHash: 64-bit signature, near-dups = small hamming distance;
  same vectorized-UDF pattern.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from go_cdc_spark.functions.similarity import _block_pairs
from go_cdc_spark.functions.text import fingerprint

# ---------------- exact ----------------


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (whitespace-normalized) docs: one row
    per group with the canonical (min-id) representative."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("group_size"),
        )
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative per exact-duplicate group."""
    keep = exact_duplicates(df, text_col, id_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="semi")


def incremental_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming-ingest exact dedup: admit only the newly-arrived docs
    whose content fingerprint is neither already in the corpus
    ``index`` (a DataFrame with an ``fp`` column — e.g. the fingerprint
    projection of the lake table, bucketed by ``fp`` at scale) nor
    claimed by an earlier doc in the same batch (min-``id_col`` wins,
    matching exact_duplicates' canonical-representative rule).

    This is the dedup gate a CDC-fed corpus runs per micro-batch: the
    index side never rescans the corpus text — fingerprints only — and
    the plan is one anti-join on ``fp`` (sort-merge co-partitioned, or
    storage-bucketed to kill the shuffle entirely) plus one map-side-
    combined min-aggregate over the batch. Returns (id_col, fp)."""
    fresh = new_docs.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fp")
    ).join(index.select("fp").distinct(), "fp", "anti")
    return (
        fresh.groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "fp")
    )


# ---------------- token-set Jaccard ----------------


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return (
        df.select(
            id_col,
            F.explode(
                F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
            ).alias("token"),
        )
        .filter(F.length("token") > 0)
    )


def _token_arrays(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.filter(
            F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")),
            lambda x: F.length(x) > 0,
        ).alias("_toks"),
    )


def _jaccard_gemm(
    df: DataFrame, vocab: list[str], threshold: float, text_col: str, id_col: str
) -> DataFrame:
    """Dense-vocabulary regime: every token is effectively a stopword,
    so posting-list pruning (prefix filter) cannot prune — the answer
    really is near-all-pairs. Each doc's JVM-built token array fans out
    on the sharded block-pair kernel (:func:`similarity._block_pairs`);
    per group, the verifier builds float32 incidence rows over the
    closure-shipped vocabulary index and computes every intersection
    with one GEMM. Driver state is O(|vocab|) regardless of corpus size.
    Exact: |A∩B| from the float32 GEMM (counts ≤ |vocab| « 2^24),
    |A∪B| = |A|+|B|−|A∩B| and the divide in float64, so the 6-decimal
    round matches the SQL oracle bit-for-bit.
    """
    index = pd.Index(vocab)

    def prep(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        toks = pdf["_toks"].to_numpy()
        lens = np.fromiter(map(len, toks), dtype=np.int64, count=len(toks))
        m = np.zeros((len(toks), len(vocab)), dtype=np.float32)
        m[np.repeat(np.arange(len(toks)), lens), index.get_indexer(np.concatenate(toks))] = 1.0
        return m, m.sum(axis=1, dtype=np.float64)

    def score(a, b):
        inter = (a[0] @ b[0].T).astype(np.float64)
        union = a[1][:, None] + b[1][None, :] - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = np.round(np.where(union > 0, inter / union, 0.0), 6)
        ia, ib = np.nonzero(jac >= threshold)
        return ia, ib, jac[ia, ib]

    rows = _token_arrays(df, text_col, id_col).withColumnRenamed(id_col, "id")
    return _block_pairs(rows, "jaccard", prep, score)


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    dense_vocab_max: int = 4096,
) -> DataFrame:
    """Near-duplicate pairs by token-set Jaccard ≥ threshold — EXACT,
    via the AllPairs/PPJoin prefix filter.

    A raw postings self-join explodes on high-frequency tokens (the
    "the" posting list alone is O(n_docs²) pairs). Two exact prunes fix
    that without changing the result:

    - prefix filter: order each doc's tokens by ascending global doc
      frequency; if J(A,B) ≥ t the two docs MUST share a token within
      their first ``n_tok − ⌈t·n_tok⌉ + 1`` tokens (else the overlap
      budget is unreachable). Only these rare-token prefix postings are
      self-joined, so the join intermediate is driven by the vocabulary
      tail, not the stopword head.
    - length filter: J(A,B) ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t, applied inside
      the candidate join.

    Candidates are then verified exactly: one join back to the per-doc
    sorted token arrays, ``array_intersect`` JVM-side. Shuffles are all
    linear in the postings (token-df, per-doc window, candidate join);
    nothing is quadratic in docs sharing a common token.

    Degenerate regime: when the measured vocabulary is tiny
    (≤ ``dense_vocab_max``), every token is a stopword, no posting-list
    scheme can prune, and the true answer is near-all-pairs — the
    planner switches to :func:`_jaccard_gemm`, an incidence-matrix GEMM
    on the sharded block-pair kernel, which is ~50× faster there and
    never collects the corpus to the driver (the vocabulary bounds
    columns, not rows). Both paths return identical results.
    """
    toks = _tokens(df, text_col, id_col)
    dfreq = toks.groupBy("token").agg(F.count("*").alias("_df"))
    vocab = [r["token"] for r in dfreq.select("token").limit(dense_vocab_max + 1).collect()]
    if len(vocab) <= dense_vocab_max:
        return _jaccard_gemm(df, sorted(vocab), threshold, text_col, id_col)
    posts = toks.join(dfreq, "token")
    w = Window.partitionBy(id_col).orderBy("_df", "token")
    pref = (
        posts.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(Window.partitionBy(id_col)))
        .filter(
            F.col("_rn")
            <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
        )
        .select(id_col, "token", "_n")
    )
    a = pref.select(
        F.col(id_col).alias("doc_a"), "token", F.col("_n").alias("n_a")
    )
    b = pref.select(
        F.col(id_col).alias("doc_b"), "token", F.col("_n").alias("n_b")
    )
    cand = (
        a.join(b, on="token")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("n_a") >= F.lit(threshold) * F.col("n_b"))
            & (F.col("n_b") >= F.lit(threshold) * F.col("n_a"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    arrs = _token_arrays(df, text_col, id_col)
    aa = arrs.select(F.col(id_col).alias("doc_a"), F.col("_toks").alias("_ta"))
    bb = arrs.select(F.col(id_col).alias("doc_b"), F.col("_toks").alias("_tb"))
    n_common = F.size(F.array_intersect("_ta", "_tb"))
    return (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                n_common / (F.size("_ta") + F.size("_tb") - n_common), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------- MinHash + LSH ----------------

# Deterministic universal-hash parameters: h_i(x) = (a_i*x + b_i) mod p.
# p = 2^31−1 (Mersenne) keeps every product a_i*x < 2^62, so the whole
# (n_hashes × n_shingles) hashing grid stays in vectorized int64 numpy —
# the previous 61-bit prime forced Python-object bigint arrays, which
# made signature computation ~20× slower.
_MERSENNE_P = (1 << 31) - 1


def _hash_params(n_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rs = np.random.RandomState(seed)  # fixed seed ⇒ same planes everywhere
    a = rs.randint(1, _MERSENNE_P, size=n_hashes, dtype=np.int64)
    b = rs.randint(0, _MERSENNE_P, size=n_hashes, dtype=np.int64)
    return a, b


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = 64,
    shingle_len: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per doc over word ``shingle_len``-grams —
    entirely JVM-side Column expressions, zero Python in the hot path
    (the previous version ran per-shingle ``blake2b`` inside a pandas
    UDF — the repo's last per-item Python loop).

    Shingling is a higher-order ``transform``+``slice`` over the token
    array; the shingle id is the first 60 bits of ``sha2(shingle, 256)``
    reduced mod p = 2³¹−1 (60 bits parse exactly into a signed long via
    ``conv``, and sha256 is reproducible in ANSI SQL, which is what
    makes the DuckDB oracle twin possible); shingle ids then EXPLODE to
    rows and signature position i is a ``min`` aggregate of the
    universal hash (aᵢ·x + bᵢ) mod p — products stay < 2⁶² so the whole
    grid is native long arithmetic, and the 64 mins are one map-side-
    combined hash aggregate (the shuffle carries 64 longs per doc,
    independent of doc length). The explode+agg shape replaces an
    earlier 64×``array_min(transform(...))`` formulation: higher-order
    functions are interpreted per row (no whole-stage codegen), which
    measured ~6× slower at sf0.1 — same trap simhash avoids the same
    way.
    """
    a, b = _hash_params(n_hashes, seed)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    # token array materializes as its own column: `shingles` references
    # it 3× and re-tokenizing inside the interpreted HOF is measurable
    t = F.col("_t")
    shingles = F.when(
        F.size(t) >= shingle_len,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - shingle_len + 1),
            lambda i: F.concat_ws(" ", F.slice(t, i, shingle_len)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", t)))
    # sha2 runs ROW-LEVEL after the explode (whole-stage codegen), not
    # inside the shingle lambda: higher-order-function bodies are
    # interpreted, and hashing there measured ~4× slower at sf0.1
    sh_id = F.pmod(
        F.conv(F.substring(F.sha2(F.col("_s"), 256), 1, 15), 16, 10).cast("long"),
        F.lit(_MERSENNE_P),
    )
    exploded = (
        df.select(F.col(id_col), toks.alias("_t"))
        .select(F.col(id_col), F.explode(shingles).alias("_s"))
        .select(F.col(id_col), sh_id.alias("_x"))
    )
    mins = [
        F.min(
            F.pmod(F.lit(int(ai)) * F.col("_x") + F.lit(int(bi)), F.lit(_MERSENNE_P))
        ).alias(f"_m{i}")
        for i, (ai, bi) in enumerate(zip(a, b))
    ]
    sig = F.array(*[F.col(f"_m{i}") for i in range(n_hashes)])
    return (
        exploded.groupBy(id_col).agg(*mins).select(F.col(id_col), sig.alias("signature"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_len: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """LSH-banded candidate pairs + MinHash-estimated Jaccard ≥ threshold.

    shingle→minhash→band→bucket-join: docs sharing any band bucket are
    candidates; the estimated Jaccard = fraction of matching signature
    positions. Candidate join is per-bucket, never all-pairs.
    """
    assert n_hashes % bands == 0
    rows_per_band = n_hashes // bands
    sigs = minhash_signatures(df, n_hashes, shingle_len, text_col, id_col, seed)
    banded = sigs.select(
        id_col,
        "signature",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(
                    F.slice(F.col("signature"), i * rows_per_band + 1, rows_per_band),
                    i,
                ),
            )
        ).alias("band", "bucket"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(n_hashes)
    return (
        cand.withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


# ---------------- winnowing (rolling-hash fingerprints) ----------------


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowed rolling-hash fingerprints per doc (the MOSS algorithm,
    Schleimer et al. SIGMOD'03) — the standard local-similarity
    fingerprint for source code.

    Per doc: polynomial rolling hash over every char k-gram (base-257,
    natural uint64 wraparound), then keep the minimum hash of each
    sliding window of ``window`` consecutive k-grams (rightmost-min
    tie-break), deduplicated. Guarantees any shared substring of length
    ≥ k + window − 1 yields a shared fingerprint. All numpy strided ops
    per Arrow batch — no per-char Python.
    """
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("fp", T.LongType()),
        ]
    )
    base = np.uint64(257)

    def compute(it):
        from numpy.lib.stride_tricks import sliding_window_view

        pows = base ** np.arange(k, dtype=np.uint64)[::-1]  # wraps mod 2^64
        for pdf in it:
            ids, fps = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                b = np.frombuffer(str(text).encode("utf-8"), dtype=np.uint8)
                if len(b) < k:
                    continue
                grams = sliding_window_view(b, k).astype(np.uint64)
                hashes = (grams * pows).sum(axis=1)  # uint64 wraparound
                if len(hashes) >= window:
                    wins = sliding_window_view(hashes, window)
                    # rightmost min per window: reverse, argmin, map back
                    picks = (window - 1) - np.argmin(wins[:, ::-1], axis=1)
                    sel = np.unique(picks + np.arange(len(wins)))
                    chosen = np.unique(hashes[sel])
                else:
                    chosen = np.unique(hashes)
                ids.extend([doc_id] * len(chosen))
                fps.extend(chosen.view(np.int64))  # bit-reinterpret to signed
            yield pd.DataFrame({id_col: ids, "fp": fps})

    return df.select(id_col, text_col).mapInPandas(compute, schema=out_schema)


def winnow_near_pairs(
    df: DataFrame,
    min_shared: int = 5,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Doc pairs sharing ≥ ``min_shared`` winnowed fingerprints —
    near-dup / plagiarism-style detection. The join is per-fingerprint
    (inverted index), never all-pairs; ubiquitous fingerprints (shared
    by > 0.5% of docs or > 100 docs) are dropped first, the standard
    index-pruning step that keeps boilerplate from exploding the join.
    """
    fps = winnow_fingerprints(df, k, window, text_col, id_col)
    # the ubiquity cap needs n_docs: fold it into the lazy plan as a
    # broadcast 1-row aggregate instead of a separate count() action
    n_docs_df = df.agg(F.count(F.lit(1)).alias("_n_docs"))
    cap = F.greatest(F.ceil(F.col("_n_docs") * F.lit(0.005)), F.lit(100))
    rare_fps = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("_df"))
        .crossJoin(F.broadcast(n_docs_df))
        .filter(F.col("_df") <= cap)
        .select("fp")
    )
    rare = fps.join(rare_fps, "fp")
    a = rare.select(F.col(id_col).alias("doc_a"), "fp")
    b = rare.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------- SimHash ----------------


def _simhash_bits(hash_mode: str) -> int:
    """Signature width per token-hash primitive: xxhash64 fills all 64
    bits; the sha256 oracle mode parses the digest's first 15 hex chars
    (60 bits — the widest prefix that fits a signed long in both Spark
    ``conv`` and DuckDB's hex cast)."""
    return 64 if hash_mode == "xxhash64" else 60


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """SimHash per doc (token-hash bit-vote) — entirely JVM-side.

    Tokens explode once, each token hashes with ``xxhash64`` (codegen),
    and the 64 per-bit votes are 64 map-side-combined sum aggregations:
    the shuffle carries 65 longs per doc regardless of doc length, and
    no Python runs at all (the previous version hashed every token with
    ``hashlib`` inside a pandas UDF). Bit i of the signature is set iff
    a strict majority of the doc's token hashes set it; the bit-63 term
    uses ``shiftleft`` wraparound so the reassembled long carries the
    two's-complement pattern. Token-less docs keep signature 0 via the
    left join back to the id set.

    ``hash_mode="sha256"`` swaps the token hash for the first 60 bits
    of ``sha2(token, 256)`` — same votes, same blocking, but every step
    is ANSI-SQL-reproducible, which is what the DuckDB correctness
    oracle runs. xxhash64 stays the production default (one codegen'd
    long vs a 64-hex digest + parse per token).
    """
    n_bits = _simhash_bits(hash_mode)
    token_hash = (
        F.xxhash64("_tok")
        if hash_mode == "xxhash64"
        else F.conv(F.substring(F.sha2("_tok", 256), 1, 15), 16, 10).cast("long")
    )
    toks = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("_tok"),
        )
        .filter(F.length("_tok") > 0)
        .withColumn("_th", token_hash)
    )
    bit_sums = [
        F.sum(F.shiftrightunsigned("_th", i).bitwiseAND(F.lit(1))).alias(f"_b{i}")
        for i in range(n_bits)
    ]
    votes = toks.groupBy(id_col).agg(F.count("*").alias("_n"), *bit_sums)
    sig = None
    for i in range(n_bits):
        term = F.when(
            F.col(f"_b{i}") * 2 > F.col("_n"),
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    sigs = votes.select(F.col(id_col), sig.alias("simhash"))
    return (
        df.select(id_col)
        .join(sigs, id_col, "left")
        .select(F.col(id_col), F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"))
    )


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Pigeonhole blocking: split the signature into ``max_hamming+1``
    chunks — any pair within the distance budget shares at least one
    identical chunk, so the join is per-block, never all-pairs.
    """
    n_chunks = max_hamming + 1
    width = -(-_simhash_bits(hash_mode) // n_chunks)  # ceil
    mask = (1 << width) - 1
    sigs = simhash_signatures(df, text_col, id_col, hash_mode)
    chunks = sigs.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), k * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for k in range(n_chunks)
                ]
            )
        ).alias("chunk_pos", "chunk_val"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        a.join(b, on=["chunk_pos", "chunk_val"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------- connected components (dedup clusters) ----------------


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 50,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the
    canonical-selection stage of a dedup pipeline (pairs → clusters →
    keep min-id doc per cluster). Returns (doc_id, component) for every
    doc appearing in ``pairs``; ``component`` is the smallest doc id in
    the cluster, so it doubles as the canonical survivor. Docs with no
    pairs are their own components — callers union them in (cheap
    anti-join) rather than shipping every isolated doc through the
    contraction.

    Spark-first scale path: alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond" — public algorithm):

    - large-star: every node points its LARGER neighbors at the
      smallest node it can see (min of itself + neighborhood);
    - small-star: every node points its smaller-or-equal neighbors at
      that same minimum.

    Each round is one groupBy + one join over the edge list (linear
    shuffles, no driver state beyond a convergence checksum), and the
    edge set converges to a star forest in O(log n) rounds even on
    adversarial long-chain graphs — unlike plain min-label propagation,
    whose round count is the graph DIAMETER (a 10^6-long chain at
    100 TB would need 10^6 shuffles). Convergence is detected by an
    order-insensitive xxhash64 checksum of the edge set (one tiny
    action per round); the star forest then reads off components
    directly. Correctness is pinned against a pure-Python union-find
    oracle on adversarial graphs (chains, cliques, stars — see
    tests/test_functions.py) and a DuckDB recursive-closure oracle in
    the driver contract (``dedup_components``).
    """
    u, v = F.col("_u"), F.col("_v")
    e = pairs.select(
        F.expr(f"try_cast({a_col} AS LONG)").alias("_u"),
        F.expr(f"try_cast({b_col} AS LONG)").alias("_v"),
    )
    # materialize the edge list ONCE before anything consumes it:
    # `pairs` is typically the unmaterialized output of an expensive
    # candidate-generation pipeline (minhash/LSH banding), and the
    # null probe, the symmetric-closure union, and the first checksum
    # would each re-execute that lineage otherwise (edges are orders
    # smaller than the corpus, so the checkpoint is cheap)
    e = e.localCheckpoint(eager=True)
    # a non-numeric (or null) id try_casts to null and its pairs would
    # vanish from the graph — fail loudly instead
    n_null = e.filter(u.isNull() | v.isNull()).limit(1).count()
    if n_null:
        raise ValueError(
            f"connected_components: {a_col}/{b_col} contain ids that do not "
            "cast to long (null after cast); their pairs would be dropped"
        )
    e = e.filter(u != v)
    # symmetric closure once up front; stars keep orientation explicit;
    # checkpoint again so the first checksum and the first star round
    # don't both pay the distinct's shuffle
    edges = e.unionByName(e.select(v.alias("_u"), u.alias("_v"))).distinct()
    edges = edges.localCheckpoint(eager=True)

    def star(es: DataFrame, large: bool) -> DataFrame:
        m = es.groupBy("_u").agg(F.least(F.min("_v"), F.col("_u")).alias("_m"))
        linked = es.join(m, "_u").filter(u < v if large else u >= v)
        neighbor_edges = linked.select(F.col("_v").alias("_u"), F.col("_m").alias("_v"))
        # the center itself links to the min too — without this a
        # 2-node component's only surviving edge is a dropped self-loop
        center_edges = m.select("_u", F.col("_m").alias("_v"))
        out = neighbor_edges.unionByName(center_edges).filter(
            F.col("_u") != F.col("_v")
        )
        # re-symmetrize: both orientations must exist for the next star
        return out.unionByName(
            out.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
        ).distinct()

    def checksum(es: DataFrame) -> int:
        # bit_xor: order-insensitive and overflow-free (ANSI mode traps
        # a plain sum of int64 hashes)
        row = es.agg(
            F.expr("bit_xor(xxhash64(_u, _v))").alias("s"), F.count("*").alias("n")
        ).collect()[0]
        return hash((row["s"], row["n"]))

    prev = checksum(edges)
    converged = False
    for _ in range(max_rounds):
        edges = star(star(edges, large=True), large=False)
        # cut the lineage each round: the plan would otherwise double
        # per iteration (checkpoint-by-persist; tiny edge lists)
        edges = edges.localCheckpoint(eager=True)
        cur = checksum(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # an unconverged star forest is a WRONG component mapping —
        # downstream dedup would keep/drop the wrong docs silently
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} "
            "rounds (checksum still moving); raise max_rounds — "
            "large-star/small-star needs O(log n) rounds"
        )
    # star forest: component(u) = min(u, min neighbor)
    return (
        edges.groupBy("_u")
        .agg(F.least(F.min("_v"), F.col("_u")).alias("component"))
        .select(F.col("_u").alias("doc_id"), "component")
    )


def dedup_near(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    components: DataFrame | None = None,
) -> DataFrame:
    """Filter a corpus to its near-duplicate survivors: cluster the
    pair graph with :func:`connected_components` and keep, per cluster,
    only the canonical (min-id) doc; docs in no pair survive untouched.
    The losers set is one anti-join — pairs → clusters → filtered
    corpus is the complete dedup pipeline, and every stage is
    oracle-checked (`dedup_jaccard`, `dedup_components`,
    `dedup_near_keep` in the driver contract).

    ``components`` lets a caller that already ran (and e.g.
    checkpointed) the contraction over the SAME pair graph pass it in
    instead of paying the iterative fold twice — a (doc_id, component)
    frame as returned by :func:`connected_components`."""
    comp = (
        components
        if components is not None
        else connected_components(pairs, a_col, b_col)
    )
    losers = comp.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="anti")
