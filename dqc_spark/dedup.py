"""Deduplication operators for training-data pipelines.

Four families, ordered by cost:

  * exact           — hash-groupBy on a content digest (1 shuffle)
  * ngram_jaccard   — exact Jaccard over shingle sets for candidate pairs
  * minhash_lsh     — MinHash signatures + banded LSH: near-dup
                      candidates meet in a bucket join instead of an
                      O(n^2) cross join (the 100 TB path)
  * simhash         — 64-bit SimHash + pigeonhole chunk join

All signatures are computed with vectorized/pandas kernels inside Arrow
batches; all pair-finding is expressed as joins/groupBys so Catalyst
plans the shuffles (AQE handles bucket skew).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dqc_spark.cache import track
from dqc_spark.wordhash import fold_tokens, fold_tokens_col

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (text_hash, n) with n > 1.
    md5 runs JVM-side; the groupBy shuffles 16-byte digests, not text."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def dedup_exact(df: DataFrame, key_cols: list[str], text_col: str = "text") -> DataFrame:
    """Keep one representative per identical text: the lexicographically
    smallest key TUPLE wins — min over a struct, so the winner is always
    an actual row's key combination.  (Per-column ``F.min(k)`` minima
    taken independently fabricate phantom winners for multi-column keys:
    a group with keys (1,5),(2,3) would elect (1,3), which matches no
    row, and the semi-join would drop BOTH copies.)  Still a window-free
    two-phase agg — min(struct) is partial-aggregatable, no global sort.
    The flat-priority special case of ``dedup_exact_priority`` — ONE
    election implementation, so a fix applies to both."""
    return dedup_exact_priority(df, key_cols, F.lit(0), text_col)


def source_priority_col(
    source_col: str | F.Column, ranks: dict[str, int],
) -> F.Column:
    """Map a source/provenance column to an integer preference rank
    (lower = preferred) for ``dedup_exact_priority``: a constant-folded
    CASE chain over ``ranks``; sources absent from the dict — including
    NULL — rank WORST (len(ranks)), so an unlisted crawl never beats a
    curated copy."""
    c = F.col(source_col) if isinstance(source_col, str) else source_col
    expr = F.lit(len(ranks))
    # build the chain in deterministic (rank, name) order
    for name, rank in sorted(ranks.items(), key=lambda kv: (kv[1], kv[0])):
        expr = F.when(c == F.lit(name), F.lit(int(rank))).otherwise(expr)
    return expr.cast("int")


def dedup_exact_priority(
    df: DataFrame,
    key_cols: list[str],
    priority: F.Column | str,
    text_col: str = "text",
) -> DataFrame:
    """Cross-SOURCE exact dedup: keep one representative per identical
    text, preferring the copy with the LOWEST ``priority`` value — the
    production rule when the same page arrives from several provenances
    (keep the curated/wiki copy, drop the crawl re-captures).  Ties and
    the rest of the election fall back to ``dedup_exact``'s smallest
    key tuple.  ``priority`` is a Column (see ``source_priority_col``)
    or a column name; NULL priority ranks worst.

    Same 100 TB shape as ``dedup_exact``: winner election is a
    partial-aggregatable ``min(struct(priority, keys))`` per 16-byte
    digest — never a window over a hot digest — and only digests +
    narrow key structs shuffle; text never moves.  Keys are expected
    unique per row (the semi-join contract shared with dedup_exact).

    Reference parity: generalizes checker.go's uniqueness/referential
    pairing (checker.go:47,167) to content identity with a provenance
    preference; §2.5 training-data scope.
    """
    pri = F.col(priority) if isinstance(priority, str) else priority
    # NULL-hostile struct ordering: Spark sorts NULL priority FIRST in
    # min(), which would elect the unknown-provenance copy — coalesce
    # to int-max so missing priority always loses
    pri = F.coalesce(pri.cast("int"), F.lit(2_147_483_647))
    h = F.md5(F.col(text_col)).alias("__h")
    winners = (
        df.select(h, F.struct(pri.alias("__p"),
                              F.struct(*key_cols).alias("__k")).alias("__pk"))
        .groupBy("__h")
        .agg(F.min("__pk").alias("__pk"))
        .select("__pk.__k.*")
    )
    return df.join(winners, on=key_cols, how="left_semi")


def dedup_soft_weights(
    df: DataFrame, key_col: str, text_col: str = "text"
) -> DataFrame:
    """SOFT dedup (the SoftDeDup alternative to dropping): every row is
    kept, but gets a training weight of 1/|its exact-duplicate group|,
    so each unique CONTENT contributes constant total mass to the loss
    no matter how many crawls re-captured it.  Dropping all-but-one
    (``dedup_exact``) discards crawl metadata and forces a winner; the
    weighted form preserves every row for downstream joins and lets the
    trainer decide.

    Scale shape: counts per 16-byte digest via a partial-aggregatable
    groupBy (never a window over the corpus — a hot digest with 10^6
    copies would serialize a window partition), joined back on the
    digest.  Shuffle carries (digest) and (digest, count); text never
    moves.  weight = 1.0/n is an int-ratio double, bit-identical across
    engines (oracle-hashable raw, no rounding needed).

    Returns (key, n_copies, weight).  NULL texts form one group of
    their own (the digest is coalesced to a marker — a bare equi-join
    on md5(NULL)=NULL would silently DROP every NULL row, the
    three-valued-logic trap CLAUDE.md pins for left_anti oracles).
    """
    src = df.select(
        F.col(key_col).alias("__key"),
        F.coalesce(F.md5(F.col(text_col)), F.lit("__null__")).alias("__h"))
    counts = src.groupBy("__h").agg(F.count(F.lit(1)).alias("n_copies"))
    return (
        src.join(counts, "__h")
        .select(
            F.col("__key").alias(key_col),
            "n_copies",
            (F.lit(1.0) / F.col("n_copies")).alias("weight"),
        )
    )


# ---------------------------------------------------------------------------
# shingles + MinHash
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


_SHINGLE_P = np.uint64(0x100000001B3)  # FNV-ish odd multiplier


def _token_hash(tok: str, cache: dict) -> np.uint64:
    h = cache.get(tok)
    if h is None:
        h = np.uint64(
            int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "little")
        )
        cache[tok] = h
    return h


def _shingle_hashes(text: str, k: int = 5, cache: dict | None = None) -> np.ndarray:
    """Word k-shingles -> stable 64-bit hashes.

    Tokens are md5-hashed ONCE (batch-level cache — web text has heavy
    token reuse), then the k-gram hash is a vectorized polynomial fold
    of consecutive token hashes: no per-shingle string building or
    hashing.  uint64 wraparound is part of the hash definition.
    """
    if cache is None:
        cache = {}
    toks = fold_tokens(text)
    if not toks:
        return np.empty(0, dtype=np.uint64)
    h = np.fromiter(
        (_token_hash(t, cache) for t in toks), dtype=np.uint64, count=len(toks)
    )
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash
        if len(toks) < k:
            out = np.uint64(0)
            for v in h:
                out = out * _SHINGLE_P + v
            return np.array([out], dtype=np.uint64)
        acc = h[: len(h) - k + 1].copy()
        for j in range(1, k):
            acc = acc * _SHINGLE_P + h[j : len(h) - k + 1 + j]
    return acc


def _minhash_params(num_perm: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.Generator(np.random.Philox(key=[seed, 0]))
    a = rng.integers(1, _MERSENNE, size=num_perm, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signatures(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """(key, signature:array<long>) via a mapInPandas kernel — the
    (a*x+b) mod p permutations vectorize over the shingle array.

    The output schema preserves the ACTUAL key dtype (string url keys
    work unhashed), matching ``minhash_jaccard``; the round-1/2 form
    hardcoded LongType and crashed on non-integer keys."""
    a, b = _minhash_params(num_perm)

    out_schema = T.StructType(
        [
            T.StructField("key", df.schema[key_col].dataType),
            T.StructField("signature", T.ArrayType(T.LongType())),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tok_cache: dict = {}
        for pdf in batches:
            sigs = []
            for text in pdf[text_col]:
                h = _shingle_hashes(text or "", shingle_k, tok_cache)
                if len(h) == 0:
                    sig = np.zeros(num_perm, dtype=np.uint64)
                else:
                    # (num_perm, n_shingles) via broadcasting, min over axis 1
                    vals = (a[:, None] * h[None, :] + b[:, None]) % _MERSENNE
                    sig = vals.min(axis=1)
                sigs.append([int(x) & 0x7FFFFFFFFFFFFFFF for x in sig])
            yield pd.DataFrame({"key": pdf[key_col].to_numpy(), "signature": sigs})

    return df.select(F.col(key_col), F.col(text_col)).mapInPandas(
        kernel, schema=out_schema
    )


def _cap_buckets(exploded: DataFrame, bucket_cols: list[str],
                 max_bucket: int | None) -> DataFrame:
    """Drop pathological buckets before the self-join.  A bucket of m
    members emits m^2/2 candidate pairs — boilerplate/templated docs
    produce giant buckets that are better handled by exact dedup first.
    The cap bounds the join fanout to max_bucket^2/2 per bucket
    (standard LSH practice at scale); dropped bucket count is visible
    via the returned frame's lineage, and recall for genuinely similar
    SMALL groups is unaffected."""
    if max_bucket is None:
        return exploded
    counts = exploded.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("__bn"))
    return (
        exploded.join(F.broadcast(counts.filter(F.col("__bn") <= max_bucket)),
                      on=bucket_cols, how="inner")
        .drop("__bn")
    )


def band_frame(
    signatures: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(key, band_id, band_hash) — each signature exploded into its
    banded LSH bucket keys.  Shared by the in-corpus candidate join
    below and the persisted cross-run index (``bandindex.py``), so the
    two can never hash bands differently.

    Band hashes as an EXPLICIT literal array (bands is known at plan
    time): stays inside whole-stage codegen.  The tempting
    F.transform(F.sequence(...), lambda ...) form runs the lambda
    interpreted per element and is re-evaluated for every consumer —
    measured ~3x slower for the candidate join."""
    band_arr = F.array(
        *[
            F.xxhash64(
                F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        "key", F.posexplode(band_arr).alias("band_id", "band_hash")
    )


def minhash_lsh_candidates(
    signatures: DataFrame, bands: int = 16, rows_per_band: int = 4,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Banded LSH: split each signature into ``bands`` bands of
    ``rows_per_band`` values, hash each band, self-join on
    (band_id, band_hash).  Returns candidate pairs (key_a < key_b)
    deduplicated across bands.

    Scale shape: explode -> bucket-cap -> groupBy-join on band hash.
    No cross join; hot buckets are capped (``max_bucket``), residual
    skew handled by AQE.
    """
    banded = band_frame(signatures, bands, rows_per_band)
    # persisted: consumed three times (bucket-cap counts + both sides of
    # the self-join) — otherwise the explode re-runs per consumer
    banded = track(_cap_buckets(banded, ["band_id", "band_hash"], max_bucket))
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.key") < F.col("r.key")),
        )
        .select(F.col("l.key").alias("key_a"), F.col("r.key").alias("key_b"))
        .distinct()
    )
    return pairs


def minhash_jaccard(pairs: DataFrame, signatures: DataFrame) -> DataFrame:
    """Estimated Jaccard per candidate pair = fraction of agreeing
    signature positions.

    Scored in a vectorized Arrow kernel: each batch stacks both
    signature columns into (n, num_perm) uint64 matrices and compares
    them element-wise in numpy.  The obvious one-liner —
    ``aggregate(zip_with(sig_a, sig_b, ...))`` — evaluates its lambdas
    interpreted per element (no codegen, CSE defeated), measured ~10x
    slower end-to-end once LSH emits a non-trivial candidate set."""
    sa = signatures.select(F.col("key").alias("key_a"), F.col("signature").alias("sig_a"))
    sb = signatures.select(F.col("key").alias("key_b"), F.col("signature").alias("sig_b"))
    joined = pairs.join(sa, "key_a").join(sb, "key_b")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ma = np.stack(pdf["sig_a"].values)
            mb = np.stack(pdf["sig_b"].values)
            yield pd.DataFrame(
                {
                    "key_a": pdf["key_a"],
                    "key_b": pdf["key_b"],
                    "est_jaccard": (ma == mb).mean(axis=1),
                }
            )

    # output schema built from the ACTUAL key types so string/non-bigint
    # doc keys survive the Arrow conversion (a fixed "long" DDL here
    # broke any caller whose keys weren't bigint)
    out_schema = T.StructType(
        [
            T.StructField("key_a", joined.schema["key_a"].dataType),
            T.StructField("key_b", joined.schema["key_b"].dataType),
            T.StructField("est_jaccard", T.DoubleType()),
        ]
    )
    return joined.mapInPandas(kernel, out_schema)


def minhash_near_dups(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """End-to-end near-dup pairs above an estimated-Jaccard threshold.

    Signatures are persisted before reuse: the Arrow kernel is the
    expensive stage and feeds THREE consumers (band explode + both sides
    of the Jaccard join) — without a persist Spark recomputes it per
    consumer (measured 3-4x slower at 5k docs).  At cluster scale the
    same role is played by materializing the signature table to storage
    once and joining against it."""
    sigs = track(minhash_signatures(df, key_col, text_col, num_perm))
    cand = minhash_lsh_candidates(sigs, bands, num_perm // bands)
    return minhash_jaccard(cand, sigs).filter(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (verification pass / oracle for MinHash)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str,
    text_col: str = "text",
    shingle_k: int = 5,
) -> DataFrame:
    """Exact Jaccard over word-shingle sets for given candidate pairs —
    array_intersect/array_union stay JVM-side; shingles built once per
    doc with a transform over an index sequence.  Tokenization is the
    shared Unicode fold family (``wordhash.fold_tokens_col``), matching
    the minhash/simhash kernels and the DuckDB oracle."""
    w = fold_tokens_col(F.col(text_col))
    shingles = F.when(
        F.size(w) >= shingle_k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - shingle_k),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(w, i + j + 1) for j in range(shingle_k)]
                ),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", w)))
    sh = df.select(F.col(key_col).alias("key"), shingles.alias("sh"))
    a = sh.select(F.col("key").alias("key_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("key").alias("key_b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a, "key_a")
        .join(b, "key_b")
        .select(
            "key_a",
            "key_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_py(text: str, cache: dict | None = None) -> int:
    """64-bit SimHash of one document: md5-derived token hashes vote per
    bit; sign of the vote sets the bit.  md5 keeps it engine-portable
    (same value from any runtime), unlike xxhash64."""
    if cache is None:
        cache = {}
    toks = set(fold_tokens(text))
    if not toks:
        return 0
    hs = np.fromiter(
        (_token_hash(t, cache) for t in toks), dtype=np.uint64, count=len(toks)
    )
    bits = np.unpackbits(hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    votes = bits.sum(axis=0) * 2 - len(hs)  # (+1/-1 votes per bit)
    out = np.uint64(0)
    for b in range(64):
        if votes[b] > 0:
            out |= np.uint64(1) << np.uint64(b)
    return int(out) & 0x7FFFFFFFFFFFFFFF  # keep sign bit clear for LongType


def simhash_signatures(
    df: DataFrame, key_col: str, text_col: str = "text"
) -> DataFrame:
    """(key, sim:long) via a mapInPandas numpy kernel (Arrow batches).
    Output schema preserves the actual key dtype (same generalization as
    ``minhash_signatures`` — string url keys work unhashed)."""
    out_schema = T.StructType(
        [
            T.StructField("key", df.schema[key_col].dataType),
            T.StructField("sim", T.LongType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "key": pdf[key_col].to_numpy(),
                    "sim": [simhash_py(t, cache) for t in pdf[text_col]],
                }
            )

    return df.select(key_col, text_col).mapInPandas(kernel, schema=out_schema)


def simhash_near_dups(
    df: DataFrame, key_col: str, text_col: str = "text", max_hamming: int = 3,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Candidates meet in ``hamming_near_dups``' pigeonhole chunk join: the
    64-bit hash splits into 4x16-bit chunks for hamming<=3, 8x8 for <=7
    and 16x4 for <=15, so any pair within the radius agrees on at least
    one chunk; exact hamming is then bit_count(xor).

    The signature kernel output is persisted: bucket-count capping plus
    the two sides of the self-join are three consumers, and without a
    persist the Arrow kernel re-runs for each (measured ~3x slower at
    5k docs).  At cluster scale: materialize signatures once, join after.
    """
    _n_chunks(max_hamming)  # reject the radius before persisting anything
    sh = track(simhash_signatures(df, key_col, text_col))
    return hamming_near_dups(sh, max_hamming=max_hamming,
                             max_bucket=max_bucket)


def _n_chunks(max_hamming: int) -> int:
    """Chunks per 64-bit hash for a pigeonhole join of this radius."""
    for n in (4, 8, 16):
        if max_hamming < n:
            return n
    raise ValueError("max_hamming > 15 defeats pigeonhole banding")


def hamming_near_dups(
    signatures: DataFrame, max_hamming: int = 3,
    max_bucket: int | None = 500, sim_col: str = "sim",
) -> DataFrame:
    """Near-dup pairs over any (key, 64-bit signature) frame — the
    pigeonhole join behind SimHash text dedup.  The 64-bit hash splits
    into n > max_hamming equal chunks (4x16 for hamming<=3, 8x8 for
    <=7, 16x4 for <=15): any pair within the radius agrees on at least
    one chunk, so candidates meet in a chunk-equality join (n-fold
    fanout, never a cross join) and exact hamming is one bit_count(xor).
    Caller persists ``signatures`` when it embeds a Python stage (the
    multi-consumer rule)."""
    n_chunks = _n_chunks(max_hamming)
    width = 64 // n_chunks
    mask = (1 << width) - 1
    sh = signatures.withColumnRenamed(sim_col, "sim") \
        if sim_col != "sim" else signatures
    chunks = sh.select(
        "key",
        "sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sim"), c * width)
                    .bitwiseAND(F.lit(mask))
                    for c in range(n_chunks)
                ]
            )
        ).alias("chunk_id", "chunk_val"),
    )
    chunks = _cap_buckets(chunks, ["chunk_id", "chunk_val"], max_bucket)
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk_id") == F.col("r.chunk_id"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col("l.key") < F.col("r.key")),
        )
        .select(
            F.col("l.key").alias("key_a"),
            F.col("r.key").alias("key_b"),
            F.col("l.sim").alias("sim_a"),
            F.col("r.sim").alias("sim_b"),
        )
        .distinct()
    )
    return cand.select(
        "key_a",
        "key_b",
        F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)
