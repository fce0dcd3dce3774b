"""Similarity search over embedding columns (array<float>).

Two paths:
  * brute-force cosine top-k — exact baseline; dot products as JVM-side
    zip_with/aggregate expressions (no Python), broadcast of the query
    vector as a literal array.  O(n) per query: right answer for one-off
    queries at any scale because it's a single map + top-k reduce.
  * LSH-bucketed (random hyperplane signs -> band join) — the scale path
    for all-pairs / batch-query workloads where O(n) per query times many
    queries is the bottleneck.

Embedding near-duplicate detection (cosine > threshold over all pairs)
reuses the hyperplane-LSH candidates + exact re-scoring, mirroring the
MinHash design in dedup.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dqc_spark.cache import track


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(_dot(a, a))


def cosine_col(a, b) -> F.Column:
    # try_divide: a zero-norm vector yields NULL cosine in BOTH ANSI
    # modes (plain / raises DIVIDE_BY_ZERO under ANSI — Spark 4's
    # default — and NULL otherwise; NULL sorts LAST under desc, so
    # zero/garbage vectors can never top a k).  Non-zero denominators
    # divide bit-identically to plain /.
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _query_cosine_col(vec, query_vec: list[float]) -> F.Column:
    """Cosine against a LITERAL query: the query's norm is one python
    float computed once on the driver, not an interpreted
    aggregate-over-literal-array re-folded per corpus row (HOF lambdas
    are interpreted and CSE-defeated — CLAUDE.md perf facts; ~1/3 of
    the per-row scoring work on the exact paths)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = float(np.linalg.norm(np.asarray(query_vec, dtype=np.float64)))
    # try_divide for the same ANSI-safe NULL-on-zero-norm contract as
    # cosine_col
    return F.try_divide(_dot(vec, q), _norm(vec) * F.lit(qn))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.  The plan is a
    single projection + TakeOrderedAndProject (per-partition top-k then
    merge on the driver) — no full sort, no shuffle of the vectors."""
    sim = _query_cosine_col(F.col(vec_col), query_vec)
    if round_to is not None:
        sim = F.round(sim, round_to)
    return (
        df.select(F.col(key_col), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(key_col))
        .limit(k)
    )


def brute_force_topk_arrow(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Exact cosine top-k with the scoring in ONE Arrow kernel: each
    batch is stacked into a (n, d) matrix and scored with a BLAS matmul.

    Same answer as ``brute_force_topk``; the Catalyst-HOF version
    evaluates the zip_with/aggregate lambdas interpreted per element,
    this one does n*d work in vectorized C.  Measured ~1.5x at 2k x 64
    and the gap widens with rows x dim; prefer this for batch scoring of
    large corpora, the HOF form for oracle-parity paths."""
    import numpy as np
    import pandas as pd

    qv = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(qv))

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # NULL / ragged rows (left joins into a vector table) take
            # the salvage path instead of crashing np.stack; zero-norm
            # denominators (zero vectors, NULL rows, a zero query)
            # yield NULL cosine exactly like the HOF twin (0/0 division
            # is NULL in Spark, and desc sort puts NULLs LAST — an
            # unguarded NaN would sort FIRST and top the k)
            vals = pdf[vec_col].values
            m = _stack_or_salvage(vals, len(qv))
            denom = np.linalg.norm(m, axis=1) * qn
            ok = denom > 0.0
            sims = np.divide(m @ qv, np.where(ok, denom, 1.0))
            if round_to is not None:
                sims = np.round(sims, round_to)
            out = pd.array(sims, dtype="Float64")
            out[~ok] = pd.NA
            yield pd.DataFrame({key_col: pdf[key_col], "cosine": out})

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            df.schema[key_col],  # preserve the key type, whatever it is
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    scored = df.select(key_col, vec_col).mapInPandas(kernel, out_schema)
    # TakeOrderedAndProject: per-partition top-k, merge on driver
    return scored.orderBy(F.col("cosine").desc(), F.col(key_col)).limit(k)


def _stack_or_salvage(vals, dim: int) -> np.ndarray:
    """Stack a batch of embedding cells into an (n, dim) float64 matrix.
    Fast path stacks the whole batch; NULL/ragged rows take a salvage
    loop and become ZERO rows (their zero norm turns into NULL cosine /
    sig 0 downstream, matching the Column forms these kernels replace).
    If the batch has non-NULL rows and NONE matches ``dim``, the whole
    corpus is mis-sized (wrong ``dim`` argument) — zeroing everything
    would silently empty the result, so that raises instead."""
    try:
        m = np.stack(vals).astype(np.float64)
        if m.ndim != 2 or m.shape[1] != dim:
            raise ValueError("ragged or mis-sized batch")
        return m
    except (ValueError, TypeError):
        pass
    m = np.zeros((len(vals), dim), dtype=np.float64)
    salvaged = 0
    n_nonnull = 0
    for i, v in enumerate(vals):
        if v is None:
            continue
        n_nonnull += 1
        if len(v) == dim:
            m[i] = v
            salvaged += 1
    if n_nonnull >= 4 and not salvaged:
        # mis-sized-corpus tripwire: a real Arrow batch is thousands of
        # rows, so "several non-NULL rows and not ONE matches dim"
        # means the dim argument is wrong for the whole corpus.  The
        # >= 4 floor keeps the guard from misfiring on tiny partitions
        # where a batch can legitimately hold ONLY ragged salvage rows
        # (a 4-row corpus split 1/partition — measured escape); 1-3
        # stragglers zero-fill like any other salvage row.
        lens = {len(v) for v in vals if v is not None}
        raise ValueError(
            f"no embedding in this batch has the expected dim={dim} "
            f"(observed lengths {sorted(lens)[:5]}): the dim argument "
            "does not match the data — a silent zero-fill would empty "
            "the result")
    return m


def stack_embeddings(vals) -> np.ndarray:
    """``_stack_or_salvage`` with the dim inferred from the batch's
    first non-NULL row — for the vector kernels that take no dim
    argument (ivf/semdedup).  An all-NULL batch stacks to a
    (n, 1) zero matrix (zero norms; every caller already guards
    zero-norm rows)."""
    dim = next((len(v) for v in vals if v is not None), 0)
    if dim == 0:
        return np.zeros((len(vals), 1), dtype=np.float64)
    return _stack_or_salvage(vals, dim)


def _hyperplanes(n_planes: int, dim: int, seed: int) -> np.ndarray:
    rng = np.random.Generator(np.random.Philox(key=[seed, 0]))
    return rng.standard_normal((n_planes, dim))


def _pack_sign_bits(dots_pos: np.ndarray, n_planes: int) -> np.ndarray:
    """Weighted-sum packing of sign bits into int64 — THE one spelling
    shared by the corpus signature kernel and the query-signature path.
    At n_planes=64 bit 63 wraps into the int64 sign bit (two's
    complement); a drifting plain-python ``1 << 63`` copy produces a
    positive 2^63 that no stored signature can ever equal AND that
    F.lit cannot express as a LongType literal."""
    weights = np.left_shift(
        np.ones(n_planes, dtype=np.uint64),
        np.arange(n_planes, dtype=np.uint64))
    return (dots_pos.astype(np.uint64) * weights).sum(
        axis=-1, dtype=np.uint64).astype(np.int64)


def _query_signature(planes: np.ndarray, query_vec) -> int:
    """Signed-64 signature of one query vector under ``planes`` —
    identical packing to the corpus kernel (see _pack_sign_bits)."""
    qv = np.asarray(query_vec, dtype=np.float64)
    return int(_pack_sign_bits((planes @ qv) > 0, planes.shape[0]))


def hyperplane_signatures(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    dim: int = 64,
    seed: int = 11,
) -> DataFrame:
    """Random-hyperplane LSH: sign bits of <v, h_i> packed into a long.

    ONE Arrow kernel per batch: stack vectors into an (n, d) matrix, a
    single BLAS matmul against the (d, n_planes) plane matrix, pack the
    sign bits with a weighted sum.  The round-1/2 form built the same
    bits as Catalyst zip_with/aggregate lambdas — interpreted per
    element (n_planes x dim multiply-adds per row, 4096 at the 64x64
    default) and the measured 100x-per-core slow path of
    ``embedding_near_dups`` and every ``LshIndex`` build.  Hyperplanes
    are deterministic (seeded Philox) and broadcast inside the closure.
    """
    import pandas as pd

    if n_planes > 64:
        raise ValueError(
            f"n_planes={n_planes} exceeds the 64-bit signature word — "
            "weights past bit 63 would silently alias")
    planes_t = np.ascontiguousarray(_hyperplanes(n_planes, dim, seed).T)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # NULL / occasional wrong-length vectors (e.g. after a left
            # join into a vector table) get the zero vector -> sig 0,
            # matching the Column form this kernel replaced (NULL > 0
            # was false on every plane); a UNIFORMLY mis-sized batch
            # raises (see _stack_or_salvage) instead of silently
            # emitting all-zero signatures.
            m = _stack_or_salvage(pdf[vec_col].values, dim)
            sig = _pack_sign_bits((m @ planes_t) > 0, n_planes)
            yield pd.DataFrame(
                {"key": pdf[key_col], "vec": pdf[vec_col], "sig": sig}
            )

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("key", df.schema[key_col].dataType),
            T.StructField("vec", df.schema[vec_col].dataType),
            T.StructField("sig", T.LongType()),
        ]
    )
    return df.select(key_col, vec_col).mapInPandas(kernel, out_schema)


class LshIndex:
    """Reusable hyperplane-LSH index for BATCH query workloads.

    ``lsh_topk`` recomputes every signature per query — fine for a
    one-off, wasteful for a query stream.  This wrapper computes the
    signature frame once (persisted via the cache registry; at cluster
    scale, ``save`` it to storage instead) and serves each query as a
    codegen'd bit_count filter + exact re-score over the candidates.
    Call ``close()`` (or ``dqc_spark.release_all()``) when done."""

    def __init__(
        self,
        df: DataFrame,
        key_col: str = "vec_id",
        vec_col: str = "embedding",
        n_planes: int = 16,
        dim: int = 64,
        seed: int = 11,
    ):
        from dqc_spark.cache import track

        # SAME derivation as the signature kernel — a drifting inline
        # copy would silently empty every candidate set
        self._planes = _hyperplanes(n_planes, dim, seed)
        self._key_col = key_col
        self._n_planes = n_planes
        self.sigs = track(
            hyperplane_signatures(df, key_col, vec_col, n_planes, dim, seed)
        )

    def query_sig(self, query_vec: list[float]) -> int:
        return _query_signature(self._planes, query_vec)

    def topk(
        self, query_vec: list[float], k: int = 10, max_hamming: int = 2
    ) -> DataFrame:
        qsig = self.query_sig(query_vec)
        cand = self.sigs.filter(
            F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig))) <= max_hamming
        )
        return (
            cand.select(
                F.col("key").alias(self._key_col),
                _query_cosine_col(F.col("vec"), query_vec).alias("cosine"),
            )
            .orderBy(F.col("cosine").desc(), F.col(self._key_col))
            .limit(k)
        )

    def close(self) -> None:
        self.sigs.unpersist()


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    dim: int = 64,
    max_hamming: int = 2,
) -> DataFrame:
    """Approximate top-k: restrict exact scoring to vectors whose
    hyperplane signature is within ``max_hamming`` bits of the query's —
    the candidate filter is a bit_count over a packed long (codegen).

    One-off form: recomputes signatures per call.  For repeated queries
    build an ``LshIndex`` once and call ``.topk`` per query."""
    # same seed as the kernel default, same packing as the kernel (the
    # previous inline 1 << i copy produced an UNWRAPPED 2^63 at
    # n_planes=64: F.lit rejects it and stored sign-bit-wrapped sigs
    # could never XOR-match it)
    qsig = _query_signature(_hyperplanes(n_planes, dim, 11), query_vec)
    sigs = hyperplane_signatures(df, key_col, vec_col, n_planes, dim)
    cand = sigs.filter(
        F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig))) <= max_hamming
    )
    return (
        cand.select(F.col("key").alias(key_col),
                    _query_cosine_col(F.col("vec"), query_vec).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(key_col))
        .limit(k)
    )


def hyperplane_lsh_candidate_pairs(
    sigs: DataFrame,
    n_planes: int = 64,
    bands: int = 8,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Banded-LSH candidate pairs (key_a < key_b, with both vecs) from a
    ``hyperplane_signatures`` frame.

    The ``n_planes``-bit signature is split into ``bands`` chunks of
    ``n_planes/bands`` bits; pairs agreeing on at least one chunk value
    meet in a (band_id, band_val) bucket equi-join.  Bucket population
    is capped via ``dedup._cap_buckets`` BEFORE the self-join, so the
    join fanout is bounded by ``max_bucket^2/2`` per bucket — i.e.
    O(n * max_bucket) candidates total instead of the ~n^2/2^width
    degeneration an uncapped narrow-chunk join suffers (the round-1
    16-plane/4-bit-chunk version).  Band width is the recall/selectivity
    dial: 8x8 bits gives >0.93 recall at cosine>=0.9 while keeping 256
    distinct bucket values per band.
    """
    from dqc_spark.dedup import _cap_buckets

    if n_planes % bands:
        raise ValueError(f"bands={bands} must divide n_planes={n_planes}")
    width = n_planes // bands
    mask = (1 << width) - 1
    chunks = sigs.select(
        "key",
        "vec",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sig"), c * width).bitwiseAND(F.lit(mask))
                    for c in range(bands)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    chunks = _cap_buckets(chunks, ["band_id", "band_val"], max_bucket)
    # persisted: feeds both sides of the self-join (and the cap counts
    # already consumed it once) — without this the signature projection
    # and explode re-run per consumer
    chunks = track(chunks)
    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.key") < F.col("r.key")),
        )
        .select(
            F.col("l.key").alias("key_a"),
            F.col("r.key").alias("key_b"),
            F.col("l.vec").alias("vec_a"),
            F.col("r.vec").alias("vec_b"),
        )
        .dropDuplicates(["key_a", "key_b"])
    )


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.9,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 64,
    bands: int = 8,
    dim: int = 64,
    max_bucket: int | None = 500,
) -> DataFrame:
    """All-pairs cosine near-duplicates: 64-plane banded-LSH candidates
    + exact cosine re-score.  Avoids the O(n^2) cross join brute force
    needs; the bucket cap bounds total candidates to O(n * max_bucket)
    (see ``hyperplane_lsh_candidate_pairs``).

    Approximate by design: recall at ``threshold`` is set by the band
    geometry — with the 8x8 default, >=0.93 for cosine>=0.9 (pinned by
    tests/test_dedup_similarity.py against the exact-pairs oracle on
    planted near-dups).  For LOW thresholds (<~0.7) banded hyperplane
    LSH is the wrong tool at scale — collision probability per band is
    near-uniform, so buckets degenerate; use brute_force_topk_arrow per
    query or an IVF-style partition instead.
    """
    # signatures come out of a Python (Arrow) stage and feed the cap
    # counts, the cap join, and both sides of the band self-join — must
    # be persisted or the Python stage recomputes per consumer
    sigs = track(hyperplane_signatures(df, key_col, vec_col, n_planes, dim))
    cand = hyperplane_lsh_candidate_pairs(sigs, n_planes, bands, max_bucket)
    return _pair_cosines(cand).filter(F.col("cosine") >= threshold)


def _pair_cosines(cand: DataFrame) -> DataFrame:
    """(key_a, key_b, cosine) for a candidate-pair frame carrying both
    vectors — ONE Arrow kernel (stack + einsum), the same vectorization
    ``dedup.minhash_jaccard`` uses.  The obvious
    ``cosine_col("vec_a", "vec_b")`` evaluates interpreted HOF lambdas
    (~3 folds x dim element ops per pair — the measured 10x slow path)
    over the O(n·max_bucket) candidate set.  Zero-norm / NULL vectors
    yield NULL cosine (dropped by any threshold filter), matching the
    Column form."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            cand.schema["key_a"],
            cand.schema["key_b"],
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vals = list(pdf["vec_a"].values) + list(pdf["vec_b"].values)
            dim = next((len(v) for v in vals if v is not None), 0)
            if dim == 0:
                out = pd.array([pd.NA] * len(pdf), dtype="Float64")
            else:
                ma = _stack_or_salvage(pdf["vec_a"].values, dim)
                mb = _stack_or_salvage(pdf["vec_b"].values, dim)
                denom = (np.linalg.norm(ma, axis=1)
                         * np.linalg.norm(mb, axis=1))
                ok = denom > 0.0
                sims = np.divide(np.einsum("ij,ij->i", ma, mb),
                                 np.where(ok, denom, 1.0))
                out = pd.array(sims, dtype="Float64")
                out[~ok] = pd.NA
            yield pd.DataFrame({"key_a": pdf["key_a"],
                                "key_b": pdf["key_b"],
                                "cosine": out})

    return cand.select("key_a", "key_b", "vec_a", "vec_b").mapInPandas(
        kernel, out_schema)
