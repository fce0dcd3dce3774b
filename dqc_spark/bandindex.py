"""Persisted cross-run MinHash band index — incremental NEAR-dup.

``snapshot.py`` makes run N+1 skip EXACT re-ingests (digest anti-join
+ bloom prefilter).  This module is the near-duplicate analog: after
run N, the corpus's MinHash signatures and their banded LSH bucket
keys are saved as a versionable parquet artifact; run N+1 signatures
only its NEW documents and band-joins them against the stored index.
Without it, catching a near-duplicate of a *prior* run's page means
re-signaturing the accumulated corpus — at 10^12 docs the single most
expensive recurring job an incremental pipeline would otherwise rerun
(the cross-run generalization of the reference's two-table referential
shape, ``checker.go:167``).

Scale shape (what does and does not move):

  * The prior corpus's TEXT is never re-read — only the index is.
    ``tests/test_bandindex.py`` pins this on the plan: the candidate
    query scans the index parquet and the new snapshot, nothing else.
  * The band table stores ``bands`` 8-byte hashes per doc (~128 B/doc
    at the defaults): the candidate join shuffles band rows for the
    NEW side plus matching buckets of the stored side, never
    signatures and never text.
  * Signatures (~``num_perm``*8 B/doc) are read only to score the
    candidate pairs — a columnar (key, signature) scan joined on the
    candidate keys.
  * Bucket caps are applied to the UNION of stored + new band rows,
    so candidate generation is exactly what a whole-corpus
    ``minhash_near_dups`` over (prior ∪ new) would do.  With caps
    unbound, ``prior-run pairs ∪ incremental pairs`` PROVABLY equals
    the whole-corpus result: signatures are a pure per-doc function of
    the text, and the union band table is identical either way
    (pytest-pinned parity in ``test_bandindex.py``).

Index layout (all under ``path/``):

  * ``meta.json`` — {num_perm, shingle_k, bands, rows_per_band}; the
    query side MUST reuse these (a mismatched num_perm would silently
    compare incompatible signatures, so they are not parameters of
    ``incremental_near_dups``).
  * ``signatures/`` — parquet (key, signature:array<long>), appended
    per run.
  * ``bands/`` — parquet (key, band_id, band_hash), appended per run.

Keys must be globally unique across runs (url/doc_id — same contract
as every dedup operator here).  Single writer per index; production
would wrap the two appends + meta in one Iceberg/snaptable commit.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dqc_spark.cache import track
from dqc_spark.dedup import (
    _cap_buckets,
    band_frame,
    minhash_jaccard,
    minhash_signatures,
)

__all__ = [
    "BandIndex",
    "create_band_index",
    "load_band_index",
    "extend_band_index",
    "incremental_near_dups",
]


class BandIndex:
    """Handle on a persisted band index (see module docstring)."""

    def __init__(self, spark: SparkSession, path: str, meta: dict) -> None:
        self.spark = spark
        self.path = path
        self.num_perm = int(meta["num_perm"])
        self.shingle_k = int(meta["shingle_k"])
        self.bands = int(meta["bands"])
        self.rows_per_band = int(meta["rows_per_band"])

    @property
    def sig_path(self) -> str:
        return os.path.join(self.path, "signatures")

    @property
    def band_path(self) -> str:
        return os.path.join(self.path, "bands")

    def signatures(self) -> DataFrame:
        return self.spark.read.parquet(self.sig_path)

    def banded(self) -> DataFrame:
        return self.spark.read.parquet(self.band_path)


def create_band_index(
    df: DataFrame,
    key_col: str,
    path: str,
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 5,
    bands: int = 16,
    signatures: DataFrame | None = None,
) -> BandIndex:
    """Signature ``df`` and persist a fresh index at ``path``.

    Refuses to overwrite an existing index (meta.json present): the
    artifact is cross-run state, and silently restarting it would turn
    every future increment's "seen" set into just that increment.

    Crash-safe: the index is built under a scratch sibling and RENAMED
    into place as the last step, so a crash mid-build leaves only an
    orphan scratch dir — never a loadable-but-dataless index (the
    snaptable create-crash wedge, one artifact over: meta.json first
    would make load_band_index succeed while banded() throws on a
    missing parquet dir, wedging every later run)."""
    import shutil
    import uuid

    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        raise FileExistsError(
            f"band index already exists at {path} — use load_band_index "
            f"+ extend_band_index to grow it")
    if num_perm % bands != 0:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    meta = {
        "num_perm": num_perm,
        "shingle_k": shingle_k,
        "bands": bands,
        "rows_per_band": num_perm // bands,
    }
    build = f"{path.rstrip('/')}.build-{uuid.uuid4().hex[:8]}"
    os.makedirs(build)
    try:
        idx = BandIndex(df.sparkSession, build, meta)
        extend_band_index(idx, df, key_col, text_col,
                          signatures=signatures)
        with open(os.path.join(build, "meta.json"), "w",
                  encoding="utf-8") as f:
            json.dump(meta, f)
        os.rename(build, path)
    except BaseException:
        shutil.rmtree(build, ignore_errors=True)
        raise
    return BandIndex(df.sparkSession, path, meta)


def load_band_index(spark: SparkSession, path: str) -> BandIndex:
    try:
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
    except OSError:
        raise FileNotFoundError(f"no band index at {path}") from None
    return BandIndex(spark, path, meta)


def extend_band_index(
    idx: BandIndex,
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    signatures: DataFrame | None = None,
) -> None:
    """Append ``df``'s signatures + band rows to the index, FIRST-WINS
    per key: each append anti-joins away the keys its OWN table already
    holds.  That makes extend idempotent under the crash-reprocess
    contract (a replayed increment re-extends to a no-op instead of
    duplicating signature rows, which would multiply every scored pair
    touching the key; after a crash between the two appends the replay
    writes just the missing band rows) and pins the re-crawl semantics
    — a url whose text changed keeps its ORIGINAL signature;
    revision-level dedup is the url-canonicalization layer's job, not
    the index's.

    Pass ``signatures`` (a ``minhash_signatures`` frame for the SAME
    docs under the index's params) to skip re-signaturing when the
    caller already computed them for the query pass."""
    sigs = signatures if signatures is not None else minhash_signatures(
        df, key_col, text_col, idx.num_perm, idx.shingle_k)
    # localCheckpoint, not persist: both appends consume the expensive
    # Python stage once, and the checkpoint is cut BEFORE the anti-joins
    # read the tables being appended — a persisted plan scanning
    # sig_path would be refreshByPath-recomputed by the signature
    # append, over the updated table (the resume.py lesson)
    sigs = sigs.localCheckpoint()

    def unseen(path: str) -> DataFrame:
        if not os.path.isdir(path):
            return sigs
        seen = idx.spark.read.parquet(path).select("key")
        return sigs.join(seen, on="key", how="left_anti")

    unseen(idx.sig_path).write.mode("append").parquet(idx.sig_path)
    band_frame(unseen(idx.band_path), idx.bands, idx.rows_per_band) \
        .write.mode("append").parquet(idx.band_path)


def incremental_near_dups(
    idx: BandIndex,
    new_df: DataFrame,
    key_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    max_bucket: int | None = 500,
    include_new_new: bool = True,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs of ``new_df`` against the index (and, with
    ``include_new_new``, within ``new_df``) — every returned pair has
    at least one NEW key.  Columns: ``key_a, key_b (key_a < key_b),
    est_jaccard, a_is_new, b_is_new``.

    ``include_new_new=False`` skips intra-new candidates — the right
    mode when a downstream pass (e.g. ``curate``'s own near-dedup)
    already handles the increment internally and only the
    new-vs-prior question remains.

    Semantics contract (pytest-pinned): with caps unbound, the union
    of this result with the prior runs' own pair sets equals
    ``minhash_near_dups`` over the whole accumulated corpus.  With a
    cap, bucket counts are taken over the stored ∪ new band rows, so
    candidate generation still matches the whole-corpus run; only
    pairs both sides of which are prior (decisions already made in
    earlier runs) are out of scope here.

    ``signatures``: a precomputed ``minhash_signatures`` frame for
    ``new_df`` under the index's params — pass it when the caller also
    extends the index afterwards, so the expensive signature kernel
    runs once per increment instead of twice (resume.py does)."""
    sigs_new = track(signatures if signatures is not None
                     else minhash_signatures(
                         new_df, key_col, text_col,
                         idx.num_perm, idx.shingle_k))
    # stored rows for keys that are ALSO in the increment are ignored:
    # they are the same documents (a replayed increment after a crash,
    # or a caller querying docs it already indexed), and keeping them
    # would put one key on both sides — self-compares, conflicting
    # is_new flags, and duplicate scored rows per pair.  Disjoint runs
    # make this anti-join a no-op.
    new_keys = sigs_new.select("key")
    banded_new = band_frame(sigs_new, idx.bands, idx.rows_per_band) \
        .withColumn("is_new", F.lit(True))
    banded_all = banded_new.unionByName(
        idx.banded().join(new_keys, on="key", how="left_anti")
        .withColumn("is_new", F.lit(False)))
    # cap over the UNION (see contract above); persisted — consumed by
    # the cap counts and both join sides
    banded_all = track(_cap_buckets(
        banded_all, ["band_id", "band_hash"], max_bucket))
    left = banded_all.filter(F.col("is_new")).alias("l")
    right = (banded_all if include_new_new
             else banded_all.filter(~F.col("is_new"))).alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.key") != F.col("r.key")),
        )
        .select(
            F.least("l.key", "r.key").alias("key_a"),
            F.greatest("l.key", "r.key").alias("key_b"),
            # after the canonical swap the flags must follow their key:
            # l is always new, so the min side is new iff l.key is the
            # min OR the r side is itself new
            F.when(F.col("l.key") < F.col("r.key"), F.lit(True))
            .otherwise(F.col("r.is_new")).alias("a_is_new"),
            F.when(F.col("l.key") < F.col("r.key"), F.col("r.is_new"))
            .otherwise(F.lit(True)).alias("b_is_new"),
        )
        # a new-new pair is generated in both orders; flags are a pure
        # function of the canonical pair, so distinct is safe
        .distinct()
    )
    # persisted: cand feeds TWO consumers (the jaccard scoring join and
    # the flags re-join below) — without it the band self-join +
    # distinct runs once per consumer (multi-consumer rule)
    cand = track(cand)
    # scoring joins the candidate keys against new ∪ stored signatures;
    # the candidate side is small, so AQE broadcasts it and the big
    # signature scan streams without shuffling
    sigs_all = sigs_new.unionByName(
        idx.signatures().join(new_keys, on="key", how="left_anti"))
    scored = minhash_jaccard(cand.select("key_a", "key_b"), sigs_all) \
        .filter(F.col("est_jaccard") >= threshold)
    return scored.join(cand, on=["key_a", "key_b"])
