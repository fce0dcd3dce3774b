"""Connected components over near-duplicate pair graphs, and canonical-
document selection — the step between pair generation (dedup.py) and an
actually-deduplicated corpus.

Near-dup relations are not transitive (A~B, B~C but A!~C), yet training
dedup must drop whole *clusters*: components of the pair graph are the
standard closure.  This is an iterative algorithm (no single SQL/
DataFrame expression), implemented as alternating **large-star /
small-star** (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14) rather than naive min-label propagation:

    large-star(u): attach every neighbor v > u to min(N(u) + {u})
    small-star(u): orient edges (hi -> lo); attach every lo-neighbor
                   and u itself to the minimum lo-neighbor

Min-label propagation needs *diameter* rounds (a 1000-link chain of
near-dup pages needs 1000 shuffles); the star alternation contracts
long paths exponentially and converges in O(log^2 n) rounds — a chain
of 10^6 finishes in ~10 iterations.  At the fixpoint the edge set is a
collection of stars whose centers are the component minima, so the
labels are exactly (node -> min node of its component), deterministic
and engine-independent.

Scale notes
-----------
* State per round is the edge set (two longs per row), shuffled on the
  group key; document text never enters the loop.
* Each round's edges are persisted and the previous round freed;
  ``localCheckpoint`` every ``checkpoint_every`` rounds truncates the
  lineage so the plan doesn't grow across iterations (the classic
  iterative-Spark failure mode).
* Convergence = the canonical edge set reached a fixpoint, detected by
  a (count, xor-of-edge-hashes) fingerprint — one tiny aggregate per
  round over the already-persisted frame, no extra scan, and no
  long-sum overflow under ANSI mode.
* Empty input short-circuits: each empty-frame round still costs
  scheduler time, and a corpus with no near-dup pairs (the common case
  after exact dedup) skips the loop entirely.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "keep_canonical", "soft_weights",
           "last_run_info"]


@dataclass
class _RunInfo:
    rounds: int = 0
    converged: bool = False


#: inspection hook for tests/monitoring: stats of the most recent
#: connected_components() call in this process
last_run_info = _RunInfo()


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.bit_xor(F.xxhash64(F.col("hi"), F.col("lo"))), F.lit(0)
        ).alias("x"),
    ).first()
    return int(row["n"]), int(row["x"])


def connected_components(
    pairs: DataFrame,
    src: str = "key_a",
    dst: str = "key_b",
    max_iter: int = 25,
    checkpoint_every: int = 3,
) -> DataFrame:
    """(key, component) for every node appearing in ``pairs``; the
    component id is the minimum node id in the component (deterministic,
    engine-independent).  See module docstring for the algorithm."""
    global last_run_info
    # canonical orientation hi > lo; self-loops dropped
    edges = (
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
            F.least(F.col(src), F.col(dst)).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .persist()
    )
    if edges.isEmpty():
        edges.unpersist()
        last_run_info = _RunInfo(rounds=0, converged=True)
        # preserve the key type whatever it is
        return pairs.select(
            F.col(src).alias("key"), F.col(src).alias("component")
        ).limit(0)

    prev_fp = _fingerprint(edges)
    converged = False
    rounds = 0
    for it in range(max_iter):
        rounds = it + 1
        # ---- large-star: for each node u (over the symmetric adjacency)
        # connect every strictly-larger neighbor to m = min(N(u) + {u}).
        # Emitted edges keep hi > lo by construction (v > u >= m).
        sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mn = sym.groupBy("u").agg(F.min("v").alias("mnv"))
        large = (
            sym.join(mn, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("hi"),
                F.least(F.col("u"), F.col("mnv")).alias("lo"),
            )
            .distinct()
        )

        # ---- small-star: edges already oriented hi -> lo; for each hi
        # attach all lo-neighbors and hi itself to m = min lo-neighbor.
        mn2 = large.groupBy("hi").agg(F.min("lo").alias("m"))
        small = (
            large.join(mn2, "hi")
            .select(F.col("lo").alias("child"), F.col("m"))
            .filter(F.col("child") != F.col("m"))
            .unionByName(mn2.select(F.col("hi").alias("child"), F.col("m")))
            .select(F.col("child").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        if (it + 1) % checkpoint_every == 0:
            small = small.localCheckpoint(eager=False)
        small = small.persist()
        fp = _fingerprint(small)  # materializes the round
        edges.unpersist()
        edges = small
        if fp == prev_fp:
            # both ops are identities exactly on star sets -> fixpoint
            # reached, and stars are centered at component minima
            converged = True
            break
        prev_fp = fp

    last_run_info = _RunInfo(rounds=rounds, converged=converged)
    if not converged:
        # the edge set is still a valid spanning structure (connectivity
        # is preserved every round), but the star/min-label property is
        # unconfirmed — labels may point at a non-minimal member
        import warnings

        warnings.warn(
            f"connected_components: fixpoint not confirmed within "
            f"{max_iter} rounds; component labels may not be the global "
            "minimum of each cluster — rerun with a higher max_iter",
            stacklevel=2,
        )

    # the final round's edges stay persisted (the labels below read them
    # lazily) — hand them to the cache registry so callers can free them
    # with release_all() once labels are materialized
    from dqc_spark.cache import _TRACKED

    _TRACKED.append(edges)

    # fixpoint edge set is a union of stars (child -> root); every child
    # appears exactly once, roots label themselves
    labels = edges.select(
        F.col("hi").alias("key"), F.col("lo").alias("component")
    ).unionByName(
        edges.select(F.col("lo").alias("key"), F.col("lo").alias("component"))
        .distinct()
    )
    if not converged:
        # a residual (non-star) edge set can mention a node both as a
        # child and as some other child's root -> duplicate/conflicting
        # label rows.  Collapse to one row per key (min component =
        # the same conservative finer-partition contract the warning
        # documents); at the fixpoint this aggregate is a no-op and is
        # skipped to save the extra shuffle.
        labels = labels.groupBy("key").agg(F.min("component").alias("component"))
    return labels


def keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str,
    src: str = "key_a",
    dst: str = "key_b",
    max_iter: int = 25,
) -> DataFrame:
    """Deduplicated corpus: for every near-dup cluster keep the single
    document whose key equals the component id (the min key —
    deterministic winner); documents in no cluster pass through.

    Plan shape: components loop + ONE left-anti join of the corpus
    against the (small) clustered-loser label set — the full table is
    scanned once and never shuffled on text."""
    comp = connected_components(pairs, src, dst, max_iter)
    # losers = clustered nodes that are not their component's minimum
    losers = comp.filter(F.col("key") != F.col("component")).select(
        F.col("key").alias(key_col)
    )
    return df.join(losers, on=key_col, how="left_anti")


def keep_canonical_priority(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str,
    priority: "F.Column | str",
    src: str = "key_a",
    dst: str = "key_b",
    max_iter: int = 25,
) -> DataFrame:
    """``keep_canonical`` with a provenance preference: for every
    near-dup cluster keep the member with the LOWEST ``priority`` value
    (ties to the smallest key) — the cluster-level analogue of
    ``dedup.dedup_exact_priority``, for the pair frames minhash/simhash
    /LSH emit.  Unclustered documents pass through; NULL priority ranks
    worst (coalesced to int-max, mirroring the exact-dedup rule).

    Plan shape: components loop + a narrow (key, priority) projection
    joined onto the (small) label frame, ONE partial-aggregatable
    ``min(struct(priority, key))`` per component, and one left-anti
    join of the corpus against the loser keys — the full table is
    scanned once and never shuffled on text."""
    pri = F.col(priority) if isinstance(priority, str) else priority
    pri = F.coalesce(pri.cast("int"), F.lit(2_147_483_647))
    comp = connected_components(pairs, src, dst, max_iter)
    keyed = df.select(F.col(key_col).alias("key"), pri.alias("__p"))
    labeled = comp.join(keyed, "key", "inner")
    winners = (
        labeled.groupBy("component")
        .agg(F.min(F.struct("__p", "key")).alias("__w"))
        .select(F.col("__w.key").alias("key"))
    )
    losers = labeled.join(winners, "key", "left_anti").select(
        F.col("key").alias(key_col))
    return df.join(losers, on=key_col, how="left_anti")


def soft_weights(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str,
    src: str = "key_a",
    dst: str = "key_b",
    max_iter: int = 25,
) -> DataFrame:
    """SoftDeDup for NEAR-duplicates: every row kept, weighted
    1/|its near-dup cluster| so each piece of (approximately) unique
    content carries constant loss mass — the cluster-level analogue of
    ``dedup.dedup_soft_weights`` (exact groups), fed by the same pair
    frames ``keep_canonical`` consumes (minhash/simhash/LSH bands).
    Unclustered documents get size 1 / weight 1.0.

    Plan shape: components loop + one partial-aggregatable size
    groupBy over the (small) label frame + one left join of keys only
    — the corpus is scanned once and text never shuffles.

    Returns (key, cluster_size, weight).
    """
    comp = connected_components(pairs, src, dst, max_iter)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    labeled = comp.join(sizes, "component").select(
        F.col("key").alias(key_col), "cluster_size")
    size = F.coalesce(F.col("cluster_size"), F.lit(1))
    return (
        df.select(key_col)
        .join(labeled, key_col, "left")
        .select(
            key_col,
            size.alias("cluster_size"),
            (F.lit(1.0) / size).alias("weight"),
        )
    )
