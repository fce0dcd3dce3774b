"""Training-mix resampling: temperature-weighted source sampling.

LLM corpora are never trained at raw crawl proportions — hot sources
(one domain dominating the crawl) are downsampled and rare high-quality
sources kept whole.  The standard scheme reweights source s from raw
share p_s to p_s^alpha / sum(p^alpha) (temperature sampling, alpha<1
flattens the mix; alpha=1 is a no-op; alpha=0 is uniform-over-sources),
then takes each source at the rate that realizes the target mix under a
fixed output budget.

Scale shape: source statistics are a tiny aggregate (one row per
source); the actual sampling is a DETERMINISTIC per-row hash-bucket
filter (`sampling.portable_hash_bucket`) — a pure narrow map over the
corpus, no shuffle, reproducible across engines, cluster sizes, and
reruns.  Rates ride to executors broadcast inside the join against the
one-row-per-source rate table.

Rates are capped at 1.0 (this operator only *sub*samples; see
``epoch_expand`` for the materialized-upsampling counterpart —
deliberately a SEPARATE operator because its output contains duplicate
rows by construction and must run AFTER every dedup stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dqc_spark.sampling import portable_hash_bucket

# bucket granularity for the rate filter: rates quantize to 1/BUCKETS
BUCKETS = 10_000


def source_mix_rates(
    df: DataFrame, source_col: str = "source", alpha: float = 0.5,
) -> DataFrame:
    """Per-source keep-rates realizing the temperature-alpha mix:
    (source, n_docs, raw_share, target_share, keep_rate).

    The output budget is chosen as the largest total under which no
    source needs upsampling: budget = min_s(n_s / target_s).  Every
    rate is then n_target / n_s <= 1, with equality for the binding
    (most-underrepresented) source.  A NULL source is a source (its
    rate row carries NULL; ``temperature_sample`` matches it
    null-safely).
    """
    from dqc_spark.cache import track

    # persisted: total / weight-sum / budget each aggregate this frame
    # again — uncached, every one of those tiny scalars would re-execute
    # the caller's ENTIRE upstream plan (curate: scoring + dedup joins)
    counts = track(
        df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    )
    total = counts.agg(F.sum("n_docs").alias("t")).select("t")
    c = counts.crossJoin(F.broadcast(total))
    c = c.withColumn("raw_share", F.col("n_docs") / F.col("t"))
    c = c.withColumn("__w", F.pow(F.col("raw_share"), F.lit(alpha)))
    wsum = c.agg(F.sum("__w").alias("ws")).select("ws")
    c = c.crossJoin(F.broadcast(wsum)).withColumn(
        "target_share", F.col("__w") / F.col("ws")
    )
    # budget = min over sources of n_s / target_s
    budget = c.agg(
        F.min(F.col("n_docs") / F.col("target_share")).alias("b")
    ).select("b")
    c = c.crossJoin(F.broadcast(budget))
    return c.select(
        source_col,
        "n_docs",
        "raw_share",
        "target_share",
        F.least(
            F.lit(1.0),
            F.col("target_share") * F.col("b") / F.col("n_docs"),
        ).alias("keep_rate"),
    )


def temperature_sample(
    df: DataFrame,
    source_col: str = "source",
    key_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Deterministically subsample ``df`` to the temperature-alpha
    source mix: keep a row iff its portable hash bucket falls below its
    source's keep-rate.  Selection depends only on (key, rates) — stable
    under repartitioning, re-runs, and engine choice."""
    rates = source_mix_rates(df, source_col, alpha).select(
        source_col, "keep_rate"
    )
    # null-safe equality: a NULL source grouped into its own rate row
    # must match back — a plain inner join would silently drop every
    # NULL-source document while its count still skewed the budget
    tagged = df.join(
        F.broadcast(rates.withColumnRenamed(source_col, "__mix_src")),
        on=df[source_col].eqNullSafe(F.col("__mix_src")),
        how="inner",
    ).drop("__mix_src")
    # threshold is ROUND-quantized to an integer bucket count: keep_rate
    # contains a cross-engine-order float sum (the alpha-weight total),
    # so engines can differ in the last ulp — rounding absorbs that;
    # comparing the raw double would flip rows at bucket boundaries
    keep = portable_hash_bucket(F.col(key_col), BUCKETS) < F.round(
        F.col("keep_rate") * BUCKETS, 0
    ).cast("bigint")
    return tagged.filter(keep).drop("keep_rate")


# ---------------------------------------------------------------------------
# epoch-expansion mixing (materialized upsampling)
# ---------------------------------------------------------------------------
#
# temperature_sample realizes a target mix by SUBSAMPLING only — the
# budget is capped so no source needs more than one pass.  Production
# mixes (the Llama / Pile recipes) instead fix the budget and repeat
# high-quality rare sources for MORE than one epoch.  epoch_expand
# materializes that: each source contributes floor(quota/n) full passes
# plus a deterministic hash-selected partial pass, every emitted row
# tagged with its epoch index so packing keys on (doc, epoch).
#
# Ordering contract: this is the LAST corpus transform before
# ordering/packing — its output contains duplicate content by
# construction, so any dedup run after it would undo the mix.
#
# Cross-engine determinism: the only float in the pipeline is
# target_share (pow + a weight-sum); it is quantized ONCE into an
# integer doc quota (ROUND — the threshold rule CLAUDE.md pins for
# engine-order-dependent float sums).  Everything after the quota is
# pure integer arithmetic: epochs = quota div n, and the partial-pass
# bucket threshold is (rem * BUCKETS) div n — an integer, never a
# rounded float, so the int-ratio ROUND-at-.5 divergence cannot occur.


def epoch_mix_plan(
    df: DataFrame,
    source_col: str = "source",
    alpha: float = 0.5,
    budget_docs: int | None = None,
    max_epochs: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-source epoch plan realizing the temperature-``alpha`` mix at
    a fixed output ``budget_docs`` (default: the input's total count —
    same corpus size, re-proportioned): (source, n_docs, n_units,
    raw_share, target_share, quota, epochs, partial_thr).

    ``quota`` is the integer number of output UNITS the source owes;
    ``epochs`` full passes plus a partial pass keeping rows whose
    portable hash bucket < ``partial_thr`` (of ``BUCKETS``) realize it
    to bucket granularity.  ``max_epochs`` caps runaway upsampling of a
    tiny source (capped sources emit exactly ``max_epochs`` full passes
    and no partial).  A NULL source is a source (own plan row).

    Units are documents by default; pass ``weight_col`` (e.g. a
    per-document token count) to budget in TOKENS — the unit
    production mixes are actually specified in.  ``budget_docs`` is
    then a unit budget; shares, quota and epochs are computed over the
    per-source weight sums, and the partial pass realizes its unit
    remainder in expectation (hash selection is per-document, so the
    realized partial-token count fluctuates by one document's worth).
    NULL weights count as 0; a zero-weight source plans zero epochs.
    """
    from dqc_spark.cache import track

    if max_epochs is not None and max_epochs < 1:
        raise ValueError("max_epochs must be >= 1")
    if budget_docs is not None and budget_docs < 1:
        raise ValueError("budget_docs must be >= 1")
    unit = (
        F.coalesce(F.sum(F.col(weight_col).cast("long")), F.lit(0))
        if weight_col is not None else F.count(F.lit(1))
    )
    counts = track(
        df.groupBy(source_col).agg(
            F.count(F.lit(1)).alias("n_docs"), unit.alias("n_units"))
    )
    total = counts.agg(F.sum("n_units").alias("t")).select("t")
    c = counts.crossJoin(F.broadcast(total))
    c = c.withColumn("raw_share", F.col("n_units") / F.col("t"))
    # zero-unit sources (possible only with weight_col) must carry ZERO
    # mix weight: pow(0, 0) is 1, so at alpha=0 an all-NULL-weight
    # source would otherwise be assigned a full quota share it can
    # never emit, silently deflating every real source's quota
    c = c.withColumn(
        "__w",
        F.when(F.col("n_units") > 0,
               F.pow(F.col("raw_share"), F.lit(alpha)))
        .otherwise(F.lit(0.0)))
    wsum = c.agg(F.sum("__w").alias("ws")).select("ws")
    c = c.crossJoin(F.broadcast(wsum)).withColumn(
        "target_share", F.col("__w") / F.col("ws")
    )
    budget = F.lit(budget_docs).cast("double") if budget_docs is not None \
        else F.col("t").cast("double")
    c = c.withColumn(
        "quota",
        F.round(F.col("target_share") * budget, 0).cast("bigint"))
    # n_units = 0 (possible only with weight_col): div-by-zero is NULL
    # in Spark but an ERROR in DuckDB and python — plan zero explicitly
    ep = F.when(F.col("n_units") > 0, F.expr("quota div n_units")) \
        .otherwise(F.lit(0))
    c = c.withColumn("epochs", ep)
    if max_epochs is not None:
        c = c.withColumn(
            "quota",
            F.when(F.col("epochs") >= max_epochs,
                   F.lit(max_epochs) * F.col("n_units"))
            .otherwise(F.col("quota")))
        c = c.withColumn("epochs", ep)
    c = c.withColumn(
        "partial_thr",
        F.when(
            F.col("n_units") > 0,
            F.expr(f"((quota - epochs * n_units) * {BUCKETS}) div n_units"),
        ).otherwise(F.lit(0)))
    return c.select(source_col, "n_docs", "n_units", "raw_share",
                    "target_share", "quota", "epochs", "partial_thr")


def epoch_expand(
    df: DataFrame,
    source_col: str = "source",
    key_col: str = "doc_id",
    alpha: float = 0.5,
    budget_docs: int | None = None,
    max_epochs: int | None = None,
    epoch_col: str = "epoch",
    weight_col: str | None = None,
) -> DataFrame:
    """Materialize the epoch plan: every input row appears once per
    full epoch (``epoch`` = 0..epochs-1) plus once more in the partial
    pass (``epoch`` = epochs) iff its portable hash bucket clears the
    source's threshold.  Selection depends only on (key, plan) — stable
    across re-runs, repartitioning, and engines.  ``weight_col``
    switches the budget unit from documents to the column's sum (token
    budgets — see epoch_mix_plan).

    Scale shape: the plan is one row per source, broadcast into a
    null-safe join; the fan-out is ONE explode whose per-row width is
    the source's epoch count (bounded by budget/n_s, and by
    ``max_epochs`` when set); no shuffle beyond the plan's tiny counts
    groupBy.  Run AFTER dedup, BEFORE ordering/packing (see module
    note) — downstream keys are (key, epoch).
    """
    plan = epoch_mix_plan(df, source_col, alpha, budget_docs, max_epochs,
                          weight_col=weight_col)
    # __-prefixed temp names: unprefixed 'epochs'/'partial_thr' would
    # collide with same-named caller columns (ambiguous reference in
    # the expressions below, silent deletion in the final drop)
    rates = plan.select(
        F.col(source_col).alias("__mix_src"),
        F.col("epochs").alias("__mix_epochs"),
        F.col("partial_thr").alias("__mix_thr"))
    tagged = df.join(
        F.broadcast(rates),
        on=df[source_col].eqNullSafe(F.col("__mix_src")),
        how="inner",
    ).drop("__mix_src")
    # ONE explode over (full epochs ++ conditional partial slot): a
    # full/partial two-branch union would scan the corpus twice.  The
    # otherwise-arms are EMPTY arrays, never NULL — concat(NULL, x) is
    # NULL and explode would drop the whole row; and the epochs >= 1
    # guard keeps epochs=0 sources away from Spark's DESCENDING
    # sequence(0, -1).  explode (non-outer) drops rows whose combined
    # array is empty — exactly the unselected rows.
    empty = F.array().cast("array<int>")
    fulls = F.when(
        F.col("__mix_epochs") >= 1,
        F.sequence(F.lit(0), (F.col("__mix_epochs") - 1).cast("int")),
    ).otherwise(empty)
    partial = F.when(
        portable_hash_bucket(F.col(key_col), BUCKETS) < F.col("__mix_thr"),
        F.array(F.col("__mix_epochs").cast("int")),
    ).otherwise(empty)
    return (
        tagged.withColumn(epoch_col, F.explode(F.concat(fulls, partial)))
        .drop("__mix_epochs", "__mix_thr")
    )
