"""Gopher/C4-style heuristic quality gates over the scored features.

The seven gate features are computed by ONE kernel — the fused scoring
UDF (``scoring.with_scores`` -> ``features.features_batch``, pinned
bit-equal to the oracle's ``features.features_py``).  This module holds
what sits on top of them as Catalyst: the default thresholds, the
violation predicates (``gate_predicates``) that ``pipeline.annotate``
and ``attributes.regate`` fold into ``keep``, and the trusted-corpus
threshold calibration.  They feed both the per-document keep decision
and the table-level zero-row-success audit (SURVEY §2.4).

Gate set (public heuristics from the Gopher and C4 papers):
  * doc length in words
  * mean word length
  * stop-word ratio
  * alpha-character ratio
  * symbol-to-word ratio (# and ellipsis)
  * duplicate-line fraction
  * repetition: duplicate word-bigram fraction

``words_col`` / ``stopword_ratio`` stay as Column forms for the
text-statistics queries (textstats.py, entry_ext.py).  They split on
``wordhash.PYWS_SPLIT``, python ``str.split()``'s whitespace set, so
``words_col`` counts the same words as the kernels' ``n_words`` on
text with non-ASCII whitespace (NBSP, U+3000) — Java regex ``\\s`` is
ASCII-only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dqc_spark.textmodels import STOPWORDS
from dqc_spark.wordhash import PYWS_SPLIT

# union of per-language stopword lists; small → constant-folded IN set
ALL_STOPWORDS = sorted(set().union(*STOPWORDS.values()))


def words_col(text: Column) -> Column:
    """Whitespace tokenization; empty text -> empty array (split of ''
    yields [''] which we filter)."""
    return F.filter(F.split(text, PYWS_SPLIT), lambda w: w != F.lit(""))


def stopword_ratio(text: Column) -> Column:
    w = words_col(F.lower(text))
    hits = F.size(F.filter(w, lambda x: x.isin(ALL_STOPWORDS)))
    return F.when(F.size(w) > 0, hits / F.size(w)).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# default thresholds (Gopher-flavored, tuned for the synthetic corpus)
# ---------------------------------------------------------------------------

DEFAULT_THRESHOLDS = {
    "min_words": 20,
    "max_words": 50_000,
    "min_mean_word_length": 1.0,
    "max_mean_word_length": 12.0,
    "min_stopword_ratio": 0.05,
    "min_alpha_ratio": 0.55,
    "max_symbol_word_ratio": 0.1,
    "max_dup_line_fraction": 0.30,
    "max_dup_bigram_fraction": 0.40,
}


def gate_predicates(
    feats: dict[str, Column], th: dict | None = None
) -> dict[str, Column]:
    """Violation predicates (True = drop reason) over feature columns.
    Mirrors the reference's range-check semantics (#6 between, #9
    length): a gate is 'value outside [lo, hi]'."""
    t = dict(DEFAULT_THRESHOLDS)
    if th:
        t.update(th)
    return {
        "gate_too_few_words": feats["n_words"] < t["min_words"],
        "gate_too_many_words": feats["n_words"] > t["max_words"],
        "gate_word_length": (feats["mean_word_len"] < t["min_mean_word_length"])
        | (feats["mean_word_len"] > t["max_mean_word_length"]),
        "gate_stopword": feats["stopword_ratio"] < t["min_stopword_ratio"],
        "gate_alpha": feats["alpha_ratio"] < t["min_alpha_ratio"],
        "gate_symbol": feats["symbol_word_ratio"] > t["max_symbol_word_ratio"],
        "gate_dup_lines": feats["dup_line_fraction"] > t["max_dup_line_fraction"],
        "gate_repetition": feats["dup_bigram_fraction"] > t["max_dup_bigram_fraction"],
    }


def calibrate_thresholds(
    trusted: DataFrame,
    text_col: str = "text",
    quantile: float = 0.02,
    accuracy: int = 10_000,
) -> dict:
    """Derive the gate thresholds FROM a trusted corpus (the CCNet /
    Gopher practice: bounds come from a reference distribution — e.g.
    a Wikipedia slice — not hand-picked constants).  Each lower bound
    is the ``quantile`` tail of the trusted feature distribution and
    each upper bound the ``1-quantile`` tail, so per gate at most
    ~``quantile`` of trusted-like documents would be dropped; the
    returned dict is ``DEFAULT_THRESHOLDS``-shaped and feeds straight
    into ``annotate``/``curate(thresholds=...)``.

    Scale shape: ONE scan — the seven feature columns come from the
    fused scoring kernel (``scoring.with_scores``), the SAME numbers the
    gates test in ``annotate``, and all thirteen percentiles fuse into
    a single ``percentile_approx`` aggregate (mergeable sketch; exact
    percentiles would force ObjectHashAggregate per the repo's
    measured rule).  At the default accuracy the approximation error
    is <= 1/accuracy of rank, exact on corpora smaller than it.

    NULL handling: NULL/empty text produces NULL ``mean_word_len``
    (skipped by the percentile — empties must not drag the word-length
    band down) and zeros elsewhere, matching the gate features
    themselves."""
    from dqc_spark.scoring import with_scores

    if not (0.0 < quantile < 0.5):
        raise ValueError(
            f"quantile must be in (0, 0.5), got {quantile}")
    # the kernel scores NULL text as "" (scoring.score_udf)
    proj = with_scores(trusted.select(text_col), text_col)
    lo, hi = float(quantile), float(1.0 - quantile)
    qq = F.array(F.lit(lo), F.lit(hi))
    row = proj.agg(
        F.percentile_approx("n_words", qq, accuracy).alias("w"),
        F.percentile_approx("mean_word_len", qq, accuracy).alias("m"),
        F.percentile_approx("stopword_ratio", F.lit(lo), accuracy)
        .alias("sw"),
        F.percentile_approx("alpha_ratio", F.lit(lo), accuracy)
        .alias("al"),
        F.percentile_approx("symbol_word_ratio", F.lit(hi), accuracy)
        .alias("sy"),
        F.percentile_approx("dup_line_fraction", F.lit(hi), accuracy)
        .alias("dl"),
        F.percentile_approx("dup_bigram_fraction", F.lit(hi), accuracy)
        .alias("db"),
    ).first()
    if row["w"] is None:
        raise ValueError("calibrate_thresholds: trusted corpus is empty")
    if row["m"] is None:
        # n_words is 0 (not NULL) for empty texts, so the guard above
        # passes — but mean_word_len is NULL everywhere and its
        # percentile comes back NULL (review finding: this surfaced
        # as a raw TypeError instead of the designed error)
        raise ValueError(
            "calibrate_thresholds: trusted corpus has no words "
            "(every text empty/whitespace/NULL)")
    return {
        "min_words": int(row["w"][0]),
        "max_words": int(row["w"][1]),
        "min_mean_word_length": float(row["m"][0]),
        "max_mean_word_length": float(row["m"][1]),
        "min_stopword_ratio": float(row["sw"]),
        "min_alpha_ratio": float(row["al"]),
        "max_symbol_word_ratio": float(row["sy"]),
        "max_dup_line_fraction": float(row["dl"]),
        "max_dup_bigram_fraction": float(row["db"]),
    }
