"""Dolma-style attribute store: tag once, re-filter many times.

Pattern (the one every large curation effort converges on — Dolma's
attribute files, RedPajama's quality signals): the EXPENSIVE tagging
pass (Python kernels: fused features + langid + perplexity) runs ONCE
over the corpus and persists a NARROW per-document attribute table —
key + numeric features + model outputs + the gate bits under the
tagging thresholds, never text or html.  Every later policy iteration
(threshold change, new gate combination) re-derives keep/drop from the
stored attributes as pure Catalyst column predicates — zero Python,
zero re-tokenization — and filters the corpus by a key semi-join.

At 100 TB this is the difference between re-reading + re-tokenizing
the corpus per policy iteration (hours of Python-UDF time) and a
narrow-table scan measured in seconds: the attribute table is ~100
bytes/doc vs ~4 KB/doc of page text, and `regate` compiles entirely
into whole-stage codegen.

Generalizes the reference's decoupled check-then-act shape (checker.go
runs checks and LOGS results; acting on them is a separate read of the
log) to per-document granularity: `tag` is the check pass, the
attribute table is the log, `apply` is the act pass.

Scale notes
-----------
- `tag` output is a pure projection of the corpus scan (no shuffle);
  write it partitioned the same way as the corpus so `apply`'s
  semi-join can be co-partitioned.
- `regate` is a projection over the attribute table — no shuffle, no
  Python, safe to run interactively while sweeping thresholds.
- `apply` is one shuffle join on the key (broadcast if the kept set is
  small after aggressive thresholds — AQE decides from the actual
  post-regate size at runtime).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dqc_spark import gates
from dqc_spark.features import FEATURE_NAMES
from dqc_spark.langid import lang_mismatch_pred
from dqc_spark.perplexity import DEFAULT_MAX_PPL, high_ppl_pred

#: model-output attribute columns `tag` always emits
MODEL_COLS = ["lang_pred", "lang_conf", "ppl"]


def feature_cols() -> list[str]:
    """The stored feature attribute names (single source: features.py)."""
    return list(FEATURE_NAMES)


def tag(
    pages: DataFrame,
    key_col: str = "url",
    text_col: str = "text",
    lang_col: str | None = "lang",
    thresholds: dict | None = None,
    max_ppl: float = DEFAULT_MAX_PPL,
    lm: dict | None = None,
    langid_model: dict | None = None,
) -> DataFrame:
    """One tagging pass -> the narrow per-document attribute table.

    Columns: key, claimed lang (when present), the 7 gate features,
    langid + perplexity model outputs, the gate_* bits and `keep`
    under the TAGGING thresholds.  Text/html never leave the scan.
    """
    from dqc_spark.pipeline import annotate

    if key_col not in pages.columns:
        raise ValueError(f"key column {key_col!r} not in input")
    ann = annotate(
        pages,
        text_col=text_col,
        thresholds=thresholds,
        max_ppl=max_ppl,
        lang_col=lang_col,
        lm=lm,
        scrub=False,
        langid_model=langid_model,
    )
    keep_cols = [key_col]
    if lang_col is not None and lang_col in pages.columns:
        keep_cols.append(lang_col)
    keep_cols += feature_cols() + MODEL_COLS
    keep_cols += [c for c in ann.columns if c.startswith("gate_")]
    keep_cols.append("keep")
    return ann.select(*keep_cols)


def regate(
    attrs: DataFrame,
    thresholds: dict | None = None,
    max_ppl: float = DEFAULT_MAX_PPL,
    lang_col: str = "lang",
    min_lang_conf: float = 0.2,
) -> DataFrame:
    """Recompute gate_*/keep from STORED attributes — pure Catalyst.

    Exactly `annotate`'s gate semantics (same predicates, same NULL ->
    False coalesce, same GATE_ORDER keep fold) but over the persisted
    feature/model columns instead of text, so sweeping thresholds costs
    a narrow-table projection, not a tagging pass.  The lang-mismatch
    gate fires only when the attribute table stored the claimed lang.
    """
    from dqc_spark.pipeline import fold_gates

    feats: dict[str, Column] = {k: F.col(k) for k in feature_cols()}
    preds = gates.gate_predicates(feats, thresholds)
    if lang_col in attrs.columns:
        preds["gate_lang_mismatch"] = lang_mismatch_pred(lang_col, min_lang_conf)
    preds["gate_high_ppl"] = high_ppl_pred(max_ppl)

    # stale tagging-era gate bits that can't be recomputed here (e.g.
    # lang-mismatch when the claimed lang wasn't stored) must not leak
    # through as if this sweep produced them
    stale = [c for c in attrs.columns if c.startswith("gate_") and c not in preds]
    return fold_gates(attrs.drop(*stale) if stale else attrs, preds)


def apply_filter(
    pages: DataFrame,
    attrs: DataFrame,
    key_col: str = "url",
    keep_col: str = "keep",
) -> DataFrame:
    """Filter the corpus to the attribute table's kept keys.

    One semi-join on the key: the corpus scan stays column-complete
    (text/html flow through untouched) and the attribute side is
    pre-filtered to kept keys so only keys shuffle.

    Keys are expected unique (one attribute row per document).  With
    duplicate keys the semi-join keeps a page when ANY attribute row
    for its key is kept — run url_dedup / dedup_exact first if that
    matters.
    """
    kept = attrs.filter(F.col(keep_col)).select(key_col)
    return pages.join(kept, on=key_col, how="left_semi")
