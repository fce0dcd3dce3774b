"""Configurable toxic-word scoring + gate.

The scrub stage (scrub.py) REDACTS matched spans; this operator makes
the complementary document-level DECISION: fraction of tokens on a
deployment-supplied blocklist, gated at a threshold — the standard
word-list toxicity filter (C4 dropped documents on its "bad words"
list the same way).  The list is an input, not an opinion: ships
as a file of one term per line (comments/#, blanks ignored), folded
through the shared alnum tokenizer family
(``wordhash.unicode_alnum_tokens``: case fold + punctuation strip), so
"BadWord" matches the "bad word!" in a document — the whitespace
family would keep the '!' attached and miss it.

Spark shape: the (small) list broadcasts; scoring is ONE vectorized
Arrow kernel per batch over the shared ``unicode_alnum_tokens`` kernel — no
shuffle, no per-row Python, same fusion discipline as scoring.py.
The ratio is an int-ratio double, so the DuckDB oracle (explode-free
list_filter spelling over the shared tokenizer SQL) compares raw bits.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dqc_spark.wordhash import unicode_alnum_tokens


def load_wordlist(source: Iterable[str] | str) -> frozenset[str]:
    """Blocklist terms -> canonical token set.  ``source`` is a file
    path or an iterable of terms; each term is folded through the
    shared tokenizer so it can actually match document tokens.
    Multi-token entries are rejected loudly — a phrase would silently
    never match a single-token stream."""
    if isinstance(source, str):
        with open(source) as f:
            terms = f.read().splitlines()
    else:
        terms = list(source)
    out = set()
    for raw in terms:
        term = raw.split("#", 1)[0].strip()
        if not term:
            continue
        toks = unicode_alnum_tokens(term)
        if len(toks) != 1:
            raise ValueError(
                f"blocklist entry {raw!r} folds to {len(toks)} tokens; "
                "entries must be single tokens")
        out.add(toks[0])
    return frozenset(out)


def toxicity_score_py(text: str | None, words: frozenset[str]) -> float:
    """Shared single-document kernel: blocked-token fraction in
    [0, 1]; empty/NULL text scores 0.0 (no evidence is not toxic)."""
    toks = unicode_alnum_tokens(text)
    if not toks:
        return 0.0
    return sum(1 for t in toks if t in words) / len(toks)


def make_toxicity_udf(spark, words: frozenset[str]):
    """Vectorized scorer with the list broadcast once per executor."""
    bc = spark.sparkContext.broadcast(words)

    @F.pandas_udf(T.DoubleType())
    def udf(s: pd.Series) -> pd.Series:
        w = bc.value
        return s.map(lambda t: toxicity_score_py(t, w)).astype("float64")

    return udf


def with_toxicity(
    df: DataFrame, words: frozenset[str] | Iterable[str] | str,
    text_col: str = "text", out_col: str = "toxicity",
) -> DataFrame:
    words = words if isinstance(words, frozenset) else load_wordlist(words)
    udf = make_toxicity_udf(df.sparkSession, words)
    return df.withColumn(out_col, udf(F.col(text_col)))


def toxicity_gate(
    df: DataFrame, words: frozenset[str] | Iterable[str] | str,
    max_ratio: float, text_col: str = "text",
) -> DataFrame:
    """Drop documents whose blocked-token fraction EXCEEDS
    ``max_ratio`` (<= keeps; max_ratio=0.0 means one blocked token
    kills the page)."""
    if not (0.0 <= max_ratio <= 1.0):
        raise ValueError("max_ratio must be in [0, 1]")
    scored = with_toxicity(df, words, text_col, "__tox")
    return scored.filter(F.col("__tox") <= F.lit(max_ratio)).drop("__tox")
