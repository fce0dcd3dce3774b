"""Per-document heuristic gate features — the two kernels.

  * ``features_py`` — one document at a time; the golden oracle's
    kernel (pipeline_oracle.py).
  * ``features_batch`` — its batch-vectorized twin, the hot path
    inside the fused Arrow UDF (scoring.py); pinned bit-equal to
    ``features_py`` by tests/test_pipeline.py::
    test_features_batch_matches_features_py.

These are the ONLY implementations of the features: annotate, attribute
tagging and gate calibration (gates.calibrate_thresholds) all score
through ``features_batch``.  Do not add a Catalyst Column form beside
them: higher-order-function lambdas execute interpreted and their
unique lambda-variable IDs defeat subexpression elimination (measured
100x slower per core: 37.7s vs 0.4s for 25k docs), and Java regex
``\\s`` is ASCII-only, so a ``split(text, "\\s+")`` form counts
NBSP/U+3000-separated words differently from Python's ``\\s``.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from dqc_spark.gates import ALL_STOPWORDS

_WS = re.compile(r"\s+")
_STOPSET = set(ALL_STOPWORDS)

FEATURE_NAMES = [
    "n_words",
    "mean_word_len",
    "stopword_ratio",
    "alpha_ratio",
    "symbol_word_ratio",
    "dup_line_fraction",
    "dup_bigram_fraction",
]


# ---------------------------------------------------------------------------
# Batch-vectorized twin of features_py (the hot path inside the fused
# Arrow UDF).  features_py stays the golden oracle; features_batch is
# pinned EXACTLY equal to it by tests/test_pipeline.py::
# test_features_batch_matches_features_py (including unicode, astral,
# empty and None edge cases).  The speedup comes from
#   * numpy char-class tables over the batch's utf-32 codepoint buffer
#     (alpha / isspace / regex-\s counts and word starts in C), and
#   * str.split() + set membership instead of regex splits and f-string
#     bigram building (C fast paths of the same semantics).
# str.split() splits on str.isspace and features_py on re\s — the two
# classes are IDENTICAL over all 0x110000 codepoints on this build,
# asserted by tests/test_pipeline.py::test_isspace_equals_regex_ws.
# ---------------------------------------------------------------------------

_TABLES: tuple | None = None


def _char_tables() -> tuple:
    """(isalpha, isspace, re-\\s) boolean lookup tables over all
    codepoints; built once per process (~1 s) and cached — Spark reuses
    python workers, so each executor pays this once."""
    global _TABLES
    if _TABLES is None:
        n = 0x110000
        chars = [chr(i) for i in range(n)]
        ws = re.compile(r"\s")
        _TABLES = (
            np.fromiter((c.isalpha() for c in chars), dtype=bool, count=n),
            np.fromiter((c.isspace() for c in chars), dtype=bool, count=n),
            np.fromiter((ws.match(c) is not None for c in chars), dtype=bool, count=n),
        )
    return _TABLES


def features_batch(texts) -> pd.DataFrame:
    """All gate features for a batch of documents — exact value parity
    with ``features_py`` per row, ~4x faster per core."""
    tab_alpha, tab_space, tab_rews = _char_tables()
    s = pd.Series(texts, dtype=object)
    s = s.where(s.notna(), "")
    tl = s.tolist()
    n = len(tl)
    lens = np.fromiter((len(t) for t in tl), dtype=np.int64, count=n)
    codes = np.frombuffer("".join(tl).encode("utf-32-le"), dtype=np.uint32)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    nonempty = lens > 0
    # reduceat offsets: starts of NON-EMPTY documents only — these are
    # strictly increasing and < len(codes), and each segment spans to
    # the next non-empty start (empty docs contribute zero chars, so
    # boundaries stay exact).  Including empty-doc starts and clamping
    # with minimum() truncated the preceding document's last character
    # whenever a batch ENDED with empty/None texts.
    ne_starts = starts[nonempty]

    def seg_sum(mask: np.ndarray) -> np.ndarray:
        out = np.zeros(n, dtype=np.int64)
        if len(ne_starts):
            out[nonempty] = np.add.reduceat(mask.astype(np.int64), ne_starts)
        return out

    alpha = seg_sum(tab_alpha[codes])
    total = lens - seg_sum(tab_space[codes])  # non-isspace chars
    m = ~tab_rews[codes]  # non-regex-\s chars
    nonws = seg_sum(m)  # == sum of regex-split word lengths
    # word count = number of non-ws runs: run starts are non-ws chars
    # preceded by ws (or at document start — fix the boundary carried
    # over from the previous document in the shared buffer)
    prev = np.empty_like(m)
    if len(m):
        prev[0] = False
        prev[1:] = m[:-1]
    wstart = m & ~prev
    if len(ne_starts):
        wstart[ne_starts] = m[ne_starts]
    nw = seg_sum(wstart)

    # per-doc Python only where genuinely string-shaped: the lowered
    # token list (stopwords + bigram distincts) and the line set
    n_hash = np.empty(n, dtype=np.int64)
    n_ell = np.empty(n, dtype=np.float64)
    sw = np.empty(n, dtype=np.int64)
    lw_n = np.empty(n, dtype=np.int64)
    dup_line = np.zeros(n, dtype=np.float64)
    dup_bg = np.zeros(n, dtype=np.float64)
    stopset = _STOPSET
    for i, t in enumerate(tl):
        n_hash[i] = t.count("#")
        n_ell[i] = (len(t) - len(t.replace("...", ""))) / 3
        lw = t.lower().split()
        lw_n[i] = len(lw)
        sw[i] = sum(1 for w in lw if w in stopset)
        if len(lw) > 1:
            # (a, b) tuples distinct <=> "a b" strings distinct (tokens
            # contain no whitespace), skipping the f-string build
            dup_bg[i] = 1.0 - len(set(zip(lw, lw[1:]))) / (len(lw) - 1)
        lines = [l for l in t.split("\n") if l]
        if lines:
            dup_line[i] = 1.0 - len(set(lines)) / len(lines)

    nw_safe = np.maximum(nw, 1)
    mean_wl = pd.Series(list(nonws / nw_safe), dtype=object)
    mean_wl[nw == 0] = None  # features_py yields None, not NaN
    return pd.DataFrame(
        {
            "n_words": nw,
            "mean_word_len": mean_wl,
            "stopword_ratio": np.where(lw_n > 0, sw / np.maximum(lw_n, 1), 0.0),
            "alpha_ratio": np.where(total > 0, alpha / np.maximum(total, 1), 0.0),
            "symbol_word_ratio": np.where(nw > 0, (n_hash + n_ell) / nw_safe, 0.0),
            "dup_line_fraction": dup_line,
            "dup_bigram_fraction": dup_bg,
        }
    )


def features_py(text: str) -> dict:
    """All gate features for one document, one tokenization pass."""
    words = [w for w in _WS.split(text) if w != ""]
    lw = [w for w in _WS.split(text.lower()) if w != ""]
    nw = len(words)
    raw_len = len(text)
    total = sum(1 for ch in text if not ch.isspace())
    alpha = sum(1 for ch in text if ch.isalpha())
    n_hash = text.count("#")
    n_ell = (raw_len - len(text.replace("...", ""))) / 3
    lines = [l for l in text.split("\n") if l != ""]
    bigrams = [f"{lw[i]} {lw[i + 1]}" for i in range(len(lw) - 1)]
    return {
        "n_words": nw,
        "mean_word_len": (sum(len(w) for w in words) / nw) if nw else None,
        "stopword_ratio": (sum(1 for w in lw if w in _STOPSET) / len(lw)) if lw else 0.0,
        "alpha_ratio": (alpha / total) if total else 0.0,
        "symbol_word_ratio": ((n_hash + n_ell) / nw) if nw else 0.0,
        "dup_line_fraction": (1.0 - len(set(lines)) / len(lines)) if lines else 0.0,
        "dup_bigram_fraction": (1.0 - len(set(bigrams)) / len(bigrams)) if bigrams else 0.0,
    }
