"""Shared Unicode-portable tokenizer family.

The decontam grams, LM gram tables, MinHash shingles and toxicity
blocklist terms — plus their DuckDB differential oracles — depend on
EXACTLY this tokenization; a drifting per-module copy would silently
break an oracle, so they all import from here.

Three-engine discipline (the ``htmlextract`` rule): every class below
is ONE literal string that parses identically as a Java regex
(Catalyst ``split``/``regexp_replace``), a Python ``re`` pattern, and
an RE2 pattern (DuckDB ``regexp_*``), so the Spark plan, the python
reference models, and the SQL oracles tokenize byte-identically.
Verified cross-engine on planted CJK/Cyrillic/accented/exotic-space
text by ``tests/test_unicode_tokens.py`` and the ``text_tokens_unicode``
driver oracle.

* ``CJK_CLASS`` — explicit codepoint ranges for space-free scripts
  (Hiragana, Katakana + halfwidth, CJK Unified + Ext A + Compat).
  Tokenizers ISOLATE each such codepoint into its own token first
  (the CCNet-style codepoint fallback: a space-free Japanese/Chinese
  document otherwise becomes one giant "word"), so LM grams over CJK
  are character n-grams and a CJK blocklist term matches per character.
  Hangul is intentionally absent (Korean is space-delimited);
  Thai/Lao/Myanmar/Khmer get their own CLUSTER treatment via
  ``SEA_GROUP`` in the gram-identity families only — per codepoint
  would break their multi-char units, and segmenting the REBUILD
  family would delete their real phrase spaces (see the SEA_* note).
  Explicit ranges, not ``\\p{script=Han}`` — python ``re`` has no
  script properties, and literal ranges parse identically everywhere.
* ``UWS_CLASS`` — explicit Unicode whitespace.  ``\\s`` is a trap: it
  is ASCII-only in Java/RE2 but Unicode-wide in python, and even the
  ASCII sets disagree on the vertical tab, so the class is spelled out
  (TAB LF VT FF CR SP NEL NBSP OGHAM + U+2000-200A LSEP PSEP NNBSP
  MMSP IDSP).
* ``NONALNUM_JAVA`` / ``NONALNUM_PY`` — the not-(letter|digit) split
  for the alnum token family: Java/RE2 spell it ``[^\\p{L}\\p{N}]+``;
  python ``re`` lacks ``\\p`` so it uses the provably equal ``[\\W_]+``
  (python ``\\w`` = ``\\p{L}`` + ``\\p{N}`` + underscore exactly, per
  ``str.isalnum``'s L*/Nd/Nl/No categories).
* ``fold_case`` / ``fold_case_col`` / ``fold_case_sql`` — the portable
  case fold every lowercasing token consumer must use instead of a
  bare ``lower()``.  Measured (full BMP+ sweep, 2026-08): python and
  the JVM lowercase identically on every probed codepoint, but DuckDB
  lowercases per-codepoint from an older table, so two real-text cases
  diverge — word-final ``Σ`` (py/JVM contextual ``ς`` vs DuckDB ``σ``)
  and ``İ`` U+0130 (py/JVM expand to ``i``+U+0307, DuckDB plain
  ``i``).  The fold pins both: translate ``İ``→``i`` BEFORE lower,
  ``ς``→``σ`` AFTER, same three-leg spelling.  Residual known
  divergence: a handful of Unicode-14 letters DuckDB cannot lower at
  all (Ⱟ, Ꟁ/Ꟈ/Ꟊ/Ꟑ/Ꟗ/Ꟙ/Ꟶ, Vithkuqi U+10570..) — never plant these in
  an oracle-compared fixture.

``ascii_tokens``/``WS_ASCII`` remain for callers that must match
legacy ASCII-\\s behavior; new code uses ``unicode_tokens`` (whitespace
family, case untouched) or ``unicode_alnum_tokens`` (the toxicity
blocklist's family, lowercases).
"""

from __future__ import annotations

import re

__all__ = [
    "WS_ASCII",
    "ascii_tokens",
    "CJK_CLASS",
    "CJK_GROUP",
    "SEA_BASE_CLASS",
    "SEA_MARK_CLASS",
    "SEA_GROUP",
    "sea_isolate",
    "UWS_CLASS",
    "UWS_SPLIT",
    "PYWS_SPLIT",
    "NONALNUM_JAVA",
    "NONALNUM_PY",
    "cjk_isolate",
    "fold_case",
    "fold_case_col",
    "fold_case_sql",
    "fold_tokens",
    "fold_tokens_col",
    "fold_tokens_sql",
    "unicode_tokens",
    "unicode_tokens_col",
    "unicode_alnum_tokens",
    "unicode_alnum_tokens_col",
    "unicode_tokens_sql",
    "unicode_alnum_tokens_sql",
]

WS_ASCII = re.compile(r"\s+", re.ASCII)

# --- the Unicode family: one literal spelling, three engines ---------------

CJK_CLASS = (
    "぀-ヿ"  # Hiragana + Katakana (incl. marks)
    "㐀-䶿"  # CJK Unified Ideographs Extension A
    "一-鿿"  # CJK Unified Ideographs
    "豈-﫿"  # CJK Compatibility Ideographs
    "ｦ-ﾟ"  # Halfwidth Katakana
)
CJK_GROUP = f"([{CJK_CLASS}])"

# --- Southeast-Asian space-free scripts: Thai, Lao, Myanmar, Khmer ---------
#
# These scripts write words without spaces (spaces mark PHRASE
# boundaries), so a whitespace tokenizer sees whole sentences as one
# token.  Per-codepoint isolation (the CJK treatment) would detach
# combining vowel/tone marks from their consonants, so the unit here is
# the conservative grapheme-ish CLUSTER: one base character plus its
# trailing dependent vowel/tone/medial marks — ``[SEA_BASE][SEA_MARK]*``.
# Explicit literal ranges like CJK_CLASS (no \p{script=..}: python re
# has none), one spelling for all three engines; \u escapes resolve at
# python parse time, so every leg interpolates identical characters.
#
# Only the GRAM-IDENTITY families segment this way (``fold_tokens`` —
# LM/decontam/MinHash — and ``unicode_alnum_tokens`` — toxicity): none
# of their consumers ever rebuilds output text, so the segmentation is
# free.  ``unicode_tokens`` (the whitespace family) stays UN-segmented
# for these scripts: rebuilding text from clusters with a no-separator
# rejoin — correct for CJK, whose running text has no spaces — would
# delete the real phrase-boundary spaces of every untouched
# Thai/Lao/Khmer/Myanmar document (the CJK-rebuild failure mode, one
# script family over).  Consequence, documented: the
# whitespace family sees an unbroken SEA phrase as one token;
# LM/decontam/toxicity see clusters.
SEA_MARK_CLASS = (
    "\u0e31\u0e33-\u0e3a\u0e47-\u0e4e"    # Thai dependent vowels/tones
    "\u0eb1\u0eb3-\u0ebc\u0ec8-\u0ecd"    # Lao dependent vowels/tones
    "\u102b-\u103e\u1056-\u1059"           # Myanmar dependent signs,
    "\u105e-\u1060\u1062-\u1064"           # medials, virama/asat
    "\u1067-\u106d\u1071-\u1074"
    "\u1082-\u108d\u109a-\u109d"
    "\u17b4-\u17d3\u17dd"                   # Khmer dependent signs
)
SEA_BASE_CLASS = (
    "\u0e01-\u0e30\u0e32\u0e3f-\u0e46\u0e4f-\u0e5b"  # Thai
    "\u0e81-\u0eb0\u0eb2\u0ebd-\u0ec7\u0ece-\u0edf"  # Lao
    "\u1000-\u102a\u103f-\u1055\u105a-\u105d"          # Myanmar
    "\u1061\u1065-\u1066\u106e-\u1070"
    "\u1075-\u1081\u108e-\u1099\u109e-\u109f"
    "\u1780-\u17b3\u17d4-\u17dc\u17de-\u17ff"          # Khmer
)
SEA_GROUP = f"([{SEA_BASE_CLASS}][{SEA_MARK_CLASS}]*)"
UWS_CLASS = (
    "\t\n\x0b\x0c\r \x85\xa0 "
    " -     　"
)
UWS_SPLIT = f"[{UWS_CLASS}]+"
#: python str.split()'s EXACT whitespace set: UWS plus the four ASCII
#: information separators \x1c-\x1f (test_unicode_tokens pins UWS ==
#: python whitespace minus exactly those four).  The split of the gate
#: family — ``gates.words_col`` and the DuckDB oracles of kernels that
#: tokenize with bare str.split() — so its word counts equal
#: ``features_py``'s ``n_words``.
PYWS_SPLIT = f"[{UWS_CLASS}\x1c-\x1f]+"
NONALNUM_JAVA = r"[^\p{L}\p{N}]+"  # also the RE2/DuckDB spelling
NONALNUM_PY = re.compile(r"[\W_]+", re.UNICODE)

_CJK_RE = re.compile(CJK_GROUP)
_UWS_RE = re.compile(UWS_SPLIT)
_SEA_RE = re.compile(SEA_GROUP)
_HAS_SEA = re.compile(f"[{SEA_BASE_CLASS}{SEA_MARK_CLASS}]")


def fold_case(text: str | None) -> str:
    """Portable lowercase (python leg): ``İ``→``i`` pre-lower,
    ``ς``→``σ`` post-lower — the two measured DuckDB ``lower()``
    divergences (see module docstring)."""
    return (text or "").replace("İ", "i").lower().replace(
        "ς", "σ")


def fold_case_col(col):
    """Catalyst leg of ``fold_case`` (lazy pyspark import so the
    python oracle kernels can import this module without a JVM)."""
    from pyspark.sql import functions as F

    return F.translate(
        F.lower(F.translate(col, "İ", "i")), "ς", "σ")


def fold_case_sql(expr: str) -> str:
    """DuckDB leg of ``fold_case``."""
    return (
        f"replace(lower(replace({expr}, 'İ', 'i')), "
        "'ς', 'σ')"
    )


def cjk_isolate(text: str) -> str:
    """Each CJK codepoint spaced into its own token (python leg; the
    Catalyst leg is ``regexp_replace(col, CJK_GROUP, " $1 ")``, the
    DuckDB leg ``regexp_replace(expr, CJK_GROUP, ' \\1 ', 'g')``)."""
    return _CJK_RE.sub(r" \1 ", text)


def sea_isolate(text: str) -> str:
    """Each Thai/Lao/Myanmar/Khmer grapheme-ish cluster
    (``[SEA_BASE][SEA_MARK]*``) spaced into its own token — the
    gram-identity-family leg only (see SEA_* comment above).  Catalyst
    leg: ``regexp_replace(col, SEA_GROUP, " $1 ")``; DuckDB leg:
    ``regexp_replace(expr, SEA_GROUP, ' \\1 ', 'g')``.  One class scan
    skips the sub for the (overwhelmingly common) SEA-free document."""
    if _HAS_SEA.search(text) is None:
        return text
    return _SEA_RE.sub(r" \1 ", text)


# Fast-path guard: the UWS regex class equals Python's str.split()
# whitespace set MINUS the four ASCII information separators \x1c-\x1f
# — verified by a full 0..0x10FFFF codepoint sweep (pinned in
# test_unicode_tokens) — and no CJK codepoint is whitespace.  So for
# any document containing neither a separator nor a CJK codepoint,
# C-level ``t.split()`` is bit-identical to cjk_isolate + regex split.
# One early-exit class scan decides; this runs per document inside the
# scoring/LM/dedup kernels, where the regex pipeline measured 3.5x
# slower than str.split().
_NEEDS_SLOW = re.compile(f"[\x1c-\x1f{CJK_CLASS}]")


def unicode_tokens(text: str | None) -> list[str]:
    """Whitespace-family Unicode tokens: CJK codepoints isolated, then
    split on the explicit Unicode-whitespace class; empties dropped.
    Case is NOT touched (callers lower first where their gram identity
    is case-folded).  Identical to ``ascii_tokens`` on pure-ASCII text
    with ASCII whitespace — i.e. a no-op widening on the test corpus.
    Documents with no CJK and no \\x1c-\\x1f separator (the hot path)
    take ``str.split()`` — bit-identical per the ``_NEEDS_SLOW``
    analysis above, pinned by the fast-path property test."""
    t = text or ""
    if _NEEDS_SLOW.search(t) is None:
        return t.split()
    return [x for x in _UWS_RE.split(cjk_isolate(t)) if x]


def unicode_alnum_tokens(text: str | None) -> list[str]:
    """Alnum-family tokens (the toxicity blocklist's): fold case,
    isolate CJK codepoints and SEA clusters, split on
    not-(letter|digit).  Matches the Catalyst plan
    from ``unicode_alnum_tokens_col`` and the DuckDB oracle spelling
    from ``unicode_alnum_tokens_sql``."""
    iso = sea_isolate(cjk_isolate(fold_case(text)))
    return [t for t in NONALNUM_PY.split(iso) if t]


def fold_tokens(text: str | None) -> list[str]:
    """Case-folded gram-identity tokens — the LM-family tokenizer
    (LM gram tables, perplexity scoring, decontam grams, MinHash
    shingles).
    Whitespace family plus SEA cluster isolation (no consumer of this
    family rebuilds output text — see the SEA_* note).  Train-time and
    score-time vocabularies agree BY CONSTRUCTION: every one of those
    consumers calls this function."""
    return unicode_tokens(sea_isolate(fold_case(text)))


def unicode_tokens_col(col):
    """Catalyst leg of ``unicode_tokens`` (array<string>, empties
    removed)."""
    from pyspark.sql import functions as F

    return F.array_remove(
        F.split(F.regexp_replace(F.coalesce(col, F.lit("")),
                                 CJK_GROUP, " $1 "), UWS_SPLIT), "")


def fold_tokens_col(col):
    """Catalyst leg of ``fold_tokens``."""
    from pyspark.sql import functions as F

    return unicode_tokens_col(F.regexp_replace(
        fold_case_col(F.coalesce(col, F.lit(""))), SEA_GROUP, " $1 "))


def unicode_alnum_tokens_col(col):
    """Catalyst leg of ``unicode_alnum_tokens``."""
    from pyspark.sql import functions as F

    return F.array_remove(
        F.split(
            F.regexp_replace(
                F.regexp_replace(
                    fold_case_col(F.coalesce(col, F.lit(""))),
                    CJK_GROUP, " $1 "),
                SEA_GROUP, " $1 "),
            NONALNUM_JAVA),
        "")


def fold_tokens_sql(expr: str) -> str:
    """DuckDB leg of ``fold_tokens``."""
    return unicode_tokens_sql(
        f"regexp_replace({fold_case_sql(expr)}, '{SEA_GROUP}', ' \\1 ', 'g')"
    )


def unicode_tokens_sql(expr: str) -> str:
    """DuckDB list expression for ``unicode_tokens(expr)`` — the ONE
    spelling every SQL oracle interpolates (copy-drift here would
    silently break a differential)."""
    return (
        "list_filter(regexp_split_to_array(regexp_replace("
        f"{expr}, '{CJK_GROUP}', ' \\1 ', 'g'), '{UWS_SPLIT}'), "
        "x -> x <> '')"
    )


def unicode_alnum_tokens_sql(expr: str) -> str:
    """DuckDB list expression for ``unicode_alnum_tokens(expr)``."""
    return (
        "list_filter(regexp_split_to_array(regexp_replace(regexp_replace("
        f"{fold_case_sql(expr)}, '{CJK_GROUP}', ' \\1 ', 'g'), "
        f"'{SEA_GROUP}', ' \\1 ', 'g'), "
        f"'[^\\p{{L}}\\p{{N}}]+'), x -> x <> '')"
    )


def ascii_tokens(text: str | None) -> list[str]:
    """Whitespace tokens of ``text`` (ASCII \\s, empties dropped) —
    legacy spelling, kept for exact-match consumers."""
    return [t for t in WS_ASCII.split(text or "") if t]
