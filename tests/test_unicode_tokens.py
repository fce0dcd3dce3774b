"""Three-engine differential for the shared Unicode tokenizer family.

wordhash.py's contract is that ONE literal pattern family tokenizes
byte-identically as a Java regex (Catalyst), a python ``re`` pattern
(oracle kernels), and an RE2 pattern (DuckDB differential oracles).
This test is the measurement behind that claim: every planted sample —
CJK, Cyrillic, Greek (final sigma), Turkish dotted-İ, accented Latin,
exotic Unicode spaces, halfwidth katakana — must tokenize identically
on all three legs, for both the whitespace family and the
case-folding alnum (toxicity) family.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from dqc_spark.wordhash import (
    CJK_GROUP,
    NONALNUM_JAVA,
    SEA_GROUP,
    UWS_SPLIT,
    ascii_tokens,
    fold_case,
    fold_case_col,
    fold_case_sql,
    fold_tokens,
    fold_tokens_sql,
    unicode_alnum_tokens,
    unicode_alnum_tokens_sql,
    unicode_tokens,
    unicode_tokens_sql,
)

SAMPLES = [
    "hello world  foo\tbar",
    "Hello, WORLD! It's 2026-08-18... naïve café",
    "日本語のテキストです。漢字とカタカナ混じり",
    "中文文本没有空格所以需要逐字切分",
    "Привет мир, это русский текст!",
    "Füße GROSSE Straße ÄÖÜ",
    "no break thin space ideographic　space",
    "halfｦﾟwidth katakana ｶﾀｶﾅ",
    "under_score mixed_CASE token-with-dash",
    "digits ١٢٣ arabic-indic and ²superscript Ⅷroman",
    "edge\x0bvt\x0cff\x85nel  lsep psep",
    "mixed 英語と日本語 mixed English and Japanese",
    "",
    "   ",
    None,
    "κόσμος ελληνικά UPPER ΚΌΣΜΟΣ ΣΙΓΜΑΣ",
    "İstanbul DİYARBAKIR",
    "ㄅㄆㄇ bopomofo stays wordy 한국어 hangul stays wordy",
    # SEA space-free scripts: cluster-segmented in the gram-identity
    # families (fold/alnum), left run-whole in the ws/rebuild family
    "คนไทยกินข้าวที่บ้าน ภาษาไทย ๑๒๓",
    "ພາສາລາວ ແລະ ໄທ ຕົວເລກ",
    "မြန်မာစာ ရေးသည် မြို့တော်",
    "ភាសាខ្មែរ និង ឡាវ អក្សរ",
    "mixed ไทย with Latin and 中文 together",
]


@pytest.fixture(scope="module")
def legs(spark):
    """(python, spark, duckdb) token lists per sample, all three
    families: ws (unicode_tokens, the rebuild family), al (toxicity), fold
    (LM/gram-identity).  The Catalyst columns are spelled INLINE from
    the shared class constants — that is the pin: a leg edit that
    forgets one engine breaks this fixture."""
    sdf = spark.createDataFrame(
        [(i, s) for i, s in enumerate(SAMPLES)], "i int, t string"
    )
    t = F.coalesce(F.col("t"), F.lit(""))
    ws_col = F.array_remove(
        F.split(F.regexp_replace(t, CJK_GROUP, " $1 "), UWS_SPLIT), ""
    )
    al_col = F.array_remove(
        F.split(
            F.regexp_replace(
                F.regexp_replace(fold_case_col(t), CJK_GROUP, " $1 "),
                SEA_GROUP, " $1 "),
            NONALNUM_JAVA,
        ),
        "",
    )
    fold_col = F.array_remove(
        F.split(
            F.regexp_replace(
                F.regexp_replace(fold_case_col(t), SEA_GROUP, " $1 "),
                CJK_GROUP, " $1 "),
            UWS_SPLIT,
        ),
        "",
    )
    spark_rows = {
        r["i"]: (r["ws"], r["al"], r["fo"])
        for r in sdf.select(
            "i", ws_col.alias("ws"), al_col.alias("al"),
            fold_col.alias("fo")).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE s AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, ?)" for i in range(len(SAMPLES)))
        + ") v(i, t)",
        list(SAMPLES),
    )
    expr = "coalesce(t, '')"
    duck_rows = {
        i: (ws, al, fo)
        for i, ws, al, fo in con.execute(
            f"SELECT i, {unicode_tokens_sql(expr)}, "
            f"{unicode_alnum_tokens_sql(expr)}, "
            f"{fold_tokens_sql(expr)} FROM s"
        ).fetchall()
    }
    py_rows = {
        i: (unicode_tokens(s), unicode_alnum_tokens(s), fold_tokens(s))
        for i, s in enumerate(SAMPLES)
    }
    return py_rows, spark_rows, duck_rows


def test_three_engines_whitespace_family(legs):
    py, sp, dk = legs
    for i, s in enumerate(SAMPLES):
        assert list(sp[i][0]) == py[i][0], (i, s)
        assert list(dk[i][0]) == py[i][0], (i, s)


def test_three_engines_alnum_family(legs):
    py, sp, dk = legs
    for i, s in enumerate(SAMPLES):
        assert list(sp[i][1]) == py[i][1], (i, s)
        assert list(dk[i][1]) == py[i][1], (i, s)


def test_three_engines_fold_family(legs):
    py, sp, dk = legs
    for i, s in enumerate(SAMPLES):
        assert list(sp[i][2]) == py[i][2], (i, s)
        assert list(dk[i][2]) == py[i][2], (i, s)


def test_sea_cluster_segmentation():
    # gram-identity families segment Thai into clusters (marks bound to
    # their base), never lone combining marks; the rebuild family keeps
    # the unbroken run whole and the phrase space intact
    assert fold_tokens("กินข้าว") == ["กิ", "น", "ข้", "า", "ว"]
    assert unicode_tokens("คนไทย กิน") == ["คนไทย", "กิน"]
    # Lao/Myanmar/Khmer clusters keep their dependent signs attached
    assert all(len(t) >= 1 for t in fold_tokens("ພາສາລາວ"))
    assert fold_tokens("မြန်မာ") == ["မြ", "န်", "မာ"]
    assert fold_tokens("ខ្មែរ") == ["ខ្", "មែ", "រ"]
    # an alnum-family Thai blocklist term matches per cluster
    assert "ไ" in unicode_alnum_tokens("ค้นหา ไทย")


def test_ascii_corpus_unchanged():
    # the widening is a no-op on ASCII text with ASCII whitespace — the
    # guarantee that migrating consumers does not move existing oracles
    for s in [
        "plain ascii words",
        "  leading and trailing  ",
        "tabs\tand\nnewlines\r\nmixed",
        "punct, stays! attached? yes.",
        "",
    ]:
        assert unicode_tokens(s) == ascii_tokens(s)


def test_cjk_codepoint_fallback():
    # a space-free Chinese sentence must NOT become one giant token
    toks = unicode_tokens("中文文本没有空格")
    assert toks == list("中文文本没有空格")
    # mixed text: Latin words survive as words, CJK splits per codepoint
    assert unicode_tokens("use 中文 here") == ["use", "中", "文", "here"]
    # Korean is space-delimited: hangul words must stay whole
    assert unicode_tokens("한국어 단어") == ["한국어", "단어"]


def test_alnum_family_folds_and_strips():
    assert unicode_alnum_tokens("Hello, WORLD!") == ["hello", "world"]
    assert unicode_alnum_tokens("naïve-café's") == ["naïve", "café", "s"]
    # underscore is a separator (Java [^\p{L}\p{N}] has no _, python
    # compensates with [\W_])
    assert unicode_alnum_tokens("a_b") == ["a", "b"]
    # CJK query terms come out per codepoint, lowercased Latin around
    assert unicode_alnum_tokens("Search 日本語 now") == [
        "search", "日", "本", "語", "now"]


def test_fold_case_pins_duckdb_divergences():
    con = duckdb.connect()
    for s in ["ΣΙΓΜΑΣ ΤΕΛΟΣ", "İstanbul", "ΚΌΣΜΟΣ", "MiXeD case"]:
        d = con.execute(f"SELECT {fold_case_sql('?')}", [s]).fetchone()[0]
        assert fold_case(s) == d, s
    # the two raw-lower() divergences the fold exists for
    assert fold_case("ΣΙΓΜΑΣ") == "σιγμασ"  # no contextual final sigma
    assert fold_case("İ") == "i"  # no combining-dot residue


def test_ascii_fast_path_bit_identical():
    """The str.split() fast path must equal the regex pipeline on every
    ASCII input — including the \\x1c-\\x1f information separators that
    str.split() treats as whitespace but the UWS class does not (those
    docs must take the slow path)."""
    import random
    import re as _re

    from dqc_spark.wordhash import (UWS_SPLIT, cjk_isolate, fold_tokens,
                                    unicode_tokens)

    uws = _re.compile(UWS_SPLIT)

    def slow(t):
        return [x for x in uws.split(cjk_isolate(t)) if x]

    rng = random.Random(7)
    alphabet = ("abcXYZ019 \t\n\r\x0b\x0c!@#.,-_"
                "\x1c\x1d\x1e\x1f")  # separators force the slow path
    cases = ["", " ", "plain ascii words", "a\x1cb c", "\x1f", "x\x1d\x1ey",
             "日本 mixed ascii", "tab\tsep"]
    cases += ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
              for _ in range(500)]
    for t in cases:
        assert unicode_tokens(t) == slow(t), repr(t)
    # fold_tokens composes fold_case with the same fast path
    assert fold_tokens("Mixed CASE\x1cWords") == ["mixed", "case\x1cwords"]
    assert fold_tokens("Mixed CASE Words") == ["mixed", "case", "words"]


def test_fast_path_guard_is_exact_over_all_codepoints():
    """The _NEEDS_SLOW analysis: UWS regex class == python whitespace
    minus \\x1c-\\x1f for EVERY codepoint, and no CJK codepoint is
    whitespace — the two facts that make the str.split() fast path
    bit-identical.  Sweeping the BMP + astral planes pins it against
    both UWS_CLASS edits and python unicodedata upgrades."""
    import re as _re

    from dqc_spark.wordhash import CJK_CLASS, UWS_SPLIT

    rx = _re.compile(UWS_SPLIT)
    cjk = _re.compile(f"[{CJK_CLASS}]")
    for i in range(0x110000):
        c = chr(i)
        in_rx = rx.fullmatch(c) is not None
        in_py = c.isspace() and not (0x1C <= i <= 0x1F)
        assert in_rx == in_py, hex(i)
        assert not (c.isspace() and cjk.fullmatch(c)), hex(i)


def test_gate_words_col_counts_kernel_words(spark):
    """gates.words_col / stopword_ratio split where the gate kernel's
    str.split() does: on sentences whose word gaps include U+3000,
    NBSP and an ASCII information separator, the Catalyst word count
    and stopword ratio equal features_py's.  Java ``\\s`` (ASCII-only)
    counted 6 words in the first sentence, not 9."""
    from dqc_spark.features import features_py
    from dqc_spark.gates import stopword_ratio, words_col

    texts = [
        "the cat\u3000sat on\xa0the mat and\u3000then slept",
        "der Hund und\xa0die Katze\x1cist hier",
        "\u3000\xa0leading and trailing gaps\xa0",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, t string")
    got = {r["i"]: (r["nw"], r["sw"]) for r in df.select(
        "i", F.size(words_col(F.col("t"))).alias("nw"),
        stopword_ratio(F.col("t")).alias("sw")).collect()}
    for i, t in enumerate(texts):
        want = features_py(t)
        assert got[i] == (want["n_words"], want["stopword_ratio"]), repr(t)
    assert got[0][0] == 9
