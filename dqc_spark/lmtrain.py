"""Distributed n-gram LM training: the CCNet shape, IN Spark.

CCNet (Wenzek et al. 2020) trains a KenLM n-gram model on a trusted
reference slice (Wikipedia) and scores the crawl with it; this repo's
perplexity gate (perplexity.py / scoring.py) so far consumed only the
in-repo synthetic LM (textmodels.build_lm).  This module closes the
loop: train the SAME model shape on any DataFrame slice — e.g. the
high-quality head bucket, or a curated prior snapshot — with one
distributed counting pass per gram order, then broadcast the result
back into the scoring UDFs unchanged.

Scale shape (what matters at 100 TB):

  * gram counting is ONE Arrow kernel emitting per-batch PRE-AGGREGATED
    (gram, count) partials — a combiner, so the shuffle carries one row
    per distinct gram per batch, never one row per token.  The final
    groupBy-sum partial-aggregates again map-side.  Corpus text never
    shuffles.
  * the model collected to the driver is BOUNDED: vocabulary capped at
    ``max_vocab`` words (TakeOrdered — no global sort), bigrams
    restricted to in-vocab pairs (vocab broadcast into the second
    kernel, OOV pairs dropped at the source — they can never be looked
    up by add-k scoring anyway without their unigram context), pruned
    by ``min_count`` and capped at ``max_bigrams``.  Driver traffic is
    the finished model, not the corpus.
  * at production scale the returned dict is the drop-in slot where a
    real KenLM .arpa artifact would be serialized; the Spark-side
    topology (count → prune → broadcast) is identical.

Tokenization: ONE tokenizer — ``wordhash.fold_tokens`` (case-folded
Unicode-whitespace split with CJK codepoint isolation).  Earlier
rounds carried two spellings (an ASCII one for the DuckDB oracles, a
``.lower().split()`` one matching the perplexity scorer); the Unicode
family dissolved that split because it is BOTH DuckDB-expressible
(``wordhash.fold_tokens_sql``) and Unicode-whitespace-complete (NBSP
included), so train-time vocabularies, score-time lookups
(``textmodels.perplexity``/``kn_perplexity``) and the SQL oracles now
agree by construction.  CJK text trains per-codepoint grams (the CCNet
fallback) instead of one giant "word" per unbroken run.

Reference parity: the reference (data_quality_checker) has no model
training; this is §2.5 training-data surface per the web-corpus north
rule (perplexity scoring needs an LM from somewhere, and at 1e12 docs
"somewhere" must be a distributed pass).
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dqc_spark.wordhash import fold_tokens

__all__ = [
    "word_counts",
    "bigram_counts",
    "capped_word_freqs",
    "train_lm_py",
    "train_bigram_lm",
    "lm_to_df",
    "lm_from_df",
]

def _count_rows(
    df: DataFrame, text_col: str, n: int, vocab: frozenset | None = None,
) -> DataFrame:
    """Per-batch pre-aggregated (gram, cnt) partials from one Arrow
    kernel.  ``n=1`` emits words, ``n=2`` space-joined bigrams; with
    ``vocab`` set, bigrams whose either word is out-of-vocabulary are
    dropped inside the kernel (no OOV rows ever shuffle).  The vocab
    ships as a REAL Spark broadcast, not a closure capture — a 65k-word
    frozenset pickles to ~1 MB and a closure re-sends it with every
    task (the bloom_partition rule)."""
    out_schema = T.StructType(
        [
            T.StructField("gram", T.StringType()),
            T.StructField("cnt", T.LongType()),
        ]
    )
    bc_vocab = (
        df.sparkSession.sparkContext.broadcast(vocab)
        if vocab is not None else None
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        voc = bc_vocab.value if bc_vocab is not None else None
        for pdf in batches:
            c: Counter = Counter()
            for text in pdf[text_col]:
                toks = fold_tokens(text)
                if n == 1:
                    c.update(toks)
                elif voc is None:
                    c.update(
                        f"{a} {b}" for a, b in zip(toks, toks[1:]))
                else:
                    c.update(
                        f"{a} {b}" for a, b in zip(toks, toks[1:])
                        if a in voc and b in voc)
            yield pd.DataFrame(
                {"gram": list(c.keys()),
                 "cnt": pd.array(list(c.values()), dtype="int64")})

    return df.select(text_col).mapInPandas(kernel, schema=out_schema)


def cap_top_words(items, cap: int | None) -> dict:
    """THE (count desc, key asc) cap tie-break, as one python function:
    LOAD-BEARING for exact Spark-vs-python parity of ``_prune``'s vocab
    cap.  The Spark twin is ``capped_word_freqs``' orderBy below (the
    one spelling that cannot share code)."""
    items = list(items)
    if cap is None or len(items) <= cap:
        return dict(items)
    items.sort(key=lambda kv: (-kv[1], kv[0]))
    return dict(items[:cap])


def capped_word_freqs(
    df: DataFrame,
    text_col: str = "text",
    max_words: int | None = None,
) -> Counter:
    """Distributed word counts, capped to the ``max_words`` most
    frequent, collected to a driver Counter — the bounded vocabulary
    input of LM training.  The cap tie-break (count desc, word asc) is
    LOAD-BEARING for exact Spark-vs-python parity: one source of truth
    (the python spelling is ``cap_top_words`` above).
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    wc = (
        _count_rows(df, text_col, 1)
        .groupBy(F.col("gram").alias("word"))
        .agg(F.sum("cnt").alias("n"))
    )
    if max_words is not None:
        wc = wc.orderBy(F.desc("n"), "word").limit(max_words)
    return Counter({r["word"]: r["n"] for r in wc.collect()})


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n_occurrences) over the corpus — the unigram table."""
    return (
        _count_rows(df, text_col, 1)
        .groupBy(F.col("gram").alias("word"))
        .agg(F.sum("cnt").alias("n_occurrences"))
    )


def bigram_counts(
    df: DataFrame, text_col: str = "text",
    vocab: frozenset | None = None,
) -> DataFrame:
    """(gram, n_occurrences) with ``gram`` the space-joined word pair;
    bigrams never cross document boundaries."""
    return (
        _count_rows(df, text_col, 2, vocab)
        .groupBy("gram")
        .agg(F.sum("cnt").alias("n_occurrences"))
    )


def _prune(
    uni: Counter, bi: Counter,
    max_vocab: int | None, min_count: int, max_bigrams: int | None,
    k: float,
) -> dict:
    """Deterministic pruning + dict assembly shared by both trainers.
    Tiebreaks are (count desc, gram asc) so the python and Spark paths
    keep identical rows under any cap."""
    if max_vocab is not None and len(uni) > max_vocab:
        uni = Counter(cap_top_words(uni.items(), max_vocab))
    vocab = set(uni)
    items = [
        ((a, b), c) for (a, b), c in bi.items()
        if c >= min_count and a in vocab and b in vocab
    ]
    if max_bigrams is not None and len(items) > max_bigrams:
        items.sort(key=lambda kv: (-kv[1], kv[0]))
        items = items[:max_bigrams]
    return {
        "unigrams": dict(uni),
        "bigrams": {f"{a}\x00{b}": c for (a, b), c in items},
        "total": sum(uni.values()),
        "vocab": len(uni) + 1,
        "k": k,
    }


def train_lm_py(
    texts,
    max_vocab: int | None = None,
    min_count: int = 1,
    max_bigrams: int | None = None,
    k: float = 0.1,
) -> dict:
    """Python reference trainer — the exact-parity oracle for
    ``train_bigram_lm`` (same scorer-matched tokenizer, same pruning,
    same dict)."""
    uni: Counter = Counter()
    bi: Counter = Counter()
    for t in texts:
        toks = fold_tokens(t)
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    return _prune(uni, bi, max_vocab, min_count, max_bigrams, k)


def train_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    max_vocab: int | None = 65536,
    min_count: int = 1,
    max_bigrams: int | None = 2_000_000,
    k: float = 0.1,
) -> dict:
    """Train the add-k bigram LM distributed; returns the same dict
    shape as ``textmodels.build_lm`` so ``textmodels.perplexity`` and
    the scoring UDFs consume it unchanged.

    Two counting passes (unigrams, then vocab-restricted bigrams), each
    one kernel + one groupBy; the driver receives at most ``max_vocab``
    + ``max_bigrams`` rows, never corpus-sized data.  Vocabulary
    restriction happens INSIDE the bigram kernel via a broadcast
    frozenset, so pruned-word pairs are dropped before the shuffle.

    Tokenization is the shared ``wordhash.fold_tokens`` — identical to
    what ``textmodels.perplexity`` sees at scoring time (see the module
    docstring)."""
    uni = capped_word_freqs(df, text_col, max_vocab)
    vocab = frozenset(uni)
    bc = bigram_counts(df, text_col, vocab=vocab).filter(
        F.col("n_occurrences") >= min_count)
    if max_bigrams is not None:
        # tiebreak on the (a, b) WORD PAIR, exactly like _prune's tuple
        # sort — ordering the joined string diverges from the pair
        # order when a token contains a sub-0x20 char (review finding);
        # scorer tokens never contain whitespace, so the single-space
        # split is total
        parts = F.split(F.col("gram"), " ", 2)
        bc = bc.orderBy(F.desc("n_occurrences"),
                        parts.getItem(0), parts.getItem(1)
                        ).limit(max_bigrams)
    bi = Counter()
    for r in bc.collect():
        a, b = r["gram"].split(" ", 1)
        bi[(a, b)] = r["n_occurrences"]
    # pruning already applied distributed; _prune re-applies as a no-op
    # to share the assembly (and guards the caps exactly once)
    return _prune(uni, bi, max_vocab, min_count, max_bigrams, k)


def lm_to_df(spark, lm: dict) -> DataFrame:
    """Serialize an add-k bigram LM dict (``textmodels.build_lm`` /
    ``train_bigram_lm`` shape) to a (kind, gram, n, f) frame — the
    persistence shape for the CCNet loop (train on a trusted slice
    once, write it next to the corpus, score every later crawl with
    it).  Counts ride a long column and ``k`` a double, so the round
    trip is exact; the ``\\x00`` bigram separator passes through
    parquet strings untouched."""
    rows = (
        [("uni", g, int(n), None) for g, n in lm["unigrams"].items()]
        + [("bi", g, int(n), None) for g, n in lm["bigrams"].items()]
        + [("meta", "total", int(lm["total"]), None),
           ("meta", "vocab", int(lm["vocab"]), None),
           ("meta", "k", None, float(lm["k"]))]
    )
    return spark.createDataFrame(
        rows, "kind string, gram string, n long, f double")


def lm_from_df(df: DataFrame) -> dict:
    """Inverse of ``lm_to_df`` — bit-exact (integer counts and one
    float pass through verbatim), validated so a truncated or foreign
    parquet fails loudly instead of scoring every document as
    out-of-vocabulary."""
    uni: dict[str, int] = {}
    bi: dict[str, int] = {}
    meta: dict[str, float] = {}
    for r in df.collect():
        if r["kind"] == "uni":
            uni[r["gram"]] = r["n"]
        elif r["kind"] == "bi":
            bi[r["gram"]] = r["n"]
        elif r["kind"] == "meta":
            meta[r["gram"]] = r["f"] if r["n"] is None else r["n"]
        else:
            raise ValueError(f"unknown LM row kind {r['kind']!r}")
    missing = {"total", "vocab", "k"} - set(meta)
    if missing or not uni:
        raise ValueError(
            f"not an LM table: missing meta {sorted(missing)}"
            f"{' and no unigram rows' if not uni else ''}")
    return {
        "unigrams": uni,
        "bigrams": bi,
        "total": int(meta["total"]),
        "vocab": int(meta["vocab"]),
        "k": float(meta["k"]),
    }
