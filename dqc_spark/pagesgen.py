"""Deterministic synthetic Common-Crawl-style pages table.

Schema exactly per BASELINE.json input_hint:
  (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)

Generation is DISTRIBUTED (spark.range -> mapInPandas) and
COUNTER-BASED: every document is a pure function of (SEED, doc_id) via
a Philox generator keyed per id, so the same table comes out regardless
of partitioning, core count, or row order — which is what lets the
single-process golden oracle (pipeline_oracle.py) regenerate identical
rows without ever collecting the distributed table.

The corpus plants every failure mode the gates must catch (short docs,
repeated-phrase spam, symbol soup, wrong-lang labels, PII strings) plus
a zipf-skewed domain distribution (hot domains -> skewed groupBy keys)
and ~2% duplicate URLs for the uniqueness check.
"""

from __future__ import annotations

import datetime as _dt
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dqc_spark.textmodels import LANGS, WORDS, corpus_seq

SEED = 0xDC0FFEE
BASE_TS = _dt.datetime(2024, 1, 1)
N_DOMAINS = 1000
HOT_DOMAINS = 5          # first few domains absorb most urls (skew)
HOT_SHARE = 0.55
DUP_URL_RATE = 0.02

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

_LANG_P = [0.5, 0.15, 0.15, 0.1, 0.1]
# doc categories and their probabilities; each trips a specific gate:
# spam -> dup_lines/repetition, short -> too_few_words, symbols -> symbol
# ratio, wronglang -> lang_mismatch, gibberish -> high perplexity (uniform
# word soup: bigrams unseen by the LM), clean -> kept
_CATS = ["clean", "spam", "short", "symbols", "wronglang", "gibberish"]
_CAT_P = [0.57, 0.11, 0.09, 0.07, 0.08, 0.08]

_PII_SNIPPETS = [
    "contact me at john.doe42@example.com for details",
    "call 555-123-4567 or (415) 555-0199 now",
    "ssn 123-45-6789 leaked from 192.168.10.42",
    "card 4111 1111 1111 1111 exp soon badword1",
]


def _rng_for(doc_id: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=[SEED, int(doc_id)]))


def make_page(doc_id: int, allow_dup_url: bool = True) -> dict:
    """Pure function (SEED, doc_id) -> row dict.  Shared verbatim by the
    distributed generator and the local oracle."""
    r = _rng_for(doc_id)
    lang = LANGS[int(r.choice(len(LANGS), p=_LANG_P))]
    cat = _CATS[int(r.choice(len(_CATS), p=_CAT_P))]
    words = WORDS[lang]

    def sample_words(n: int) -> list[str]:
        # uniform word soup: bigrams mostly unseen by the LM -> high ppl
        idx = r.integers(0, len(words), size=n)
        return [words[i] for i in idx]

    seq = corpus_seq(lang)

    def sample_runs(n: int) -> list[str]:
        # natural-ish text: consecutive runs of the corpus sequence,
        # whose bigrams the LM was built from -> low ppl, and whose
        # bigram diversity keeps the repetition gate quiet
        toks: list[str] = []
        while len(toks) < n:
            start = int(r.integers(0, len(seq)))
            run = int(r.integers(8, 24))
            toks.extend(seq[(start + j) % len(seq)] for j in range(run))
        return toks[:n]

    if cat == "short":
        toks = sample_runs(int(r.integers(2, 12)))
    elif cat == "spam":
        phrase = " ".join(sample_runs(4))
        toks = []
        while len(toks) < 160:
            toks.extend(phrase.split())
        toks = toks[:160]
    elif cat == "symbols":
        toks = sample_runs(int(r.integers(40, 120)))
        n_sym = max(len(toks) // 4, 8)
        pos = r.integers(0, len(toks), size=n_sym)
        for p in pos:
            toks[int(p)] = "###" if int(p) % 2 == 0 else "..."
    elif cat == "gibberish":
        toks = sample_words(int(r.integers(60, 200)))
    else:  # clean / wronglang
        toks = sample_runs(int(r.integers(60, 280)))

    # fold into lines of ~12 words (spam repeats one line verbatim)
    if cat == "spam":
        line = " ".join(toks[:12])
        text = "\n".join([line] * (len(toks) // 12 or 1))
    else:
        lines = [" ".join(toks[i : i + 12]) for i in range(0, len(toks), 12)]
        text = "\n".join(lines)

    if r.random() < 0.08:  # plant PII into any category
        text = text + "\n" + _PII_SNIPPETS[int(r.integers(0, len(_PII_SNIPPETS)))]

    claimed = lang
    if cat == "wronglang":
        others = [l for l in LANGS if l != lang]
        claimed = others[int(r.integers(0, len(others)))]

    # zipf-skewed domain; ~2% of urls duplicate the previous doc's url
    if r.random() < HOT_SHARE:
        dom = int(r.integers(0, HOT_DOMAINS))
    else:
        dom = int(r.integers(HOT_DOMAINS, N_DOMAINS))
    url = f"https://site{dom}.example.com/page/{doc_id}"
    if allow_dup_url and doc_id > 0 and r.random() < DUP_URL_RATE:
        # follow the chain (allow_dup_url=True): doc i-1's ACTUAL url may
        # itself be a duplicate of i-2's — taking its pre-dup base url
        # would plant a "duplicate" no other document has.  Pure function
        # of (SEED, doc_id) either way; expected chain depth ~1.02.
        url = make_page(doc_id - 1, allow_dup_url=True)["url"]

    # Knuth-hash the id across the 30-day window so any corpus size
    # exercises multiple day partitions (partition pruning is real)
    ts = BASE_TS + _dt.timedelta(
        seconds=(int(doc_id) * 2654435761) % (30 * 86400)
    )
    # outlink block (v2): 1-3 anchors to other site domains, zipf-mixed
    # like the url domains, EMPTY visible text — extraction drops them
    # entirely, so the text column (and every text-derived golden) is
    # byte-unchanged while the corpus carries a real link graph.  Drawn
    # AFTER every other field's randomness so the v1 values of
    # url/text/lang/ts are preserved per doc_id.
    n_links = 1 + int(r.integers(0, 3))
    anchors = []
    for _ in range(n_links):
        if r.random() < HOT_SHARE:
            tdom = int(r.integers(0, HOT_DOMAINS))
        else:
            tdom = int(r.integers(HOT_DOMAINS, N_DOMAINS))
        anchors.append(f'<a href="https://site{tdom}.example.com/"></a>')
    html = (f"<html><body><p>{text}</p>{''.join(anchors)}"
            f"</body></html>").encode("utf-8")
    return {"url": url, "warc_ts": ts, "html": html, "text": text, "lang": claimed}


def generate_pages(
    spark: SparkSession, n_docs: int, n_partitions: int | None = None
) -> DataFrame:
    """Distributed generation: spark.range drives doc_ids, each partition
    materializes its rows via the pure per-id function."""
    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_page(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return spark.range(0, n_docs, numPartitions=n_partitions).mapInPandas(
        gen, schema=PAGES_SCHEMA
    )


def generate_pages_local(n_docs: int) -> list[dict]:
    """Oracle-side generation: identical rows, no Spark."""
    return [make_page(i) for i in range(n_docs)]
