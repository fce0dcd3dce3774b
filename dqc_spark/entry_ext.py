"""Extended driver-contract queries: training-data operators (dedup,
text stats, curation, ingest) over the TPC-H-style test
tables.  Split from __spark_entry__ so the entry file stays the
thin contract; see queries()/oracle_sql() there."""

from __future__ import annotations

import glob
import hashlib
import inspect
import os
import shutil
import tempfile
import uuid

from pyspark.sql import functions as F

from dqc_spark.gates import ALL_STOPWORDS
from dqc_spark.wordhash import unicode_alnum_tokens_sql, unicode_tokens_sql

# the ONE oracle spelling of the shared Unicode tokenizer families
# (wordhash.py); every token-consuming oracle interpolates these
from dqc_spark.wordhash import fold_tokens_sql

_ALTOKS_SQL = unicode_alnum_tokens_sql("coalesce(text, '')")
_WSTOKS_SQL = unicode_tokens_sql("coalesce(text, '')")
_FTOKS_SQL = fold_tokens_sql("coalesce(text, '')")

# python str.split()'s EXACT whitespace set as an RE2 class.  Oracles
# mirroring a kernel that tokenizes with bare str.split(), or a Spark
# side built on gates.words_col, must split on THIS, not '\s+' — RE2
# \s is ASCII-only, so NBSP/NEL/U+2000-200A/ideographic-space text
# would silently diverge (review finding on text_structure_signals).
from dqc_spark.wordhash import PYWS_SPLIT as _PYWS_SPLIT


def _t(spark, sf_dir, name):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf):
    from dqc_spark.dedup import exact_dup_groups

    return exact_dup_groups(_t(spark, sf, "documents"), "text")


def q_minhash_near_dups(spark, sf):
    # rows-only check (signature permutations are engine-specific)
    from dqc_spark.dedup import minhash_near_dups

    docs = _t(spark, sf, "documents")
    return minhash_near_dups(docs, "doc_id", "text", threshold=0.5)


def q_simhash_near_dups(spark, sf):
    # rows-only check (xxhash64 is Spark-specific)
    from dqc_spark.dedup import simhash_near_dups

    # hamming<=1: the synthetic docs share a small vocabulary, so wider
    # balls explode the candidate set (29k pairs at <=3 on 500 docs)
    docs = _t(spark, sf, "documents")
    return simhash_near_dups(docs, "doc_id", "text", max_hamming=1)


def q_ngram_jaccard(spark, sf):
    # exact word-5-gram Jaccard re-score (the verification stage behind
    # MinHash), differentially checked on a deterministic pair mix:
    # truncated-hash collision pairs (mostly dissimilar, jaccard ~0) +
    # adjacent-id pairs (shared vocabulary, fractional) — shingling,
    # array_intersect/union and the ratio all run JVM-side.
    from dqc_spark.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf, "documents")
    adj = docs.select(F.col("doc_id").alias("key_a")).filter(
        F.col("key_a") < 50
    ).join(
        docs.select(F.col("doc_id").alias("key_b")),
        F.col("key_b") == F.col("key_a") + 1,
    )
    pairs = _dup_pairs(spark, sf).unionByName(adj).distinct()
    j = ngram_jaccard_pairs(docs, pairs, "doc_id")
    return j.select("key_a", "key_b", _trunc4("jaccard").alias("jaccard"))


def q_cdc_chunks(spark, sf):
    # rows-only (the rolling-hash boundary rule is not SQL-expressible):
    # content-defined chunking for chunk-level dedup — boundaries are
    # pinned against a sequential reference and an insert-resistance
    # property in tests/test_sampling.py
    from dqc_spark.sampling import cdc_chunks

    docs = _t(spark, sf, "documents")
    return cdc_chunks(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# text stats
# ---------------------------------------------------------------------------


def q_token_counts(spark, sf):
    from dqc_spark.textstats import token_stats

    return token_stats(_t(spark, sf, "documents"), "doc_id")


def _trunc4(c):
    # 4dp truncation instead of ROUND: these ratio columns are rationals
    # whose shortest decimal repr often lands EXACTLY on a x.xxxx5
    # half-way point where Spark (HALF_UP on the decimal repr) and
    # DuckDB (rounds the binary double, which sits just below) disagree
    # — observed on quality_score at sf0.1.  floor() of the identical
    # double is engine-agnostic.  Accepts a column name or a Column.
    col = F.col(c) if isinstance(c, str) else c
    return F.floor(col * 10000) / 10000


def q_quality_scores(spark, sf):
    from dqc_spark.textstats import quality_scores

    qs = quality_scores(_t(spark, sf, "documents"), "doc_id")
    return qs.select(
        "doc_id",
        "n_words",
        _trunc4("alpha_ratio").alias("alpha_ratio"),
        _trunc4("punct_ratio").alias("punct_ratio"),
        _trunc4("stopword_ratio").alias("stopword_ratio"),
        _trunc4("quality_score").alias("quality_score"),
    )


def q_langid_heuristic(spark, sf):
    from dqc_spark.textstats import langid_heuristic

    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id", langid_heuristic(F.col("text")).alias("lang_guess")
    )


def q_top_ngrams(spark, sf):
    # corpus boilerplate stats: top-k trigram frequencies, deterministic
    # tie-break; plans as TakeOrderedAndProject (no global sort)
    from dqc_spark.textstats import top_ngrams

    return top_ngrams(_t(spark, sf, "documents"), "text", n=3, k=20)


def q_lm_word_counts(spark, sf):
    # the LM-training unigram table (lmtrain.py): one combiner kernel +
    # one groupBy; top-k plans as TakeOrderedAndProject
    from dqc_spark.lmtrain import word_counts

    return (
        word_counts(_t(spark, sf, "documents"), "text")
        .orderBy(F.desc("n_occurrences"), "word")
        .limit(100)
    )


def q_lm_bigram_counts(spark, sf):
    # the LM-training bigram table; bigrams never cross documents
    from dqc_spark.lmtrain import bigram_counts

    return (
        bigram_counts(_t(spark, sf, "documents"), "text")
        .orderBy(F.desc("n_occurrences"), "gram")
        .limit(100)
    )


def q_fingerprints(spark, sf):
    from dqc_spark.textstats import fingerprint

    docs = _t(spark, sf, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# event windows
# ---------------------------------------------------------------------------


def q_events_windowed(spark, sf):
    # watermarked tumbling window (same code path as the streaming agg);
    # on a static frame the watermark is a no-op, so it is oracle-able
    from dqc_spark.streaming import windowed_event_counts

    ev = _t(spark, sf, "events")
    w = windowed_event_counts(ev, window="6 hours")
    return w.select(
        # back to NTZ so the hash compare sees the same naive timestamps
        # the DuckDB oracle produces
        F.col("window.start").cast("timestamp_ntz").alias("ws"),
        "event_type",
        "n",
        F.round("sum_value", 4).alias("sum_value"),
    )


def _dup_pairs(spark, sf):
    # edges from a TRUNCATED text hash (3 hex chars = 4096 buckets):
    # unlike full-md5 exact-dup edges, this collides at every scale
    # factor (30 groups at sf0.001, 1422 at sf0.1), so the iterative
    # closure below is non-vacuously exercised by the differential gate
    # (round-1 ADVICE: full-hash edges matched on 0 groups at small sf)
    docs = _t(spark, sf, "documents")
    h = docs.select("doc_id", F.substring(F.md5("text"), 1, 3).alias("h"))
    a = h.select(F.col("doc_id").alias("key_a"), F.col("h").alias("ha"))
    b = h.select(F.col("doc_id").alias("key_b"), F.col("h").alias("hb"))
    return (
        a.join(b, (F.col("ha") == F.col("hb")) & (F.col("key_a") < F.col("key_b")))
        .select("key_a", "key_b")
    )


def q_components_exact(spark, sf):
    # iterative large-star/small-star components, differentially checked:
    # on same-truncated-hash cliques the closure is SQL-expressible
    # (component = min doc_id of the hash group), so DuckDB can verify
    # the iterative loop
    from dqc_spark.components import connected_components

    return connected_components(_dup_pairs(spark, sf))


def q_keep_canonical(spark, sf):
    # cluster -> one canonical survivor (min key), pass-through otherwise
    from dqc_spark.components import keep_canonical

    docs = _t(spark, sf, "documents")
    return keep_canonical(docs, _dup_pairs(spark, sf), "doc_id").select(
        "doc_id"
    )


def q_keep_canonical_priority(spark, sf):
    # provenance-preferring cluster winner: same truncated-hash cliques
    # (SQL-expressible closure), but the survivor is the lowest-rank
    # source — the oracle spells the ORDER BY (rank, key) window twin
    # of min(struct(priority, key))
    from dqc_spark.components import keep_canonical_priority
    from dqc_spark.dedup import source_priority_col

    docs = _t(spark, sf, "documents")
    m = F.col("doc_id") % 3
    tagged = docs.withColumn(
        "source",
        F.when(m == 0, "crawl").when(m == 1, "wiki").otherwise("curated"))
    pri = source_priority_col("source", {"curated": 0, "wiki": 1, "crawl": 2})
    return keep_canonical_priority(
        tagged, _dup_pairs(spark, sf), "doc_id", pri
    ).select("doc_id", "source")


def q_neardup_soft_weights(spark, sf):
    # SoftDeDup over NEAR-dup clusters: the truncated-hash cliques make
    # the iterative components closure SQL-expressible, so cluster
    # sizes and the 1/size weights verify end-to-end (weights are
    # int-ratio doubles, raw-bit compare)
    from dqc_spark.components import soft_weights

    docs = _t(spark, sf, "documents")
    return soft_weights(docs, _dup_pairs(spark, sf), "doc_id")


# ---------------------------------------------------------------------------
# sampling / packing / chunking / semi-structured (training-data selection)
# ---------------------------------------------------------------------------


def q_sample_hash(spark, sf):
    # deterministic 10% sample: pure filter, no shuffle, engine-portable
    from dqc_spark.sampling import hash_sample

    docs = _t(spark, sf, "documents")
    return hash_sample(docs, "doc_id", 10).select("doc_id", "lang", "source")


def q_sample_stratified(spark, sf):
    # hot-source quota cap: at most 5 docs per source, portable-hash order
    from dqc_spark.sampling import stratified_sample

    docs = _t(spark, sf, "documents")
    return stratified_sample(docs, "source", "doc_id", 5).select(
        "doc_id", "source", "sample_rank"
    )


def q_pack_token_budget(spark, sf):
    # context-window packing: per-lang 2000-char bins from a running sum
    from dqc_spark.sampling import pack_token_budget

    docs = _t(spark, sf, "documents")
    packed = pack_token_budget(docs, "lang", "doc_id", F.col("n_chars"), 2000)
    return packed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


def q_text_chunks(spark, sf):
    # fixed-width char chunking (pre-tokenization); md5 instead of the raw
    # chunk keeps the differential compare payload small
    from dqc_spark.sampling import chunk_text

    docs = _t(spark, sf, "documents")
    c = chunk_text(docs, "doc_id", "text", 500)
    return c.select(
        "key", "chunk_ix", F.md5("chunk").alias("chunk_md5"), "chunk_len"
    )


def q_column_exists(spark, sf):
    # reference check #5 (checker.go:224-262): catalog probe, no scan
    from dqc_spark.checks import column_exists

    docs = _t(spark, sf, "documents")
    probes = ["text", "lang", "nope_col"]
    return spark.createDataFrame(
        [(c, column_exists(docs, c)) for c in probes],
        "col string, present boolean"
    )


def q_pipeline_curate(spark, sf):
    # rows-only: full curation composition (gates -> dedup -> quota ->
    # pack) on a deterministic synthetic pages table; near-dup keys are
    # engine-specific so correctness is pinned by pytest oracles instead
    from dqc_spark.pagesgen import generate_pages
    from dqc_spark.pipeline import curate

    pages = generate_pages(spark, 300, n_partitions=4)
    cur = curate(pages, near_dup_threshold=0.7, domain_quota=50,
                 pack_budget=500)
    return cur.select("doc_key", "lang", "domain", "n_tokens", "bin_id")


# ---------------------------------------------------------------------------
# round-2 curation operators: decontamination, incremental snapshots,
# NFC normalization, deterministic training order, compression signal
# ---------------------------------------------------------------------------


def q_decontaminate(spark, sf):
    # benchmark n-gram decontamination: docs with doc_id % 13 == 0 play
    # the eval set; every other doc is scored for 3-gram overlap.  The
    # benchmark gram set is broadcast — the corpus never shuffles text.
    from dqc_spark.decontam import contamination_scores

    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    corpus = docs.filter(F.col("doc_id") % 13 != 0)
    s = contamination_scores(corpus, bench, n=3)
    # int-ratio double: both engines compute the identical value ->
    # FLOOR-truncation per the repo rounding rule
    return s.select(
        "doc_id", "n_grams", "n_hit", _trunc4("contam_frac").alias("contam_frac")
    )


def q_snapshot_new_docs(spark, sf):
    # incremental crawl dedup: docs with doc_id % 3 == 0 are the prior
    # corpus; the rest are the new snapshot.  Anti-join on md5 digests —
    # exact-duplicate texts spanning the split make this non-vacuous.
    from dqc_spark.snapshot import new_docs

    docs = _t(spark, sf, "documents")
    prior = docs.filter(F.col("doc_id") % 3 == 0)
    snap = docs.filter(F.col("doc_id") % 3 != 0)
    return new_docs(snap, prior).select("doc_id")


# decomposed e + combining acute, BEL control, NBSP, ragged spacing —
# planted because the synthetic corpus is pure ASCII; the SAME literal
# is built in the oracle with chr() so both engines normalize the
# identical dirty string
_DIRTY_SUFFIX = '  cafee\u0301\x07 fin\xa0 '


def q_normalize_nfc(spark, sf):
    from dqc_spark.normalize import normalized_col

    docs = _t(spark, sf, "documents")
    dirty = F.concat(F.col("text"), F.lit(_DIRTY_SUFFIX))
    norm = normalized_col(dirty)
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).alias("n_chars_norm"),
    )


def q_training_order(spark, sf):
    # deterministic global shuffle: 0-based position in md5(text) order,
    # computed without a single-partition window (ordering.py plan)
    from dqc_spark.ordering import training_order

    docs = _t(spark, sf, "documents")
    return training_order(docs, num_partitions=8).select("doc_id", "position")


# planted corpus boilerplate for the line-dedup entry (the synthetic
# docs have no newlines, so lined documents are derived: this banner +
# the doc's words re-wrapped 8 per line — same construction in the
# oracle, so both engines dedup the identical lined corpus)
_BANNER = "COOKIE CONSENT BANNER please accept tracking"


def q_line_dedup(spark, sf):
    from dqc_spark.gates import words_col
    from dqc_spark.linededup import dedup_lines

    docs = _t(spark, sf, "documents")
    w = words_col(F.col("text"))
    n_segs = F.greatest(F.ceil(F.size(w) / F.lit(8)), F.lit(1)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.concat_ws(" ", F.slice(w, i * 8 + 1, 8)),
    )
    lined = F.concat(F.lit(_BANNER + "\n"), F.concat_ws("\n", segs))
    src = docs.select("doc_id", lined.alias("text"))
    out = dedup_lines(src, "doc_id", min_dup_len=10)
    return out.select(
        "doc_id",
        F.md5("text_dedup").alias("dedup_md5"),
        "n_lines",
        "n_lines_kept",
    )


def q_pack_first_fit(spark, sf):
    # first-fit-decreasing packing (rows-only: FFD is sequential
    # per-group and not SQL-expressible; exact python parity + the
    # never-overflow invariant are pinned by tests/test_sampling.py).
    # Per-lang bin stats summarize the packing; max_fill <= 512 by
    # construction is visible in the result.
    from dqc_spark.sampling import pack_first_fit
    from dqc_spark.textstats import whitespace_token_count

    docs = _t(spark, sf, "documents")
    packed = pack_first_fit(
        docs.select("doc_id", "lang", "text"), "lang", "doc_id",
        whitespace_token_count(F.col("text")), budget=512, n_subgroups=8)
    fills = packed.groupBy("lang", "pack_group", "bin_id").agg(
        F.sum("n_tokens").alias("fill"))
    return (
        fills.groupBy("lang")
        .agg(
            F.count("*").alias("n_bins"),
            F.max("fill").alias("max_fill"),
            F.sum("fill").alias("sum_tokens"),
        )
        .orderBy("lang")
    )


def q_snapshot_drift(spark, sf):
    # per-source drift report between two snapshots (snapshot_drift):
    # prev = the corpus minus every third doc, cur = the full corpus —
    # every source shows growth, exercising the full-outer + delta math
    from dqc_spark.snapshot import snapshot_drift

    docs = _t(spark, sf, "documents")
    prev = docs.filter(F.col("doc_id") % 3 != 0)
    return snapshot_drift(docs, prev, group_col="source")


def q_c4_line_filter(spark, sf):
    # C4-style line cleaning + page gate (c4clean.py).  The synthetic
    # docs are single-line and punctuation-free, so a lined corpus is
    # derived (same construction in the oracle): three keepable
    # sentence lines (. ? !), a short line, a javascript line, an
    # unterminated line, plus curly-bracket / lorem-ipsum plants on
    # doc_id % 11 / % 13 to exercise the page-level drops.
    from dqc_spark.c4clean import c4_clean
    from dqc_spark.gates import words_col

    docs = _t(spark, sf, "documents")
    w = words_col(F.col("text"))

    def seg(start, n):
        return F.concat_ws(" ", F.slice(w, start, n))

    lined = F.concat_ws(
        "\n",
        F.concat(seg(1, 8), F.lit(".")),
        seg(1, 3),
        F.lit("Please enable javascript to continue viewing."),
        F.concat(seg(9, 8), F.lit("?")),
        seg(17, 8),
        F.concat(seg(1, 6), F.lit("!")),
    )
    lined = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(lined, F.lit("\nif (x) { return; }")),
    ).otherwise(lined)
    lined = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(lined, F.lit("\nLorem ipsum dolor sit amet.")),
    ).otherwise(lined)
    src = docs.select("doc_id", lined.alias("text"))
    out = c4_clean(src)
    return out.select("doc_id", "clean_text", "n_sentences", "keep")


def q_profile_documents(spark, sf):
    # deequ-style one-scan column profiler over documents (exact
    # distincts at this scale; approx=True is the 100 TB path)
    from dqc_spark.profile import profile_table

    return profile_table(_t(spark, sf, "documents"))


def q_histogram_nchars(spark, sf):
    # 20-bucket equi-width histogram of documents.n_chars — the
    # profiler's distribution companion.  Exact integer bounds mean
    # every per-row bucket double is identical cross-engine (no
    # aggregation-order drift), so the histogram is fully oracled.
    from dqc_spark.profile import numeric_histogram

    h = numeric_histogram(_t(spark, sf, "documents"), "n_chars", buckets=20)
    return h.select(
        "bucket", _trunc4("lo").alias("lo"), _trunc4("hi").alias("hi"), "n"
    )


def q_mix_temperature(spark, sf):
    # temperature-0.5 source mixing: rare sources kept whole, hot
    # sources hash-subsampled to the flattened mix.  The testdata's
    # `source` column is perfectly uniform (mixing would be a no-op),
    # so a 70/20/10-skewed source is derived from doc_id — the same
    # CASE in the oracle, making the kept-set a non-trivial
    # deterministic function of (doc_id, counts), reproduced
    # row-for-row.
    from dqc_spark.mixing import temperature_sample

    docs = _t(spark, sf, "documents")
    m = F.col("doc_id") % 10
    skewed = docs.select(
        "doc_id",
        F.when(m < 7, "hot").when(m < 9, "mid").otherwise("rare").alias("source"),
    )
    return temperature_sample(skewed, "source", "doc_id", alpha=0.5).select(
        "doc_id", "source"
    )


def q_compression_ratio(spark, sf):
    # rows-only: zlib is not SQL-expressible; values pinned by pytest
    from dqc_spark.textstats import compression_ratios

    docs = _t(spark, sf, "documents")
    return compression_ratios(docs, "doc_id")


# ---------------------------------------------------------------------------
# URL operators over a deterministic synthetic crawl-URL column
# ---------------------------------------------------------------------------

# The documents table has no url column, so both engines build the SAME
# messy URL deterministically from doc_id: 4 host variants (mixed case,
# default and non-default ports) x 5 tail variants (tracking params in
# every position, fragments, trailing slashes, 'refresh' prefix trap).
_URL_HOSTS = [
    "HTTP://WWW.Example.COM:80",
    "https://cdn.example.org:443",
    "https://News.example.net:8443",
    # userinfo prefix: domain_of must skip it (blog.example.org, not
    # 'user:pw@blog.example.org') in BOTH engines
    "http://User:Pw@blog.example.org",
]
_URL_TAILS_PRE = ["/Path/", "/p/", "/p/", "/?gclid=g", "/p/"]
_URL_TAILS_POST = [
    "?utm_source=feed&utm_medium=rss&id=1#sec",
    "/",
    "?refresh=1&ref=home",
    "&q=x",
    "?a=1&fbclid=f99&b=2",
]


def _synthetic_url_col():
    did = F.col("doc_id")
    host = F.when(did % 4 == 0, _URL_HOSTS[0])
    for i in (1, 2, 3):
        host = host.when(did % 4 == i, _URL_HOSTS[i])
    pre = F.when(did % 5 == 0, _URL_TAILS_PRE[0])
    post = F.when(did % 5 == 0, _URL_TAILS_POST[0])
    for i in (1, 2, 3, 4):
        pre = pre.when(did % 5 == i, _URL_TAILS_PRE[i])
        post = post.when(did % 5 == i, _URL_TAILS_POST[i])
    return F.concat(host, pre, did.cast("string"), post).alias("url")


def _synthetic_url_sql():
    host = ("CASE doc_id % 4 "
            + " ".join(f"WHEN {i} THEN '{h}'"
                       for i, h in enumerate(_URL_HOSTS)) + " END")
    pre = ("CASE doc_id % 5 "
           + " ".join(f"WHEN {i} THEN '{p}'"
                      for i, p in enumerate(_URL_TAILS_PRE)) + " END")
    post = ("CASE doc_id % 5 "
            + " ".join(f"WHEN {i} THEN '{p}'"
                       for i, p in enumerate(_URL_TAILS_POST)) + " END")
    return (f"{host} || {pre} || CAST(doc_id AS VARCHAR) || {post}")


# DuckDB-side canonicalizer: an INDEPENDENT implementation of the same
# documented canonical form (urlops.py docstring) — list_filter over
# split query params instead of the Java-regex lookahead chain (RE2 has
# no lookahead), so the differential compares two genuinely different
# implementations of the semantics.
_CANON_SQL_CTES = """
        nofrag AS (
            SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS u
            FROM urls
        ),
        sp AS (
            SELECT doc_id, u,
                   lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                       AS scheme,
                   regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
            FROM nofrag
        ),
        auth AS (
            SELECT doc_id, u, scheme,
                   lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS authority,
                   regexp_replace(rest, '^[^/?#]*', '') AS tail
            FROM sp
        ),
        port AS (
            SELECT doc_id, u, scheme,
                   CASE WHEN scheme = 'http'
                            THEN regexp_replace(authority, ':80$', '')
                        WHEN scheme = 'https'
                            THEN regexp_replace(authority, ':443$', '')
                        ELSE authority END AS authority,
                   tail
            FROM auth
        ),
        track AS (
            SELECT doc_id, u, scheme, authority,
                   CASE WHEN strpos(tail, '?') = 0 THEN tail
                        ELSE split_part(tail, '?', 1) ||
                             CASE WHEN kept = '' THEN ''
                                  ELSE '?' || kept END
                   END AS tail
            FROM (
                -- COALESCE: array_to_string of an EMPTY filtered list
                -- is NULL in DuckDB (all-tracking query), not ''
                SELECT *,
                       COALESCE(array_to_string(list_filter(
                           string_split(
                               CASE WHEN strpos(tail, '?') = 0 THEN ''
                                    ELSE substr(tail, strpos(tail, '?') + 1)
                               END, '&'),
                           p -> NOT regexp_matches(
                               split_part(p, '=', 1),
                               '^(utm_[A-Za-z0-9_]+|gclid|fbclid|ref)$')),
                           '&'), '') AS kept
                FROM port)
        ),
        canon AS (
            -- no-query tails: bare root '/' drops entirely (so
            -- http://x.com/ == http://x.com), non-root '/x/' -> '/x'
            SELECT doc_id, u, scheme, authority,
                   CASE WHEN strpos(tail, '?') <> 0 THEN tail
                        WHEN tail = '/' THEN ''
                        ELSE regexp_replace(tail, '^(/.+)/$', '\\1')
                        END AS tail
            FROM track
        )
"""


# synthetic page markup wrapped around documents.text on BOTH engines:
# heading (block-boundary blank line), inline markup, a comment, a
# script element, and one planted entity — every extraction rule fires
_HTML_PRE = ('<html><body><script>var x = "<p>no</p>";</script>'
             "<h1>Doc </h1><!-- hidden --><p><b>")
_HTML_POST = "</b> &amp; tail</p></body></html>"


def q_html_extract(spark, sf):
    from dqc_spark.htmlextract import extract_text_col

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.encode(
            F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST)),
            "utf-8",
        ).alias("html"),
    )
    return docs.select("doc_id", extract_text_col("html").alias("text"))


def q_url_canonicalize(spark, sf):
    from dqc_spark.urlops import canonical_url, domain_of

    docs = _t(spark, sf, "documents").select("doc_id", _synthetic_url_col())
    return docs.select(
        "doc_id", canonical_url("url"), domain_of("url")
    )


# entries whose host is example.org-rooted or exactly news.example.net
# are blocked; only the www.example.com quarter survives
_BLOCKED_DOMAINS = ["example.org", "news.example.net"]


def q_url_domain_filter(spark, sf):
    from dqc_spark.urlops import domain_filter

    docs = _t(spark, sf, "documents").select("doc_id", _synthetic_url_col())
    return domain_filter(docs, _BLOCKED_DOMAINS).select("doc_id", "url")


# five spellings per page that all canonicalize to
# http://www.example.com/page/{doc_id % 37}: host case + default port +
# tracking param / fragment / trailing slash / two tracking params /
# the canonical form itself — url_dedup must collapse 500 rows to 37
def _collide_url_col():
    g = (F.col("doc_id") % 37).cast("string")
    v = F.col("doc_id") % 5
    return (
        F.when(v == 0, F.concat(F.lit("HTTP://WWW.EXAMPLE.COM:80/page/"),
                                g, F.lit("?utm_source=x")))
        .when(v == 1, F.concat(F.lit("http://www.example.com/page/"),
                               g, F.lit("#frag")))
        .when(v == 2, F.concat(F.lit("http://www.example.com/page/"),
                               g, F.lit("/")))
        .when(v == 3, F.concat(F.lit("http://www.example.com/page/"),
                               g, F.lit("?gclid=1&utm_a=2")))
        .otherwise(F.concat(F.lit("http://www.example.com/page/"), g))
        .alias("url")
    )


_COLLIDE_URL_SQL = """
    CASE doc_id % 5
        WHEN 0 THEN 'HTTP://WWW.EXAMPLE.COM:80/page/'
                    || CAST(doc_id % 37 AS VARCHAR) || '?utm_source=x'
        WHEN 1 THEN 'http://www.example.com/page/'
                    || CAST(doc_id % 37 AS VARCHAR) || '#frag'
        WHEN 2 THEN 'http://www.example.com/page/'
                    || CAST(doc_id % 37 AS VARCHAR) || '/'
        WHEN 3 THEN 'http://www.example.com/page/'
                    || CAST(doc_id % 37 AS VARCHAR) || '?gclid=1&utm_a=2'
        ELSE 'http://www.example.com/page/'
             || CAST(doc_id % 37 AS VARCHAR)
    END
"""


def q_url_dedup_canonical(spark, sf):
    from dqc_spark.urlops import url_dedup

    docs = _t(spark, sf, "documents").select("doc_id", _collide_url_col())
    # doc_id is unique per row, so tie-collapse can never fire —
    # collapse_ties=False keeps document text out of every exchange
    return (url_dedup(docs, key_cols=["doc_id"], collapse_ties=False)
            .select("doc_id", "url"))


# documents.text is single-line, so the repetition entries plant
# line/paragraph structure deterministically: two duplicate 60-char
# lines always, plus a duplicated 60-char PARAGRAPH for even doc_ids
def _rep_text_col():
    p1 = F.expr("substring(text, 1, 60)")
    base = F.concat(p1, F.lit("\n"), p1, F.lit("\n"), F.col("text"))
    return F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(base, F.lit("\n\n"), p1, F.lit("\n\n"), p1),
    ).otherwise(base).alias("text")


_REP_TEXT_SQL = """
    CASE WHEN doc_id % 2 = 0
         THEN substr(text,1,60) || chr(10) || substr(text,1,60)
              || chr(10) || text
              || chr(10) || chr(10) || substr(text,1,60)
              || chr(10) || chr(10) || substr(text,1,60)
         ELSE substr(text,1,60) || chr(10) || substr(text,1,60)
              || chr(10) || text
    END
"""

_REP_LINE_COLS = ["dup_line_frac", "dup_line_char_frac",
                  "dup_para_frac", "dup_para_char_frac"]


def q_text_repetition(spark, sf):
    from dqc_spark.textstats import repetition_signals

    docs = _t(spark, sf, "documents").select("doc_id", _rep_text_col())
    r = repetition_signals(docs, "doc_id")
    return r.select(
        "doc_id", *[_trunc4(c).alias(c) for c in _REP_LINE_COLS])


def q_text_repetition_ngrams(spark, sf):
    # SQL-oracled since r5 (was rows-only): every signal is count/length
    # arithmetic over word n-grams, so DuckDB can rebuild it — grams as
    # single-space-joined strings (len == word chars + n-1 exactly, and
    # words can't contain spaces so the join is collision-free), dup
    # coverage via min-pos-per-gram windows + position-range explode
    # (see _rep_ngram_oracle_sql).  Int-ratio doubles, trunc4 per the
    # repo rounding rule (same as text_repetition).
    from dqc_spark.textstats import (REP_NGRAM_DUP, REP_NGRAM_TOP,
                                     repetition_signals)

    docs = _t(spark, sf, "documents").select("doc_id", _rep_text_col())
    cols = ([f"top_{n}gram_char_frac" for n in REP_NGRAM_TOP]
            + [f"dup_{n}gram_char_frac" for n in REP_NGRAM_DUP])
    return repetition_signals(docs, "doc_id").select(
        "doc_id", *[_trunc4(c).alias(c) for c in cols])


def q_url_domain_stats(spark, sf):
    from dqc_spark.urlops import domain_stats

    docs = _t(spark, sf, "documents").select(
        "doc_id", "text", _synthetic_url_col()
    )
    s = domain_stats(docs, "url", "text")
    return s.select(
        "domain", "n_docs", "total_chars", _trunc4("share").alias("share")
    )


def _keep_flag_col():
    """Deterministic per-doc keep decision for the blocklist-induction
    probe: host i (doc_id%4) keeps pages with doc_id%10 >= 2i — rates
    step 1.0/0.8/0.6/0.4 across the four synthetic hosts — and every
    17th doc gets a planted NULL keep (counts as drop)."""
    did = F.col("doc_id")
    return (
        F.when(did % 17 == 0, F.lit(None).cast("boolean"))
        .otherwise((did % 10) >= (did % 4) * 2)
        .alias("keep")
    )


_KEEP_FLAG_SQL = (
    "CASE WHEN doc_id % 17 = 0 THEN NULL "
    "ELSE (doc_id % 10) >= (doc_id % 4) * 2 END"
)


def q_url_domain_blocklist(spark, sf):
    # curation feedback loop: per-domain keep-rate from a labeled run +
    # the induced blocklist flag (keep_rate <= 0.5 over >= 5 docs).
    # keep_rate is an int-ratio double (trunc4 per the rounding rule);
    # the blocked flag multiplies the threshold through (n_keep <=
    # 0.5*n_docs) so both engines compare exact binary halves.
    from dqc_spark.urlops import domain_keep_rate, induce_domain_blocklist

    docs = _t(spark, sf, "documents").select(
        _synthetic_url_col(), _keep_flag_col())
    rates = domain_keep_rate(docs, "url", "keep")
    blocked = induce_domain_blocklist(
        docs, "url", "keep", max_keep_rate=0.5, min_docs=5
    ).select("domain", F.lit(True).alias("__b"))
    return rates.join(F.broadcast(blocked), "domain", "left").select(
        "domain",
        "n_docs",
        "n_keep",
        _trunc4("keep_rate").alias("keep_rate"),
        F.coalesce(F.col("__b"), F.lit(False)).alias("blocked"),
    )


def q_metric_anomaly_days(spark, sf):
    # deequ-style anomaly detection over a metric time-series: daily
    # event volumes per type, one day boosted +1000 (the planted
    # incident).  Robust median/MAD flags with integer k=3: med/mad
    # are exact binary fractions of integer series (order statistics,
    # not sums) so they compare raw across engines; score is trunc4.
    from dqc_spark.monitor import metric_anomalies

    ev = _t(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    series = daily.select(
        "event_type",
        "day",
        (
            F.col("n")
            + F.when(
                F.col("day") == F.lit("2024-01-15").cast("timestamp"), 1000
            ).otherwise(0)
        ).alias("value"),
    )
    out = metric_anomalies(series, ["event_type"], "value", k=3)
    return out.select(
        "event_type", "day", "value", "med", "mad",
        _trunc4("score").alias("score"), "is_anomaly",
    )


def q_score_drift(spark, sf):
    # PSI distribution-drift report between two derived snapshots of
    # the documents table: prev = even doc_ids (raw n_chars), cur = odd
    # doc_ids with a planted +200 shift on every third doc and planted
    # NULLs — so interior buckets, the NULL bucket and one-sided
    # buckets all carry signal.  Counts/proportions compare raw bits
    # (int-ratio doubles); psi_term is ROUND-12 (its ln() differs in
    # the last ULP between JVM and libm — measured at sf0.001).
    from dqc_spark.snapshot import score_drift

    docs = _t(spark, sf, "documents").select("doc_id", "n_chars")
    prev = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("n_chars").alias("v"))
    cur = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.when(F.col("doc_id") % 97 == 0, F.lit(None).cast("long"))
        .when(F.col("doc_id") % 3 == 0, F.col("n_chars") + 200)
        .otherwise(F.col("n_chars")).alias("v"))
    return score_drift(cur, prev, "v", [100.0, 200.0, 400.0, 800.0])


def q_split_leakage(spark, sf):
    # eval-integrity check: near-dup pairs straddling the train/val
    # boundary.  Leakage is planted (every 40th doc cloned into val
    # with a one-token edit — high Jaccard, different exact n-grams);
    # rows-only (MinHash estimates are engine-specific), pair semantics
    # pinned by tests/test_curation_extras.py::test_split_leakage*.
    from dqc_spark.decontam import split_leakage

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    base = docs.withColumn(
        "split",
        F.when(F.col("doc_id") % 10 < 8, "train").otherwise("val"))
    leaked = docs.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 50000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" leaked")).alias("text"),
        F.lit("val").alias("split"))
    return split_leakage(base.union(leaked), "doc_id")


def q_split_corpus(spark, sf):
    # deterministic 80/10/10 split: pure function of the key, zero
    # shuffle; thresholds are integer-quantized hash buckets so both
    # engines compare identical integers
    from dqc_spark.sampling import split_corpus

    return split_corpus(
        _t(spark, sf, "documents").select("doc_id"), "doc_id")


def q_dedup_soft_weights(spark, sf):
    # SoftDeDup: keep every row, weight = 1/|exact-dup group|.  The
    # corpus is planted with re-crawls (every 10th doc duplicated) and
    # NULL-text captures (every 100th) so the weights are non-vacuous
    # and the NULL-group path is exercised cross-engine.
    from dqc_spark.dedup import dedup_soft_weights

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000000).alias("doc_id"), "text")
    nulls = docs.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 20000000).alias("doc_id"),
        F.lit(None).cast("string").alias("text"))
    return dedup_soft_weights(docs.union(dup).union(nulls), "doc_id")


def q_source_overlap(spark, sf):
    # cross-source duplicate-overlap matrix over a corpus with planted
    # mirror/archive sources (the real corpus has no cross-source exact
    # dups, so the unplanted result would be vacuous)
    from dqc_spark.snapshot import source_overlap

    docs = _t(spark, sf, "documents")
    mirror = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.lit("mirror").alias("source"), "text")
    archive = docs.filter(F.col("doc_id") % 21 == 0).select(
        F.lit("archive").alias("source"), "text")
    corpus = docs.select("source", "text").union(mirror).union(archive)
    return source_overlap(corpus)


def q_kn_perplexity(spark, sf):
    # the full CCNet-authentic loop: bigram tables trained distributed
    # (lmtrain), interpolated-KN derivation on the driver (continuation
    # counts from the SAME tables, no re-scan), scoring through the
    # unchanged broadcast-UDF path.  Rows-only (model floats are
    # engine-specific); KN semantics pinned to 1e-12 normalization and
    # python-parity by tests/test_kn.py.
    from dqc_spark.lmtrain import train_bigram_lm
    from dqc_spark.perplexity import with_perplexity
    from dqc_spark.textmodels import build_kn

    docs = _t(spark, sf, "documents")
    lm = train_bigram_lm(docs.limit(300).repartition(8),
                         max_vocab=2048, min_count=1)
    kn = build_kn(lm)
    return with_perplexity(docs, lm=kn).select(
        "doc_id", F.round("ppl", 4).alias("ppl_kn"))


# Planted multilingual corpus slice for the cross-engine tokenizer
# parity probe (text_tokens_unicode): one deterministic literal per
# doc_id covering the cases the Unicode family must pin — Cyrillic case
# fold, space-free CJK (codepoint isolation), accented Latin, NBSP /
# EM-space separators, the Turkish İ and Greek final-sigma fold
# divergences (wordhash.fold_case docstring), and halfwidth Katakana.
# The SAME python list feeds the Spark literals and the DuckDB list
# literal, so the two legs cannot drift.
_UNICODE_PLANTED = [
    "Доброе УТРО мир",
    "日本語の文書です",
    "中文文档没有空格",
    "naïve Café RÉSUMÉ straße",
    "good morning wide spaces",
    "İstanbul ΟΔΥΣΣΕΥΣ",
    "mixed 日本語 and ascii 123, punct-uated!",
    "halfwidth ｶﾀｶﾅ test",
    # SEA space-free scripts (cluster-segmented in the fold/alnum
    # families, run-whole in ws — see wordhash SEA_* note)
    "คนไทยกินข้าวที่บ้าน ภาษาไทย",
    "ພາສາລາວ ແລະ ໄທ",
    "မြန်မာစာ ရေးသည်",
    "ភាសាខ្មែរ និង ឡាវ",
]
_UNICODE_PLANTED_SQL = "[" + ", ".join(
    "'" + s.replace("'", "''") + "'" for s in _UNICODE_PLANTED) + "]"


def q_text_tokens_unicode(spark, sf):
    """Both shared tokenizer families (fold_tokens = LM/whitespace
    family, unicode_alnum_tokens = the toxicity family) over the planted
    multilingual slice, as (family, token, n) counts — the driver
    differential proves the Catalyst and DuckDB legs tokenize
    byte-identically on non-Latin text."""
    from dqc_spark.wordhash import fold_tokens_col, unicode_alnum_tokens_col

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 512)
    arr = F.array(*[F.lit(s) for s in _UNICODE_PLANTED])
    base = docs.select(
        F.element_at(arr, (F.col("doc_id") % 12 + 1).cast("int"))
        .alias("ptext"))
    ws = base.select(
        F.lit("ws").alias("family"),
        F.explode(fold_tokens_col(F.col("ptext"))).alias("token"))
    al = base.select(
        F.lit("alnum").alias("family"),
        F.explode(unicode_alnum_tokens_col(F.col("ptext"))).alias("token"))
    return (ws.unionAll(al).groupBy("family", "token")
            .agg(F.count(F.lit(1)).alias("n")))


def q_attr_refilter(spark, sf):
    """Attribute-store mechanism (attributes.py): per-doc attributes
    live in a narrow stored table, keep is re-derived from the STORED
    columns as pure Catalyst predicates, and the corpus is filtered by
    a key semi-join (apply_filter).  The attribute set here is the
    SQL-expressible quality_scores family so the whole
    store->regate->apply path is cross-engine verifiable; the full
    gate-feature tag() (Python kernels: features+langid+ppl) is pinned
    against annotate() in tests/test_attributes.py.  Thresholds compare
    raw doubles safely: both engines compute the IDENTICAL int-ratio
    expression (CLAUDE.md rounding-mode rule)."""
    from dqc_spark.attributes import apply_filter
    from dqc_spark.textstats import quality_scores

    docs = _t(spark, sf, "documents")
    attrs = quality_scores(docs, "doc_id").withColumn(
        "keep",
        (F.col("n_words") >= 50)
        & (F.col("alpha_ratio") >= 0.6)
        & (F.col("stopword_ratio") >= 0.05),
    )
    return apply_filter(docs, attrs, key_col="doc_id").select(
        "doc_id", "lang", "n_chars")


def q_attr_tag_regate(spark, sf):
    """Full attribute-store path over the real gate features + langid +
    perplexity (Python kernels -> rows-only); exact keep parity vs a
    fresh annotate() at swept thresholds is pinned in
    tests/test_attributes.py."""
    from dqc_spark.attributes import regate, tag

    docs = _t(spark, sf, "documents")
    attrs = tag(docs, key_col="doc_id")
    return regate(attrs, thresholds={"min_words": 150}).select(
        "doc_id", "keep")


def q_langid_train_profile(spark, sf):
    """Distributed fastText-style langid training (langid.py): top-10
    trigram-profile rows per language from the documents table's lang
    labels — rows-only (trigram hashes are fused codepoint arithmetic,
    not reasonably SQL-expressible); exact Spark==python trainer parity
    and partition invariance are pinned in tests/test_langid_train.py."""
    from dqc_spark.langid import _cap_per_lang, trigram_counts

    docs = _t(spark, sf, "documents")
    return _cap_per_lang(trigram_counts(docs), 10)


def _cached_fixture(name, rows, build, *code) -> str:
    """The temp-dir path of a fixture that ``build(path)`` writes from
    ``rows``, built once per key.  The key is the rows plus the source
    of ``code`` (the fixture function and the writer module it calls),
    so a change to either writes a fresh fixture instead of reusing a
    stale one.  Built under a scratch name and renamed into place, so a
    crashed half-build is never mistaken for done.  A fresh build
    removes the fixtures it supersedes: same name and rows, older code.
    Fixtures of other rows (another scale factor) stay, and so do
    ``.build-`` scratch dirs, which a concurrent builder may own."""
    rows_h, code_h = hashlib.md5(), hashlib.md5()
    for r in rows:
        rows_h.update(repr(tuple(r)).encode())
    for obj in code:
        code_h.update(inspect.getsource(obj).encode())
    prefix = os.path.join(tempfile.gettempdir(),
                          f"dqc_{name}_fixture_{rows_h.hexdigest()[:12]}_")
    root = prefix + code_h.hexdigest()[:12]
    if os.path.isdir(root):
        return root
    scratch = f"{root}.build-{uuid.uuid4().hex[:8]}"
    build(scratch)
    try:
        os.rename(scratch, root)
    except OSError:
        # lost a concurrent-build race: the winner's fixture is complete
        shutil.rmtree(scratch, ignore_errors=True)
        return root
    for old in glob.glob(glob.escape(prefix) + "*"):
        if old != root and ".build-" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return root


def _doc_slice_rows(spark, sf):
    docs = _t(spark, sf, "documents").filter(
        (F.col("doc_id") < 128) & F.col("text").isNotNull())
    return sorted(docs.select("doc_id", "text").collect(),
                  key=lambda r: r.doc_id)


def _write_shards(path, rows, url_prefix, body, write, suffix):
    """Write ``rows`` as 4 shards (by doc_id % 4) of (url, ISO ts,
    body(text)) records through ``write``; url and ts are deterministic
    functions of doc_id."""
    import datetime

    os.makedirs(path)
    base = datetime.datetime(2025, 1, 1)
    shards: list[list] = [[] for _ in range(4)]
    for r in rows:
        ts = base + datetime.timedelta(seconds=int(r.doc_id))
        shards[int(r.doc_id) % 4].append((
            f"{url_prefix}{int(r.doc_id)}",
            ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
            body(r.text),
        ))
    for i, shard in enumerate(shards):
        with open(os.path.join(path, f"part-{i}{suffix}"), "wb") as f:
            f.write(write(shard))


def _warc_fixture_dir(spark, sf) -> str:
    """Author a small WARC archive set from the documents table itself
    (url/ts/body all deterministic functions of doc_id/text), so the
    DuckDB oracle can recompute the expected rows straight from the
    parquet — a real cross-engine differential of the author->parse
    loop.  4 gzip-member shards so the read parallelizes like real CC
    dumps."""
    from dqc_spark import warc

    rows = _doc_slice_rows(spark, sf)
    return _cached_fixture(
        "warc", rows,
        lambda path: _write_shards(
            path, rows, "http://warc.test/doc/",
            lambda text: text.encode("utf-8"),
            lambda shard: warc.warc_bytes(shard, gzip_members=True),
            ".warc.gz"),
        _warc_fixture_dir, _write_shards, warc)


# stand-in 'toxic' terms for the synthetic corpus (real deployments
# supply their own list file); mixed case proves the fold
_TOX_WORDS = ("Spark", "merge", "WINDOW")


def q_toxicity_scores(spark, sf):
    """Word-list toxicity scoring (toxicity.py): blocked-token
    fraction per document via the shared alnum-token kernel — the
    oracle recomputes the identical int-ratio double from the shared
    alnum tokenizer SQL, so list folding, token matching and the ratio all
    compare raw-bit."""
    from dqc_spark.toxicity import load_wordlist, with_toxicity

    docs = _t(spark, sf, "documents")
    return with_toxicity(docs, load_wordlist(_TOX_WORDS)) \
        .select("doc_id", "toxicity")


def _toxicity_oracle_sql() -> str:
    from dqc_spark.toxicity import load_wordlist

    words = sorted(load_wordlist(_TOX_WORDS))
    lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"""
        WITH toks AS (
          SELECT doc_id, {_ALTOKS_SQL} AS t FROM documents
        )
        SELECT doc_id,
               CASE WHEN len(t) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(t,
                             x -> list_contains({lst}, x))) AS DOUBLE)
                         / len(t)
               END AS toxicity
        FROM toks
    """


def q_shard_assign(spark, sf):
    """Deterministic training-shard assignment (ordering.assign_shards):
    global content order chopped into fixed-size shards — position //
    docs_per_shard, stable across re-runs and parallelism.  Full SQL
    oracle via the same ROW_NUMBER spelling the training-order entry
    pins (Spark row_number cast to long per the CLAUDE.md rule)."""
    from dqc_spark.ordering import assign_shards

    docs = _t(spark, sf, "documents")
    return assign_shards(docs, 100).select("doc_id", "position", "shard")


def q_pack_sequences(spark, sf):
    """GPT-style fixed-length sequence packing (seqpack.sequence_manifest):
    documents concatenated in the deterministic content order with one
    EOS token, chopped into 512-token windows; one manifest row per
    (sequence, document) slice.  Full SQL oracle: whitespace token
    counts (the text_token_counts spelling), exclusive prefix-sum over
    the same (md5, doc_id) order the shard entry pins, pure integer
    span arithmetic — raw-bit."""
    from dqc_spark.seqpack import sequence_manifest

    docs = _t(spark, sf, "documents")
    return sequence_manifest(docs, seq_len=512)


# literal-char class, identical bytes in Java regex and DuckDB RE2:
# HTML metacharacters + the non-ASCII whitespace the kernel's strip()
# removes but SQL trim() does not
_MC_SANITIZE = "[<>&\u00a0\u2028\u2029]"
_MC_TAIL1 = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon")
_MC_TAIL2 = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen seventeen "
             "eighteen nineteen twenty")
_MC_HEAD = (
    '<html><head><title>Doc page</title>'
    '<script>var nav = "<p>no</p>";</script></head><body>'
    '<div id="nav"><a href="/">Home</a> <a href="/about">About</a> '
    '<a href="/contact">Contact</a> <a href="/pricing">Pricing</a></div>'
    "<h2>Section overview</h2><p>"
)
_MC_RELATED = ('<div>Related stories: <a href="/1">one</a> '
               '<a href="/2">two</a> <a href="/3">three</a></div>')
_MC_TEASER = "<p>Read the quick summary below</p>"
_MC_FOOT = ('<footer><a href="/p">Privacy</a> <a href="/t">Terms</a> '
            '<a href="/i">Imprint</a> Copyright 2026</footer>'
            "</body></html>")


def q_main_content(spark, sf):
    """Main-content extraction (maincontent.py) over pages built from
    the documents table: title/nav/related-box/footer are boilerplate
    (dropped), the heading + two long paragraphs + the planted short
    teaser are the article (kept — teaser via the context rule, heading
    via the following-GOOD rule).  Planted-spec SQL oracle: DuckDB
    builds the EXPECTED article directly from the same word slices; the
    Spark side must recover it from the full HTML byte-for-byte."""
    from dqc_spark.gates import words_col
    from dqc_spark.maincontent import main_content_col

    docs = _t(spark, sf, "documents")
    # sanitize before the word split (mirrored in the oracle's src CTE):
    # a word containing <, > or & would be consumed/decoded by the HTML
    # parse on the Spark side only, and non-ASCII whitespace at a slice
    # edge is stripped by the kernel's str.strip() but not by SQL trim —
    # the testdata happens to contain none today, but the differential
    # must not depend on that (review finding, r4)
    w = words_col(F.regexp_replace(F.col("text"), _MC_SANITIZE, " "))
    p1 = F.trim(F.concat(F.concat_ws(" ", F.slice(w, 1, 12)),
                         F.lit(" " + _MC_TAIL1)))
    p2 = F.trim(F.concat(F.concat_ws(" ", F.slice(w, 13, 12)),
                         F.lit(" " + _MC_TAIL2)))
    html = F.concat(
        F.lit(_MC_HEAD), p1, F.lit("</p>"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(_MC_RELATED))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0, F.lit(_MC_TEASER))
        .otherwise(F.lit("")),
        F.lit("<p>"), p2, F.lit("</p>"), F.lit(_MC_FOOT),
    )
    out = docs.select(
        "doc_id",
        main_content_col(F.encode(html, "utf-8")).alias("main_text"),
    )
    return out.select(
        "doc_id",
        F.md5("main_text").alias("main_md5"),
        F.length("main_text").cast("long").alias("main_len"),
    )


def _moji_cases():
    """(corrupt, expected) plants: single- and double-encoded mojibake
    plus clean fixed-point controls.  Corrupt side generated by the
    FORWARD corruption (encode/decode in the opposite direction of the
    repair), expected side is the clean literal — independent spec."""
    from dqc_spark.encodingfix import make_mojibake

    clean = [
        "don’t “quote” me — it’s naïve",
        "café déjà vu £10 €5",
        "日本語のテキスト",
        "Ünïcödé mix",
        "plain ascii text",
        "résumé – ‘single’ quotes…",
        "русский текст",
    ]
    return ([(make_mojibake(c, 1), c) for c in clean]
            + [(make_mojibake(c, 2), c) for c in clean[:3]]
            + [(c, c) for c in clean])


def q_fix_mojibake(spark, sf):
    """Encoding repair differential (encodingfix.py): the real repair
    UDF runs over planted corrupt literals; the oracle knows only the
    expected clean text per case — cp1252/latin-1 inverse mapping,
    strict UTF-8 validation, double-encode iteration and clean-text
    stability are all in the compared surface."""
    from dqc_spark.encodingfix import fix_mojibake_col

    cases = _moji_cases()
    docs = _t(spark, sf, "documents")
    arr = F.array(*[F.lit(c) for c, _ in cases])
    base = docs.select(
        (F.col("doc_id") % len(cases)).alias("case_id"),
        F.element_at(arr, (F.col("doc_id") % len(cases) + 1).cast("int"))
        .alias("corrupt"))
    return (base.select("case_id",
                        fix_mojibake_col("corrupt").alias("fixed"))
            .groupBy("case_id", "fixed")
            .agg(F.count(F.lit(1)).alias("n")))


def _moji_oracle_sql() -> str:
    cases = _moji_cases()
    whens = "\n".join(
        f"                 WHEN {i} THEN '" + exp.replace("'", "''") + "'"
        for i, (_, exp) in enumerate(cases))
    return f"""
        SELECT doc_id % {len(cases)} AS case_id,
               CASE doc_id % {len(cases)}
{whens}
               END AS fixed,
               COUNT(*) AS n
        FROM documents
        GROUP BY 1, 2
    """


# (robots_txt or None, path, expected-allowed-for-'*') — expectations
# hand-derived from RFC 9309 / the published REP examples and spelled
# ONLY in the oracle; the Spark side runs the real parser + matcher.
_ROBOTS_CASES = [
    ("User-agent: *\nDisallow: /fish", "/fish.html", False),
    ("User-agent: *\nDisallow: /fish", "/catfish", True),
    ("User-agent: *\nDisallow: /fish/", "/fish", True),
    ("User-agent: *\nDisallow: /fish/", "/fish/salmon", False),
    ("User-agent: *\nDisallow: /*.php$", "/file.php", False),
    ("User-agent: *\nDisallow: /*.php$", "/file.php?x=1", True),
    ("User-agent: *\nAllow: /p\nDisallow: /", "/page", True),
    ("User-agent: *\nAllow: /p\nDisallow: /", "/other", False),
    ("User-agent: *\nAllow: /folder\nDisallow: /folder", "/folder/x", True),
    ("User-agent: *\nDisallow:", "/x", True),
    ("User-agent: bot\nDisallow: /", "/x", True),   # no '*' group
    (None, "/x", True),                             # no robots row
    # query-only URL: the empty path normalizes to '/', so a
    # disallow-all host blocks 'http://host?q=1' too (url_path twins)
    ("User-agent: *\nDisallow: /", "?q=1", False),
]


def q_robots_gate(spark, sf):
    """robots.txt compliance differential (robots.py): the real RFC
    9309 parser + longest-match kernel runs over planted policies; the
    oracle knows only the hand-derived verdict per case — prefix/
    wildcard/$-anchor matching, allow-tie precedence, empty-disallow,
    group fallback and missing-policy defaults all in the compared
    surface."""
    from dqc_spark.robots import robots_gate

    k = len(_ROBOTS_CASES)
    docs = _t(spark, sf, "documents")
    url_arr = F.array(*[F.lit(f"http://case{i}.test{p}")
                        for i, (_, p, _) in enumerate(_ROBOTS_CASES)])
    base = docs.select(
        (F.col("doc_id") % k).alias("case_id"),
        F.element_at(url_arr, (F.col("doc_id") % k + 1).cast("int"))
        .alias("url"))
    robots = spark.createDataFrame(
        [(f"case{i}.test", txt)
         for i, (txt, _, _) in enumerate(_ROBOTS_CASES) if txt is not None],
        "host string, robots_txt string")
    return (robots_gate(base, robots, flag_col="allowed")
            .groupBy("case_id", "allowed")
            .agg(F.count(F.lit(1)).alias("n")))


def _robots_oracle_sql() -> str:
    whens = "\n".join(
        f"                 WHEN {i} THEN {'true' if exp else 'false'}"
        for i, (_, _, exp) in enumerate(_ROBOTS_CASES))
    return f"""
        SELECT doc_id % {len(_ROBOTS_CASES)} AS case_id,
               CASE doc_id % {len(_ROBOTS_CASES)}
{whens}
               END AS allowed,
               COUNT(*) AS n
        FROM documents
        GROUP BY 1, 2
    """


def _wet_fixture_dir(spark, sf):
    """Author a WET shard set (WARC ``conversion`` records) from the
    documents table — same caching and 4-shard layout as
    ``_warc_fixture_dir``, but the payload is the text itself."""
    from dqc_spark import warc

    rows = _doc_slice_rows(spark, sf)
    return _cached_fixture(
        "wet", rows,
        lambda path: _write_shards(
            path, rows, "http://wet.test/doc/", lambda text: text,
            warc.wet_bytes, ".warc.wet.gz"),
        _wet_fixture_dir, _write_shards, warc)


def q_wet_ingest(spark, sf):
    """WET ingestion differential (warc.read_wet): parse the authored
    conversion-record shards back to (url, warc_ts, text) — the oracle
    recomputes all three from the documents parquet without touching
    WET bytes, so conversion-record framing, member gzip and the utf-8
    round trip (encode at author time, decode at read time) are all in
    the compared surface, with the TEXT compared byte-for-byte."""
    from dqc_spark.warc import read_wet

    path = _wet_fixture_dir(spark, sf)
    return read_wet(spark, path).select("url", "warc_ts", "text")


def q_warc_ingest(spark, sf):
    """WARC ingestion differential (warc.py): parse the authored
    archives back into (url, warc_ts, n_bytes) — the oracle recomputes
    all three columns from the documents parquet without ever touching
    WARC, so header parsing, member-per-record gzip, ISO timestamp
    decode and body framing are all in the compared surface."""
    from dqc_spark.warc import read_warc

    path = _warc_fixture_dir(spark, sf)
    return read_warc(spark, path).select(
        "url", "warc_ts", F.length("html").cast("long").alias("n_bytes"))


def q_pii_spans(spark, sf):
    """Span-level PII attribute table (piispans.py) over documents with
    deterministically planted PII — one hit family per doc_id residue so
    every rule exercises.  Rows-only: span offsets come from python
    ``re``'s sequential-scrub simulation, which SQL cannot mirror; the
    byte-parity invariant (replaying spans == scrub output) is pinned in
    tests/test_piispans.py."""
    from dqc_spark.piispans import pii_spans

    r = F.col("doc_id") % 6
    sfx = (
        F.when(r == 0, F.concat(F.lit(" mail u"),
                                F.col("doc_id").cast("string"),
                                F.lit("@example.com")))
        .when(r == 1, F.lit(" ssn 123-45-6789"))
        .when(r == 2, F.lit(" from 10.0.0.1"))
        .when(r == 3, F.lit(" card 4111 1111 1111 1111"))
        .when(r == 4, F.lit(" call (555) 123-4567"))
        .otherwise(F.lit("")))
    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")), sfx).alias("text"))
    return pii_spans(docs, "doc_id", "text")


def q_mix_epoch_expand(spark, sf):
    # Epoch-expansion mixing: the same derived 70/20/10 skew as
    # mix_temperature_sample, but at a FIXED budget (= the corpus size)
    # so the rare source is upsampled past one epoch while hot is cut —
    # both the explode (full epochs) and the hash partial pass are
    # reproduced row-for-row by the oracle.
    from dqc_spark.mixing import epoch_expand

    docs = _t(spark, sf, "documents")
    m = F.col("doc_id") % 10
    skewed = docs.select(
        "doc_id",
        F.when(m < 7, "hot").when(m < 9, "mid").otherwise("rare").alias("source"),
    )
    return epoch_expand(skewed, "source", "doc_id", alpha=0.5).select(
        "doc_id", "source", "epoch"
    )


def q_dedup_priority(spark, sf):
    # Cross-source exact dedup with provenance preference: provenance
    # derived from doc_id, plus planted re-crawls (every 10th doc
    # re-captured under 'crawl') and mirrors (every 20th under 'wiki').
    # The curated/wiki copy must win its group; ties fall back to the
    # smallest key.  documents.text has no NULLs (the pinned corpus
    # assumption dedup_soft_weights_neardup's oracle also relies on).
    from dqc_spark.dedup import dedup_exact_priority, source_priority_col

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 3
    base = docs.select(
        "doc_id", "text",
        F.when(m == 0, "crawl").when(m == 1, "wiki")
        .otherwise("curated").alias("source"))
    recrawl = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000000).alias("doc_id"), "text",
        F.lit("crawl").alias("source"))
    mirror = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 20000000).alias("doc_id"), "text",
        F.lit("wiki").alias("source"))
    pool = base.union(recrawl).union(mirror)
    pri = source_priority_col("source", {"curated": 0, "wiki": 1, "crawl": 2})
    return dedup_exact_priority(pool, ["doc_id"], pri, "text").select(
        "doc_id", "source")


def _snaptable_fixture_root(spark, sf) -> str:
    """Author a 3-version snapshot table from the documents slice so
    the diff entry exercises REAL commits (create -> copy-on-write
    delete -> merge upsert), while the DuckDB oracle recomputes the
    expected diff rows straight from the parquet via the same
    deterministic mutation rules (the cache key covers those rules, since
    they are in this function's source)."""
    from dqc_spark import snaptable

    docs = _t(spark, sf, "documents").select("doc_id", "text", "lang")

    def build(path):
        t = snaptable.create(spark, path, docs.orderBy("doc_id"))
        # v2: takedown-style delete of every doc_id % 10 == 3
        t.delete_where("doc_id % 10 = 3")
        # v3: re-crawl upsert — revise every doc_id % 10 == 4 (disjoint
        # from the deleted set) and add fresh docs keyed doc_id + 100000
        revised = docs.filter(F.col("doc_id") % 10 == 4).select(
            "doc_id",
            F.concat(F.coalesce(F.col("text"), F.lit("")),
                     F.lit(" [rev2]")).alias("text"),
            "lang")
        added = docs.filter(F.col("doc_id") < 25).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.lit("added doc "),
                     F.col("doc_id").cast("string")).alias("text"),
            F.lit("en").alias("lang"))
        t.merge_upsert(revised.union(added), ["doc_id"])

    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    return _cached_fixture("snaptable", rows, build,
                           _snaptable_fixture_root, snaptable)


def q_snaptable_diff(spark, sf):
    """Snapshot-table version diff (snaptable.diff_versions): the
    added/removed/changed audit between table v1 and the current
    version, computed over narrow per-key fingerprints (never the
    text).  The Spark leg runs real snapshot commits (copy-on-write
    delete + merge upsert) on a table authored from the documents
    slice; the oracle derives the identical expected diff from the
    mutation rules.  documents.doc_id is unique, so n_from/n_to are
    exactly 1 on the present sides."""
    from dqc_spark.snaptable import SnapshotTable

    root = _snaptable_fixture_root(spark, sf)
    t = SnapshotTable(spark, root)
    return t.diff_versions(["doc_id"], 1).select(
        "doc_id", "change", "n_from", "n_to")


def q_dedup_incremental_near(spark, sf):
    """Cross-run incremental near-dup (bandindex.py): the documents
    slice split into a 'prior crawl' (even doc_id, persisted once as a
    cached MinHash band-index artifact) and a 'new snapshot'
    (odd doc_id) band-joined against it.  The prior half's text is
    never re-read by the query (plan-pinned in test_bandindex).
    Rows-only: minhash signatures are engine-specific; the
    prior-pairs ∪ incremental == whole-corpus parity contract is
    pytest-pinned (test_bandindex.py)."""
    from dqc_spark import bandindex

    docs = _t(spark, sf, "documents")
    prior = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    rows = sorted(prior.select("doc_id", "text").collect(),
                  key=lambda r: r.doc_id)
    root = _cached_fixture(
        "bandindex", rows,
        lambda path: bandindex.create_band_index(prior, "doc_id", path),
        q_dedup_incremental_near, bandindex)
    idx = bandindex.load_band_index(spark, root)
    pairs = bandindex.incremental_near_dups(idx, new, "doc_id",
                                            threshold=0.5)
    return pairs.select(
        "key_a", "key_b",
        F.round("est_jaccard", 6).alias("est_j_6dp"),
        "a_is_new", "b_is_new")


def q_corpus_report(spark, sf):
    """Corpus data card (report.py): per-language doc/char/token
    counts, NULL + length mix and corpus share in one fused groupBy.
    Token counts ride the shared Unicode tokenizer's Catalyst leg, the
    oracle its DuckDB leg; the three ratio columns are int-ratio
    doubles truncated to 4dp per the repo rounding rule."""
    from dqc_spark.report import corpus_report

    docs = _t(spark, sf, "documents")
    r = corpus_report(docs, group_col="lang")
    return r.select(
        "lang", "n_docs", "n_null_text", "total_chars", "total_tokens",
        _trunc4("avg_chars").alias("avg_chars"),
        _trunc4("avg_tokens").alias("avg_tokens"),
        "n_short", "n_medium", "n_long",
        _trunc4("doc_share").alias("doc_share"),
    )


def _structure_text_col():
    """Planted list structure over documents.text: a bullet header on
    every doc, an ellipsis teaser on every 3rd, a tab-indented dash
    bullet on every 5th (exercises the explicit ' \\t' strip), and a
    trailing blank line (must not count as a line)."""
    p1 = F.expr("substring(text, 1, 40)")
    t = F.concat(F.lit("• "), p1, F.lit("\n"), F.col("text"))
    t = F.concat(
        t,
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("\n"), p1, F.lit("...")))
        .otherwise(F.lit("")))
    t = F.concat(
        t,
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("\n\t- "), p1))
        .otherwise(F.lit("")))
    return F.concat(t, F.lit("\n")).alias("text")


def q_structure_signals(spark, sf):
    """Gopher A1 document-structure signals (textstats kernel):
    bullet-line / ellipsis-line fractions and the duplicate-word
    fraction over planted list-shaped text.  Raw-bit compare: every
    column is an int-ratio double (or 1.0 minus one) computed from the
    identical composed string on both engines."""
    from dqc_spark.textstats import repetition_signals

    docs = _t(spark, sf, "documents").select(
        "doc_id", _structure_text_col())
    return repetition_signals(docs, "doc_id").select(
        "doc_id", "bullet_line_frac", "ellipsis_line_frac",
        "dup_word_frac")


def q_gate_calibration(spark, sf):
    """Trusted-corpus gate calibration (gates.calibrate_thresholds):
    the nine derived bounds as one row — rows-only (percentile_approx
    is an engine-specific sketch; the quantile semantics and
    self-consistency are pinned in tests/test_curation_extras.py).
    Deterministic: the sketch is exact below its accuracy bound and
    the documents slice is far smaller."""
    from dqc_spark.gates import calibrate_thresholds

    th = calibrate_thresholds(
        _t(spark, sf, "documents"), quantile=0.05)
    return spark.createDataFrame(
        [tuple(th[k] for k in sorted(th))],
        ", ".join(
            f"`{k}` {'bigint' if isinstance(th[k], int) else 'double'}"
            for k in sorted(th)))


def extra_queries():
    return {
        "attr_refilter": q_attr_refilter,
        "langid_train_profile": q_langid_train_profile,
        "attr_tag_regate": q_attr_tag_regate,
        "dedup_exact_groups": q_dedup_exact,
        "dedup_minhash_near_dups": q_minhash_near_dups,
        "dedup_simhash_near_dups": q_simhash_near_dups,
        "text_token_counts": q_token_counts,
        "text_quality_scores": q_quality_scores,
        "text_langid_heuristic": q_langid_heuristic,
        "text_fingerprints": q_fingerprints,
        "text_top_ngrams": q_top_ngrams,
        "lm_word_counts": q_lm_word_counts,
        "lm_bigram_counts": q_lm_bigram_counts,
        "olap_events_windowed": q_events_windowed,
        "sample_hash_10pct": q_sample_hash,
        "sample_stratified_quota": q_sample_stratified,
        "pack_token_budget": q_pack_token_budget,
        "text_chunks": q_text_chunks,
        "check_column_exists": q_column_exists,
        "dedup_components": q_components_exact,
        "dedup_keep_canonical": q_keep_canonical,
        "dedup_ngram_jaccard": q_ngram_jaccard,
        "text_cdc_chunks": q_cdc_chunks,
        "pipeline_curate": q_pipeline_curate,
        "text_decontaminate": q_decontaminate,
        "snapshot_new_docs": q_snapshot_new_docs,
        "text_normalize_nfc": q_normalize_nfc,
        "order_training_positions": q_training_order,
        "text_compression_ratio": q_compression_ratio,
        "text_line_dedup": q_line_dedup,
        "mix_temperature_sample": q_mix_temperature,
        "profile_documents": q_profile_documents,
        "profile_histogram_nchars": q_histogram_nchars,
        "text_c4_line_filter": q_c4_line_filter,
        "snapshot_drift_by_source": q_snapshot_drift,
        "pack_first_fit_bins": q_pack_first_fit,
        "url_canonicalize": q_url_canonicalize,
        "url_domain_stats": q_url_domain_stats,
        "html_extract_text": q_html_extract,
        "url_domain_filter": q_url_domain_filter,
        "url_dedup_canonical": q_url_dedup_canonical,
        "text_repetition": q_text_repetition,
        "text_repetition_ngrams": q_text_repetition_ngrams,
        "dedup_soft_weights": q_dedup_soft_weights,
        "snapshot_source_overlap": q_source_overlap,
        "text_kn_perplexity": q_kn_perplexity,
        "dedup_soft_weights_neardup": q_neardup_soft_weights,
        "sample_split_corpus": q_split_corpus,
        "eval_split_leakage": q_split_leakage,
        "snapshot_score_drift": q_score_drift,
        "text_tokens_unicode": q_text_tokens_unicode,
        "url_domain_blocklist": q_url_domain_blocklist,
        "metric_anomaly_days": q_metric_anomaly_days,
        "warc_ingest": q_warc_ingest,
        "wet_ingest": q_wet_ingest,
        "text_fix_mojibake": q_fix_mojibake,
        "robots_gate_verdicts": q_robots_gate,
        "order_shard_assign": q_shard_assign,
        "pack_fixed_sequences": q_pack_sequences,
        "text_toxicity_scores": q_toxicity_scores,
        "html_main_content": q_main_content,
        "mix_epoch_expand": q_mix_epoch_expand,
        "text_pii_spans": q_pii_spans,
        "dedup_priority_keep": q_dedup_priority,
        "dedup_canonical_priority": q_keep_canonical_priority,
        "snaptable_diff": q_snaptable_diff,
        "corpus_report_by_lang": q_corpus_report,
        "gate_threshold_calibration": q_gate_calibration,
        "text_structure_signals": q_structure_signals,
        "dedup_incremental_near": q_dedup_incremental_near,
    }


_STOPLIST_SQL = "[" + ",".join(f"'{w}'" for w in ALL_STOPWORDS) + "]"


def _rep_ngram_oracle_sql() -> str:
    """DuckDB spelling of repetition_signals_py's n-gram family (the
    Gopher A1.1 top/dup n-gram char fractions) over the same composed
    rep text.  Words = the kernel's str.split() set (_PYWS_SPLIT);
    grams join with ONE space, so length(gram) == word chars + n-1
    exactly and distinct grams can't collide (words contain no
    whitespace).  Dup coverage mirrors the kernel's left-to-right
    seen-set scan: an occurrence is a duplicate iff its position
    exceeds the gram's MIN position (window), and covered word indices
    are the DISTINCT union of [pos, pos+n-1] ranges.  All fractions
    are int-ratio doubles -> FLOOR trunc4 on both sides."""
    from dqc_spark.textstats import REP_NGRAM_DUP, REP_NGRAM_TOP

    def gram(n: int) -> str:
        return " || ' ' || ".join(
            f"ws[i+{k}]" if k else "ws[i]" for k in range(n))

    ctes, cols, joins = [], [], []
    for n in REP_NGRAM_TOP:
        ctes.append(f"""
            t{n} AS (
              SELECT doc_id, MAX(c * length(g)) AS best
              FROM (
                SELECT doc_id, g, COUNT(*) AS c
                FROM (SELECT doc_id,
                             unnest(list_transform(
                               generate_series(1, len(ws) - {n} + 1),
                               i -> {gram(n)})) AS g
                      FROM w WHERE len(ws) >= {n})
                GROUP BY doc_id, g)
              GROUP BY doc_id
            )""")
        cols.append(
            f"FLOOR(CASE WHEN t{n}.best IS NULL OR tot.tl = 0 THEN 0.0 "
            f"ELSE CAST(t{n}.best AS DOUBLE) / tot.tl END * 10000) / 10000 "
            f"AS top_{n}gram_char_frac")
        joins.append(f"LEFT JOIN t{n} ON tot.doc_id = t{n}.doc_id")
    for n in REP_NGRAM_DUP:
        ctes.append(f"""
            p{n} AS (
              SELECT doc_id,
                     unnest(generate_series(1, len(ws) - {n} + 1)) AS pos,
                     unnest(list_transform(
                       generate_series(1, len(ws) - {n} + 1),
                       i -> {gram(n)})) AS g
              FROM w WHERE len(ws) >= {n}
            ),
            c{n} AS (
              SELECT DISTINCT doc_id, wi
              FROM (SELECT doc_id,
                           unnest(generate_series(pos, pos + {n} - 1)) AS wi
                    FROM (SELECT doc_id, pos,
                                 MIN(pos) OVER (PARTITION BY doc_id, g)
                                     AS fp
                          FROM p{n})
                    WHERE pos > fp)
            ),
            d{n} AS (
              SELECT c.doc_id, SUM(length(w.ws[c.wi])) AS cov
              FROM c{n} c JOIN w ON c.doc_id = w.doc_id
              GROUP BY c.doc_id
            )""")
        cols.append(
            f"FLOOR(CASE WHEN d{n}.cov IS NULL OR tot.twc = 0 THEN 0.0 "
            f"ELSE CAST(d{n}.cov AS DOUBLE) / tot.twc END * 10000) / 10000 "
            f"AS dup_{n}gram_char_frac")
        joins.append(f"LEFT JOIN d{n} ON tot.doc_id = d{n}.doc_id")
    return f"""
        WITH src AS (
            SELECT doc_id, coalesce({_REP_TEXT_SQL}, '') AS t
            FROM documents
        ),
        w AS (
            SELECT doc_id, length(t) AS tl,
                   list_filter(regexp_split_to_array(t, '{_PYWS_SPLIT}'),
                               x -> x <> '') AS ws
            FROM src
        ),
        tot AS (
            SELECT doc_id, tl,
                   COALESCE(CAST(list_sum(
                       list_transform(ws, x -> length(x))) AS BIGINT), 0)
                       AS twc
            FROM w
        ),{",".join(ctes)}
        SELECT tot.doc_id, {", ".join(cols)}
        FROM tot {" ".join(joins)}
    """


def extra_oracle_sql():
    return {
        # WARC differential: the Spark leg authors + parses real WARC
        # bytes; the oracle recomputes url/ts/bytes directly.  Raw
        # (unrounded) compare is safe: strings, a timestamp built by
        # integer-second addition, and an integer byte length.
        "warc_ingest": """
            SELECT 'http://warc.test/doc/' || CAST(doc_id AS VARCHAR)
                     AS url,
                   TIMESTAMP '2025-01-01 00:00:00'
                     + doc_id * INTERVAL '1 second' AS warc_ts,
                   CAST(octet_length(ENCODE(text)) AS BIGINT) AS n_bytes
            FROM documents
            WHERE doc_id < 128 AND text IS NOT NULL
        """,
        # WET differential: conversion-record framing + utf-8 round
        # trip; text compared byte-for-byte (strings compare raw)
        "wet_ingest": """
            SELECT 'http://wet.test/doc/' || CAST(doc_id AS VARCHAR)
                     AS url,
                   TIMESTAMP '2025-01-01 00:00:00'
                     + doc_id * INTERVAL '1 second' AS warc_ts,
                   text
            FROM documents
            WHERE doc_id < 128 AND text IS NOT NULL
        """,
        # encoding repair: planted-literal spec oracle (clean expected
        # strings only; the corrupt inputs live on the Spark side)
        "text_fix_mojibake": _moji_oracle_sql(),
        # robots.txt gate: hand-derived RFC 9309 verdict spec
        "robots_gate_verdicts": _robots_oracle_sql(),
        # toxicity: int-ratio double over the shared tokenizer SQL
        "text_toxicity_scores": _toxicity_oracle_sql(),
        # attribute store: the f CTE mirrors the quality_scores
        # spelling above; raw-double threshold compares are safe (same
        # int-ratio expression in both engines -> identical bits)
        "attr_refilter": rf"""
            WITH f AS (
              SELECT doc_id,
                     length(list_filter(regexp_split_to_array(text, '{_PYWS_SPLIT}'),
                                        x -> x <> '')) AS nw,
                     CASE WHEN length(text) > 0 THEN
                       CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                       / length(text) ELSE 0.0 END AS alpha_r,
                     CASE WHEN length(list_filter(regexp_split_to_array(lower(text), '{_PYWS_SPLIT}'),
                                                  x -> x <> '')) > 0 THEN
                       CAST(length(list_filter(regexp_split_to_array(lower(text), '{_PYWS_SPLIT}'),
                                   x -> list_contains({_STOPLIST_SQL}, x))) AS DOUBLE)
                       / length(list_filter(regexp_split_to_array(lower(text), '{_PYWS_SPLIT}'),
                                x -> x <> '')) ELSE 0.0 END AS sw_r
              FROM documents
            ),
            kept AS (
              SELECT doc_id FROM f
              WHERE nw >= 50 AND alpha_r >= 0.6 AND sw_r >= 0.05
            )
            SELECT d.doc_id, d.lang, d.n_chars
            FROM documents d
            WHERE EXISTS (SELECT 1 FROM kept k WHERE k.doc_id = d.doc_id)
        """,
        # split: both engines compare IDENTICAL integers (md5-prefix
        # bucket vs integer-quantized thresholds — the CLAUDE.md rule)
        "sample_split_corpus": """
            SELECT doc_id,
                   CASE WHEN b < 800000 THEN 'train'
                        WHEN b < 900000 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
              SELECT doc_id,
                     ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                        1, 8))::BIGINT % 1000000 AS b
              FROM documents
            )
        """,
        # near-dup soft weights: the truncated-hash cliques make the
        # components closure SQL-expressible (component = hash group),
        # so cluster_size is the group count for groups > 1.  NULL-text
        # parity: Spark's _dup_pairs equi-join drops NULL-hash docs
        # from the pair frame (cluster_size 1), while a bare DuckDB
        # window would group all NULL digests into ONE partition — the
        # CASE pins NULL texts to n=1 so the oracle stays green even if
        # the generator ever emits NULL text (today it doesn't).
        "dedup_soft_weights_neardup": """
            SELECT doc_id,
                   CASE WHEN n > 1 THEN n ELSE 1 END AS cluster_size,
                   CAST(1.0 AS DOUBLE)
                     / (CASE WHEN n > 1 THEN n ELSE 1 END) AS weight
            FROM (
              SELECT doc_id,
                     CASE WHEN text IS NULL THEN 1
                          ELSE COUNT(*) OVER (
                              PARTITION BY substring(md5(text), 1, 3))
                     END AS n
              FROM documents
            )
        """,
        # soft dedup: weight = 1/n is an int-ratio double, identical
        # bits both engines; the oracle spells the count as a window
        # (independent mechanism vs Spark's groupBy + equi-join, and
        # window partitioning groups NULL digests natively — Spark
        # needs the coalesced marker)
        "dedup_soft_weights": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000000, text FROM documents
              WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 20000000, CAST(NULL AS VARCHAR)
              FROM documents WHERE doc_id % 100 = 0
            )
            SELECT doc_id, n_copies,
                   CAST(1.0 AS DOUBLE) / n_copies AS weight
            FROM (
              SELECT doc_id,
                     COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies
              FROM corpus
            )
        """,
        # PSI drift: bucket CASE chains over a FULL bucket spine +
        # Laplace-smoothed proportions; counts/proportions compare raw
        # bits (int-ratio doubles; explicit DOUBLE casts keep DuckDB's
        # DECIMAL literals out), psi_term is ROUND-12 — ln() diverges
        # in the last ULP between engines (measured at sf0.001)
        "snapshot_score_drift": """
            WITH prev AS (
              SELECT n_chars AS v FROM documents WHERE doc_id % 2 = 0
            ), cur AS (
              SELECT CASE WHEN doc_id % 97 = 0 THEN NULL
                          WHEN doc_id % 3 = 0 THEN n_chars + 200
                          ELSE n_chars END AS v
              FROM documents WHERE doc_id % 2 = 1
            ), bc AS (
              SELECT CASE WHEN v IS NULL THEN -1
                          WHEN v < 100.0 THEN 0
                          WHEN v < 200.0 THEN 1
                          WHEN v < 400.0 THEN 2
                          WHEN v < 800.0 THEN 3
                          ELSE 4 END AS bucket, COUNT(*) AS n_cur
              FROM cur GROUP BY 1
            ), bp AS (
              SELECT CASE WHEN v IS NULL THEN -1
                          WHEN v < 100.0 THEN 0
                          WHEN v < 200.0 THEN 1
                          WHEN v < 400.0 THEN 2
                          WHEN v < 800.0 THEN 3
                          ELSE 4 END AS bucket, COUNT(*) AS n_prev
              FROM prev GROUP BY 1
            ), spine AS (
              SELECT unnest([-1, 0, 1, 2, 3, 4]) AS bucket
            ), j AS (
              SELECT spine.bucket,
                     COALESCE(n_cur, 0) AS n_cur,
                     COALESCE(n_prev, 0) AS n_prev
              FROM spine
              LEFT JOIN bc ON spine.bucket = bc.bucket
              LEFT JOIN bp ON spine.bucket = bp.bucket
            ), t AS (
              SELECT (SELECT CAST(COUNT(*) + 6 AS DOUBLE) FROM cur)
                       AS dc,
                     (SELECT CAST(COUNT(*) + 6 AS DOUBLE) FROM prev)
                       AS dp
            )
            SELECT bucket,
                   CAST(CASE bucket WHEN 1 THEN 100.0 WHEN 2 THEN 200.0
                                    WHEN 3 THEN 400.0 WHEN 4 THEN 800.0
                        END AS DOUBLE) AS lo,
                   CAST(CASE bucket WHEN 0 THEN 100.0 WHEN 1 THEN 200.0
                                    WHEN 2 THEN 400.0 WHEN 3 THEN 800.0
                        END AS DOUBLE) AS hi,
                   n_cur, n_prev,
                   CAST(n_cur + 1 AS DOUBLE) / dc AS p_cur,
                   CAST(n_prev + 1 AS DOUBLE) / dp AS p_prev,
                   ROUND((CAST(n_cur + 1 AS DOUBLE) / dc
                          - CAST(n_prev + 1 AS DOUBLE) / dp)
                         * ln((CAST(n_cur + 1 AS DOUBLE) / dc)
                              / (CAST(n_prev + 1 AS DOUBLE) / dp)),
                         12) AS psi_term
            FROM j, t
            ORDER BY bucket
        """,
        # overlap matrix: DISTINCT (source, digest) then a digest
        # self-join — the oracle spells DISTINCT + ANSI join directly;
        # Spark's dropDuplicates + alias-join is the independent plan
        "snapshot_source_overlap": """
            WITH corpus AS (
              SELECT source, text FROM documents
              UNION ALL
              SELECT 'mirror', text FROM documents WHERE doc_id % 7 = 0
              UNION ALL
              SELECT 'archive', text FROM documents
              WHERE doc_id % 21 = 0
            ), pairs AS (
              SELECT DISTINCT
                     COALESCE(CAST(source AS VARCHAR), '<null>') AS src,
                     COALESCE(md5(text), '__null__') AS h
              FROM corpus
            )
            SELECT a.src AS source_a, b.src AS source_b,
                   COUNT(*) AS n_shared
            FROM pairs a JOIN pairs b
              ON a.h = b.h AND a.src < b.src
            GROUP BY 1, 2
        """,
        "snapshot_drift_by_source": """
            WITH cur AS (
              SELECT COALESCE(CAST(source AS VARCHAR), '<null>') AS source,
                     COUNT(*) AS n_docs_cur,
                     CAST(COALESCE(SUM(length(text)), 0) AS BIGINT)
                       AS n_chars_cur
              FROM documents GROUP BY 1
            ), prev AS (
              SELECT COALESCE(CAST(source AS VARCHAR), '<null>') AS source,
                     COUNT(*) AS n_docs_prev,
                     CAST(COALESCE(SUM(length(text)), 0) AS BIGINT)
                       AS n_chars_prev
              FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1
            )
            SELECT COALESCE(cur.source, prev.source) AS source,
                   COALESCE(n_docs_prev, 0) AS n_docs_prev,
                   COALESCE(n_docs_cur, 0) AS n_docs_cur,
                   COALESCE(n_chars_prev, 0) AS n_chars_prev,
                   COALESCE(n_chars_cur, 0) AS n_chars_cur,
                   COALESCE(n_docs_cur, 0) - COALESCE(n_docs_prev, 0)
                     AS docs_delta,
                   COALESCE(n_chars_cur, 0) - COALESCE(n_chars_prev, 0)
                     AS chars_delta
            FROM cur FULL OUTER JOIN prev ON cur.source = prev.source
        """,
        # lined corpus derived identically to q_c4_line_filter; line
        # rules on the trim()-stripped line (explicit charset = the
        # kernel's _STRIP_SET), survivors rejoined stripped; page gate
        # checks the ORIGINAL lined text for lorem/curly markers
        "text_c4_line_filter": rf"""
            WITH src AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '{_PYWS_SPLIT}'),
                                 x -> x <> '') AS w
              FROM documents
            ), lined AS (
              SELECT doc_id,
                     array_to_string([
                       array_to_string(w[1:8], ' ') || '.',
                       array_to_string(w[1:3], ' '),
                       'Please enable javascript to continue viewing.',
                       array_to_string(w[9:16], ' ') || '?',
                       array_to_string(w[17:24], ' '),
                       array_to_string(w[1:6], ' ') || '!'
                     ], chr(10))
                     || CASE WHEN doc_id % 11 = 0
                        THEN chr(10) || 'if (x) {{ return; }}' ELSE '' END
                     || CASE WHEN doc_id % 13 = 0
                        THEN chr(10) || 'Lorem ipsum dolor sit amet.'
                        ELSE '' END AS text
              FROM src
            ), cleaned AS (
              SELECT doc_id, text AS orig,
                     array_to_string(
                       list_filter(
                         list_transform(
                           string_split(text, chr(10)),
                           l -> trim(l, ' ' || chr(9) || chr(13)
                                     || chr(11) || chr(12))),
                         s -> s <> ''
                           AND len(regexp_split_to_array(s, '{_PYWS_SPLIT}')) >= 5
                           AND regexp_matches(s, '[.!?"]$')
                           AND NOT contains(lower(s), 'javascript')),
                       chr(10)) AS clean_text
              FROM lined
            )
            SELECT doc_id, clean_text,
                   CAST(len(regexp_extract_all(clean_text, '[.!?]'))
                        AS BIGINT) AS n_sentences,
                   (len(regexp_extract_all(clean_text, '[.!?]')) >= 3
                    AND NOT contains(lower(orig), 'lorem ipsum')
                    AND NOT contains(orig, '{{')) AS keep
            FROM cleaned
        """,
        "dedup_exact_groups": """
            SELECT md5(text) AS text_hash, COUNT(*) AS n FROM documents
            GROUP BY 1 HAVING COUNT(*) > 1
        """,
        "text_token_counts": rf"""
            SELECT doc_id,
                   length(list_filter(regexp_split_to_array(text, '{_PYWS_SPLIT}'),
                                      x -> x <> '')) AS ws_tokens,
                   length(regexp_extract_all(text,
                          '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpeish_tokens,
                   length(text) AS chars
            FROM documents
        """,
        "text_quality_scores": rf"""
            WITH f AS (
              SELECT doc_id,
                     length(list_filter(regexp_split_to_array(text, '{_PYWS_SPLIT}'),
                                        x -> x <> '')) AS nw,
                     CASE WHEN length(text) > 0 THEN
                       CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                       / length(text) ELSE 0.0 END AS alpha_r,
                     CASE WHEN length(text) > 0 THEN
                       CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                       / length(text) ELSE 0.0 END AS punct_r,
                     CASE WHEN length(list_filter(regexp_split_to_array(lower(text), '{_PYWS_SPLIT}'),
                                                  x -> x <> '')) > 0 THEN
                       CAST(length(list_filter(regexp_split_to_array(lower(text), '{_PYWS_SPLIT}'),
                                   x -> list_contains({_STOPLIST_SQL}, x))) AS DOUBLE)
                       / length(list_filter(regexp_split_to_array(lower(text), '{_PYWS_SPLIT}'),
                                x -> x <> '')) ELSE 0.0 END AS sw_r
              FROM documents
            )
            SELECT doc_id, nw AS n_words,
                   FLOOR(alpha_r * 10000) / 10000 AS alpha_ratio,
                   FLOOR(punct_r * 10000) / 10000 AS punct_ratio,
                   FLOOR(sw_r * 10000) / 10000 AS stopword_ratio,
                   FLOOR((LEAST(nw / 100.0, 1.0) * 0.4
                          + LEAST(sw_r * 4, 1.0) * 0.3
                          + alpha_r * 0.3) * 10000) / 10000 AS quality_score
            FROM f
        """,
        "text_langid_heuristic": rf"""
            WITH f AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '{_PYWS_SPLIT}'),
                                 x -> x <> '') AS w,
                     length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk
              FROM documents
            ), c AS (
              SELECT doc_id, cjk, length(w) AS nw,
                length(list_filter(w, x -> list_contains(['the','and','of','to','that'], x))) AS c_en,
                length(list_filter(w, x -> list_contains(['der','die','und','nicht','ist'], x))) AS c_de,
                length(list_filter(w, x -> list_contains(['que','los','del','las','por'], x))) AS c_es,
                length(list_filter(w, x -> list_contains(['les','des','est','dans','pour'], x))) AS c_fr
              FROM f
            )
            SELECT doc_id,
                   CASE WHEN cjk * 2 > nw THEN 'zh'
                        WHEN GREATEST(c_en, c_de, c_es, c_fr) = 0 THEN 'und'
                        WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
                        WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
                        WHEN c_es >= c_fr THEN 'es'
                        ELSE 'fr' END AS lang_guess
            FROM c
        """,
        "text_fingerprints": r"""
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                   AS fingerprint
            FROM documents
        """,
        "lm_word_counts": f"""
            WITH w AS (
              SELECT {_FTOKS_SQL} AS toks
              FROM documents
            ), g AS (
              SELECT unnest(toks) AS word FROM w
            )
            SELECT word, COUNT(*) AS n_occurrences FROM g GROUP BY 1
            ORDER BY n_occurrences DESC, word LIMIT 100
        """,
        "lm_bigram_counts": f"""
            WITH w AS (
              SELECT {_FTOKS_SQL} AS toks
              FROM documents
            ), g AS (
              SELECT array_to_string(toks[i:i+1], ' ') AS gram
              FROM w, LATERAL (SELECT unnest(generate_series(1, len(toks)-1))
                               AS i) s
              WHERE len(toks) >= 2
            )
            SELECT gram, COUNT(*) AS n_occurrences FROM g GROUP BY 1
            ORDER BY n_occurrences DESC, gram LIMIT 100
        """,
        "text_top_ngrams": rf"""
            WITH w AS (
              SELECT list_filter(regexp_split_to_array(lower(text), '{_PYWS_SPLIT}'),
                                 x -> x <> '') AS toks
              FROM documents
            ), g AS (
              SELECT array_to_string(toks[i:i+2], ' ') AS ngram
              FROM w, LATERAL (SELECT unnest(generate_series(1, len(toks)-2))
                               AS i) s
              WHERE len(toks) >= 3
            )
            SELECT ngram, COUNT(*) AS n_occurrences FROM g GROUP BY 1
            ORDER BY n_occurrences DESC, ngram LIMIT 20
        """,
        "profile_documents": """
            SELECT 'doc_id' AS column,
                   COUNT(*) - COUNT(doc_id) AS n_nulls,
                   COUNT(DISTINCT doc_id) AS n_distinct,
                   CAST(MIN(doc_id) AS VARCHAR) AS min_str,
                   CAST(MAX(doc_id) AS VARCHAR) AS max_str
            FROM documents
            UNION ALL
            SELECT 'text', COUNT(*) - COUNT(text), COUNT(DISTINCT text),
                   CAST(MIN(text) AS VARCHAR), CAST(MAX(text) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'lang', COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
                   CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'source', COUNT(*) - COUNT(source), COUNT(DISTINCT source),
                   CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'n_chars', COUNT(*) - COUNT(n_chars),
                   COUNT(DISTINCT n_chars),
                   CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
            FROM documents
        """,
        # identical bucket arithmetic: (x-lo)*20/(hi-lo) floored, width
        # = (hi-lo)/20 — all from exact integer bounds
        "profile_histogram_nchars": """
            WITH b AS (
              SELECT CAST(MIN(n_chars) AS DOUBLE) AS lo,
                     CAST(MAX(n_chars) AS DOUBLE) AS hi
              FROM documents
            ), h AS (
              SELECT CAST(LEAST(19, FLOOR((n_chars - b.lo) * 20
                                          / (b.hi - b.lo))) AS INTEGER)
                       AS bucket,
                     COUNT(*) AS n
              FROM documents, b
              WHERE n_chars IS NOT NULL
              GROUP BY 1
            )
            SELECT h.bucket,
                   FLOOR((b.lo + h.bucket * ((b.hi - b.lo) / 20))
                         * 10000) / 10000 AS lo,
                   FLOOR((b.lo + (h.bucket + 1) * ((b.hi - b.lo) / 20))
                         * 10000) / 10000 AS hi,
                   h.n
            FROM h, b
        """,
        "olap_events_windowed": """
            SELECT time_bucket(INTERVAL '6 hours', ts) AS ws, event_type,
                   COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "sample_hash_10pct": """
            SELECT doc_id, lang, source FROM documents
            WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 100 < 10
        """,
        "sample_stratified_quota": """
            SELECT doc_id, source, sample_rank FROM (
              SELECT doc_id, source,
                     ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                                   1, 8))::BIGINT, doc_id
                     ) AS sample_rank
              FROM documents
            ) WHERE sample_rank <= 5
        """,
        "pack_token_budget": """
            WITH r AS (
              SELECT lang, n_chars AS n_tokens,
                     SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING)
                     - n_chars AS excl
              FROM documents
            )
            SELECT lang, CAST(FLOOR(excl / 2000.0) AS BIGINT) AS bin_id,
                   COUNT(*) AS n_docs,
                   -- DuckDB int SUM is HUGEINT (float64 in pandas);
                   -- Spark's is int64 — cast so the dtypes agree
                   CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
            FROM r GROUP BY 1, 2
        """,
        "text_chunks": """
            SELECT d.doc_id AS key, CAST(g.ix AS INT) AS chunk_ix,
                   md5(substring(d.text, g.ix * 500 + 1, 500)) AS chunk_md5,
                   length(substring(d.text, g.ix * 500 + 1, 500)) AS chunk_len
            FROM documents d, LATERAL (
              SELECT unnest(generate_series(0,
                     CAST(ceil(length(d.text) / 500.0) AS INT) - 1)) AS ix) g
        """,
        "check_column_exists": """
            SELECT c.col, d.column_name IS NOT NULL AS present
            FROM (VALUES ('text'), ('lang'), ('nope_col')) c(col)
            LEFT JOIN (DESCRIBE SELECT * FROM documents) d
              ON d.column_name = c.col
        """,
        "dedup_ngram_jaccard": f"""
            WITH sh AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 5 THEN
                       list_distinct([array_to_string(toks[i:i+4], ' ')
                                      for i in generate_series(1, len(toks)-4)])
                     ELSE [array_to_string(toks, ' ')] END AS sh
              FROM (SELECT doc_id,
                           {_FTOKS_SQL} AS toks
                    FROM documents)
            ),
            pairs AS (
              SELECT a.doc_id AS key_a, b.doc_id AS key_b
              FROM (SELECT doc_id, substring(md5(text),1,3) h FROM documents) a
              JOIN (SELECT doc_id, substring(md5(text),1,3) h FROM documents) b
                ON a.h = b.h AND a.doc_id < b.doc_id
              UNION
              SELECT d1.doc_id, d2.doc_id
              FROM documents d1 JOIN documents d2
                ON d2.doc_id = d1.doc_id + 1 AND d1.doc_id < 50
            )
            SELECT key_a, key_b,
                   FLOOR(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(x.sh, y.sh)))
                         * 10000) / 10000 AS jaccard
            FROM pairs
            JOIN sh x ON x.doc_id = key_a
            JOIN sh y ON y.doc_id = key_b
        """,
        "dedup_components": """
            WITH g AS (SELECT doc_id, substring(md5(text), 1, 3) AS h
                       FROM documents),
                 m AS (SELECT h, MIN(doc_id) AS mn, COUNT(*) AS c
                       FROM g GROUP BY h)
            SELECT g.doc_id AS key, m.mn AS component
            FROM g JOIN m USING (h) WHERE m.c > 1
        """,
        "dedup_keep_canonical": """
            SELECT doc_id FROM (
              SELECT doc_id,
                     ROW_NUMBER() OVER (PARTITION BY substring(md5(text), 1, 3)
                                        ORDER BY doc_id) AS rn
              FROM documents
            ) WHERE rn = 1
        """,
        # the provenance-preferring twin: winner per truncated-hash
        # clique by (source rank, key) — the window spelling of the
        # cluster-level min(struct(priority, key)) election
        "dedup_canonical_priority": """
            SELECT doc_id, source FROM (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN 'crawl'
                          WHEN doc_id % 3 = 1 THEN 'wiki'
                          ELSE 'curated' END AS source,
                     ROW_NUMBER() OVER (
                       PARTITION BY substring(md5(text), 1, 3)
                       ORDER BY CASE doc_id % 3
                                  WHEN 0 THEN 2
                                  WHEN 1 THEN 1
                                  ELSE 0 END,
                                doc_id) AS rn
              FROM documents
            ) WHERE rn = 1
        """,
        # 3-gram slice [i:i+2] is 1-based INCLUSIVE in DuckDB -> 3 tokens;
        # explode-with-placeholder keeps gram-less docs (n_grams=0) in the
        # result, mirroring Spark's explode_outer
        "text_decontaminate": f"""
            WITH toks AS (
              SELECT doc_id,
                     {_FTOKS_SQL} AS w
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     CASE WHEN len(w) >= 3 THEN
                       list_distinct(list_transform(
                         generate_series(1, len(w) - 2),
                         i -> array_to_string(w[i:i+2], ' ')))
                     ELSE [] END AS g
              FROM toks
            ), bg AS (
              SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 13 = 0
            ), ex AS (
              SELECT doc_id, len(g) AS n_grams,
                     unnest(CASE WHEN len(g) = 0
                                 THEN [CAST(NULL AS VARCHAR)] ELSE g END) AS gram
              FROM grams WHERE doc_id % 13 <> 0
            )
            SELECT ex.doc_id,
                   CAST(MAX(ex.n_grams) AS INTEGER) AS n_grams,
                   CAST(SUM(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hit,
                   FLOOR(CASE WHEN MAX(ex.n_grams) > 0
                              THEN SUM(CASE WHEN bg.gram IS NOT NULL
                                            THEN 1 ELSE 0 END)::DOUBLE
                                   / MAX(ex.n_grams)
                              ELSE 0.0 END * 10000) / 10000 AS contam_frac
            FROM ex LEFT JOIN bg ON ex.gram = bg.gram
            GROUP BY ex.doc_id
        """,
        # temperature mix: same rate math (sqrt-share renormalized, min
        # budget, capped at 1), same md5-bucket filter, threshold
        # ROUND-quantized on both sides (the weight sum's summation
        # order differs between engines -> ulp drift; rounding absorbs)
        "mix_temperature_sample": """
            WITH skewed AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 < 7 THEN 'hot'
                          WHEN doc_id % 10 < 9 THEN 'mid'
                          ELSE 'rare' END AS source
              FROM documents
            ), counts AS (
              SELECT source, COUNT(*) AS n_docs FROM skewed GROUP BY source
            ), tot AS (SELECT SUM(n_docs) AS t FROM counts),
            w AS (
              SELECT source, n_docs,
                     POW(n_docs::DOUBLE / tot.t, 0.5) AS wgt
              FROM counts, tot
            ), ws AS (SELECT SUM(wgt) AS s FROM w),
            tgt AS (
              SELECT source, n_docs, wgt / ws.s AS target_share FROM w, ws
            ), bdg AS (SELECT MIN(n_docs / target_share) AS b FROM tgt),
            rates AS (
              SELECT source,
                     CAST(ROUND(LEAST(1.0, target_share * bdg.b / n_docs)
                                * 10000, 0) AS BIGINT) AS thr
              FROM tgt, bdg
            )
            SELECT d.doc_id, d.source
            FROM skewed d JOIN rates r USING (source)
            WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 10000 < r.thr
        """,
        # epoch-expansion mixing: quota = ROUND of the one float in the
        # pipeline (target_share x budget — the CLAUDE.md threshold
        # rule); everything after is INTEGER arithmetic on both engines
        # (// here, div in Spark), so epochs and the partial threshold
        # compare exactly.  Full epochs unroll via generate_series
        # (empty when epochs = 0 — DuckDB's is empty for start > stop,
        # unlike Spark's descending sequence, which the Spark side
        # guards with when(epochs >= 1)).
        "mix_epoch_expand": """
            WITH skewed AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 < 7 THEN 'hot'
                          WHEN doc_id % 10 < 9 THEN 'mid'
                          ELSE 'rare' END AS source
              FROM documents
            ), counts AS (
              SELECT source, COUNT(*) AS n_docs FROM skewed GROUP BY source
            ), tot AS (SELECT SUM(n_docs) AS t FROM counts),
            w AS (
              SELECT source, n_docs,
                     POW(n_docs::DOUBLE / tot.t, 0.5) AS wgt
              FROM counts, tot
            ), ws AS (SELECT SUM(wgt) AS s FROM w),
            plan AS (
              SELECT source, n_docs,
                     CAST(ROUND(wgt / ws.s * tot.t, 0) AS BIGINT) AS quota
              FROM w, ws, tot
            ), p2 AS (
              SELECT source, n_docs, epochs,
                     ((quota - epochs * n_docs) * 10000) // n_docs AS thr
              FROM (SELECT source, n_docs, quota,
                           quota // n_docs AS epochs FROM plan)
            )
            SELECT d.doc_id, d.source, CAST(u.e AS INTEGER) AS epoch
            FROM skewed d JOIN p2 USING (source),
                 LATERAL (SELECT unnest(generate_series(0, p2.epochs - 1))
                          AS e) u
            UNION ALL
            SELECT d.doc_id, d.source, CAST(p2.epochs AS INTEGER) AS epoch
            FROM skewed d JOIN p2 USING (source)
            WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 10000 < p2.thr
        """,
        # priority dedup: the window spelling of min(struct(pri, key))
        # — ORDER BY (rank, doc_id) inside each md5(text) partition is
        # exactly the struct's lexicographic order.  documents.text has
        # no NULLs (pinned corpus assumption), so the NULL-digest
        # grouping question never arises.
        "dedup_priority_keep": """
            WITH pool AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN 'crawl'
                          WHEN doc_id % 3 = 1 THEN 'wiki'
                          ELSE 'curated' END AS source,
                     text
              FROM documents
              UNION ALL
              SELECT doc_id + 10000000, 'crawl', text
              FROM documents WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 20000000, 'wiki', text
              FROM documents WHERE doc_id % 20 = 0
            ), ranked AS (
              SELECT doc_id, source,
                     ROW_NUMBER() OVER (
                       PARTITION BY md5(text)
                       ORDER BY CASE source
                                  WHEN 'curated' THEN 0
                                  WHEN 'wiki' THEN 1
                                  WHEN 'crawl' THEN 2
                                  ELSE 3 END,
                                doc_id) AS rn
              FROM pool
            )
            SELECT doc_id, source FROM ranked WHERE rn = 1
        """,
        # NOT EXISTS with plain '=', not NOT IN: a NULL prior-side
        # digest turns NOT IN three-valued (0 rows) while Spark's
        # left_anti still matches.  Plain equality (NOT null-safe) is
        # the faithful spelling of left_anti: a NULL-text snapshot row
        # never equals anything, so both engines KEEP it as new.
        "snapshot_new_docs": """
            SELECT d.doc_id FROM documents d
            WHERE d.doc_id % 3 <> 0
              AND NOT EXISTS (SELECT 1 FROM documents p
                              WHERE p.doc_id % 3 = 0
                                AND md5(p.text) = md5(d.text))
        """,
        # same dirty suffix as _DIRTY_SUFFIX, spelled with chr() so the
        # SQL source stays printable: 0x301 combining acute, 7 BEL,
        # 160 NBSP
        "text_normalize_nfc": r"""
            WITH dirty AS (
              SELECT doc_id,
                     text || '  cafee' || chr(769) || chr(7) || ' fin'
                          || chr(160) || ' ' AS t
              FROM documents
            ), norm AS (
              SELECT doc_id,
                     -- control-strip BEFORE nfc (same order as
                     -- normalize.py: a control between base char and
                     -- combining mark blocks composition)
                     trim(regexp_replace(
                         nfc_normalize(regexp_replace(t,
                           '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]', '', 'g')),
                         '[ \t\r\n\xa0]+', ' ', 'g'), ' ') AS n
              FROM dirty
            )
            SELECT doc_id, md5(n) AS norm_md5,
                   CAST(length(n) AS INTEGER) AS n_chars_norm
            FROM norm
        """,
        # lined corpus derived identically to q_line_dedup (banner +
        # 8-word wrap); 'first occurrence' = ROW_NUMBER over
        # (doc_id, line_no), the SQL spelling of the skew-safe
        # min(struct) winner election
        "text_line_dedup": rf"""
            WITH src AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '{_PYWS_SPLIT}'),
                                 x -> x <> '') AS w
              FROM documents
            ), lined AS (
              SELECT doc_id,
                     '{_BANNER}' || chr(10) || array_to_string(
                       list_transform(
                         generate_series(0,
                           GREATEST(CAST(ceil(len(w) / 8.0) AS INT), 1) - 1),
                         i -> array_to_string(w[i*8+1:i*8+8], ' ')),
                       chr(10)) AS text
              FROM src
            ), ls AS (
              SELECT doc_id, string_split(text, chr(10)) AS arr FROM lined
            ), lines AS (
              SELECT doc_id, i - 1 AS line_no, arr[i] AS line
              FROM ls, LATERAL (SELECT unnest(generate_series(1, len(arr)))
                                AS i) t
            ), ranked AS (
              SELECT doc_id, line_no, line,
                     ROW_NUMBER() OVER (PARTITION BY line
                                        ORDER BY doc_id, line_no) AS rn
              FROM lines WHERE length(line) >= 10
            ), kept AS (
              SELECT doc_id, line_no, line FROM ranked WHERE rn = 1
              UNION ALL
              SELECT doc_id, line_no, line FROM lines WHERE length(line) < 10
            ), totals AS (
              SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id
            ), rebuilt AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY line_no) AS txt,
                     COUNT(*) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id,
                   md5(COALESCE(r.txt, '')) AS dedup_md5,
                   t.n_lines,
                   COALESCE(r.n_kept, 0) AS n_lines_kept
            FROM totals t LEFT JOIN rebuilt r USING (doc_id)
        """,
        # main-content extraction: planted-spec oracle — DuckDB builds
        # the expected ARTICLE (heading + p1 + conditional teaser + p2)
        # directly from the same word slices; boilerplate (title, nav,
        # related box, footer) exists only on the Spark side's HTML and
        # must be absent from the recovered text byte-for-byte
        # src mirrors the Spark side's _MC_SANITIZE pre-split scrub
        # (literal-char class, same bytes in both engines)
        "html_main_content": rf"""
            WITH src AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(
                       regexp_replace(text, '{_MC_SANITIZE}', ' ', 'g'),
                       '{_PYWS_SPLIT}'), x -> x <> '') AS w
              FROM documents
            ), built AS (
              -- COALESCE: DuckDB's array_to_string is NULL on the empty
              -- slice a short doc leaves behind; Spark's concat_ws is ''
              SELECT doc_id,
                     trim(COALESCE(array_to_string(w[1:12], ' '), '')
                          || ' {_MC_TAIL1}') AS p1,
                     trim(COALESCE(array_to_string(w[13:24], ' '), '')
                          || ' {_MC_TAIL2}') AS p2
              FROM src
            ), expect AS (
              SELECT doc_id,
                     'Section overview' || chr(10) || p1 || chr(10) ||
                     CASE WHEN doc_id % 2 = 0
                          THEN 'Read the quick summary below' || chr(10)
                          ELSE '' END || p2 AS main_text
              FROM built
            )
            SELECT doc_id, md5(main_text) AS main_md5,
                   length(main_text) AS main_len
            FROM expect
        """,
        # NULLS FIRST pins DuckDB to Spark's asc_nulls_first default
        # (no NULL texts in the testdata, but the contract should not
        # depend on that)
        "order_training_positions": """
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY md5(text) NULLS FIRST,
                                           doc_id) - 1 AS BIGINT) AS position
            FROM documents
        """,
        "order_shard_assign": """
            WITH pos AS (
              SELECT doc_id,
                     CAST(ROW_NUMBER() OVER (ORDER BY md5(text) NULLS FIRST,
                                             doc_id) - 1 AS BIGINT)
                       AS position
              FROM documents
            )
            SELECT doc_id, position,
                   CAST(position // 100 AS BIGINT) AS shard
            FROM pos
        """,
        "pack_fixed_sequences": rf"""
            WITH toks AS (
              SELECT doc_id, md5(text) AS okey,
                     CAST(length(list_filter(regexp_split_to_array(text, '{_PYWS_SPLIT}'),
                                             x -> x <> '')) + 1 AS BIGINT)
                       AS n_total
              FROM documents
            ), spans AS (
              SELECT doc_id, n_total,
                     CAST(COALESCE(SUM(n_total) OVER (
                          ORDER BY okey NULLS FIRST, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS BIGINT) AS tok_start
              FROM toks
            )
            SELECT CAST(u.seq_id AS BIGINT) AS seq_id,
                   s.doc_id,
                   CAST(GREATEST(s.tok_start, u.seq_id*512) - u.seq_id*512
                        AS BIGINT) AS offset_in_seq,
                   CAST(GREATEST(s.tok_start, u.seq_id*512) - s.tok_start
                        AS BIGINT) AS doc_from,
                   CAST(LEAST(s.tok_start + s.n_total, (u.seq_id+1)*512)
                        - GREATEST(s.tok_start, u.seq_id*512)
                        AS BIGINT) AS n_tok
            FROM spans s,
                 UNNEST(generate_series(s.tok_start // 512,
                                        (s.tok_start + s.n_total - 1) // 512))
                   AS u(seq_id)
            WHERE s.n_total > 0
        """,
        # independent RE2 extraction chain over the SAME synthetic page
        # markup (no backrefs/lookahead: script close-tag spelled out,
        # planted entity decoded with a literal replace); text/markup
        # contain no newlines so dotall flags are unnecessary
        "html_extract_text": f"""
            WITH pages AS (
                SELECT doc_id,
                       '{_HTML_PRE.replace("'", "''")}' || text ||
                       '{_HTML_POST.replace("'", "''")}' AS h
                FROM documents
            ),
            x1 AS (
                SELECT doc_id,
                       regexp_replace(h, '<!--.*?-->', '', 'g') AS h
                FROM pages
            ),
            x2 AS (
                SELECT doc_id,
                       regexp_replace(h,
                           '<script\\b[^>]*>.*?</script\\s*>', '', 'g') AS h
                FROM x1
            ),
            x3 AS (
                SELECT doc_id,
                       regexp_replace(h,
                           '</?(html|body|p|div|br|h[1-6]|li|ul|ol|table|tr'
                           || '|td|th|blockquote|pre|section|article|header'
                           || '|footer)\\b[^>]*/?>',
                           chr(10), 'gi') AS h
                FROM x2
            ),
            x4 AS (
                SELECT doc_id, regexp_replace(h, '<[^>]+>', '', 'g') AS h
                FROM x3
            ),
            x5 AS (
                SELECT doc_id, replace(h, '&amp;', '&') AS h FROM x4
            ),
            x6 AS (
                SELECT doc_id,
                       regexp_replace(h, '\\n{{3,}}',
                                      chr(10) || chr(10), 'g') AS h
                FROM x5
            )
            SELECT doc_id,
                   regexp_replace(h, '^\\n+|\\n+$', '', 'g') AS text
            FROM x6
        """,
        "url_canonicalize": f"""
            WITH urls AS (
                SELECT doc_id, {_synthetic_url_sql()} AS url FROM documents
            ),
            {_CANON_SQL_CTES}
            SELECT doc_id,
                   CASE WHEN scheme = '' THEN u
                        ELSE scheme || '://' || authority || tail
                   END AS canonical_url,
                   lower(regexp_extract(u,
                       '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]*)', 1)) AS domain
            FROM canon
        """,
        # independent suffix mechanism: NOT EXISTS + LIKE '%.domain'
        # (unbounded depth) vs Spark's substring_index candidate array
        "url_domain_filter": f"""
            WITH urls AS (
                SELECT doc_id, {_synthetic_url_sql()} AS url FROM documents
            ),
            bl(bdomain) AS (
                VALUES {", ".join(f"('{d}')" for d in _BLOCKED_DOMAINS)}
            ),
            hosts AS (
                SELECT doc_id, url,
                       lower(regexp_extract(url,
                           '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]*)', 1)) AS d
                FROM urls
            )
            SELECT doc_id, url FROM hosts h
            WHERE NOT EXISTS (
                SELECT 1 FROM bl b
                WHERE h.d = b.bdomain OR h.d LIKE '%.' || b.bdomain
            )
        """,
        # same CTE canonicalizer; winner election re-expressed as
        # min(doc_id) IN-list instead of Spark's min(struct) + semi-join
        "url_dedup_canonical": f"""
            WITH urls AS (
                SELECT doc_id, {_COLLIDE_URL_SQL} AS url FROM documents
            ),
            {_CANON_SQL_CTES}
            SELECT u2.doc_id, u2.url FROM urls u2
            WHERE u2.doc_id IN (
                SELECT MIN(doc_id) FROM (
                    SELECT doc_id,
                           CASE WHEN scheme = '' THEN u
                                ELSE scheme || '://' || authority || tail
                           END AS c
                    FROM canon
                ) GROUP BY c
            )
        """,
        # independent mechanism: unnest + groupBy per line/paragraph
        # (the corpus-shuffling spelling the Arrow kernel avoids);
        # ratios are int-derived identical doubles -> FLOOR (_trunc4)
        # coalesce('') keeps a NULL-text doc's row (kernel maps None to
        # all-0.0) — same latent-NULL fix as text_structure_signals
        "text_repetition": f"""
            WITH src AS (
                SELECT doc_id, coalesce({_REP_TEXT_SQL}, '') AS t
                FROM documents
            ),
            lc AS (
                SELECT doc_id, u, length(u) AS len, COUNT(*) AS c
                FROM (SELECT doc_id,
                             unnest(string_split(t, chr(10))) AS u
                      FROM src)
                GROUP BY doc_id, u
            ),
            ls AS (
                SELECT doc_id,
                       CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c) AS dlf,
                       CASE WHEN SUM(c * len) = 0 THEN 0.0
                            ELSE CAST(SUM(CASE WHEN c > 1
                                               THEN (c - 1) * len
                                               ELSE 0 END) AS DOUBLE)
                                 / SUM(c * len) END AS dlcf
                FROM lc GROUP BY doc_id
            ),
            pc AS (
                SELECT doc_id, u, length(u) AS len, COUNT(*) AS c
                FROM (SELECT doc_id,
                             unnest(string_split(t, chr(10) || chr(10)))
                                 AS u
                      FROM src)
                GROUP BY doc_id, u
            ),
            ps AS (
                SELECT doc_id,
                       CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c) AS dpf,
                       CASE WHEN SUM(c * len) = 0 THEN 0.0
                            ELSE CAST(SUM(CASE WHEN c > 1
                                               THEN (c - 1) * len
                                               ELSE 0 END) AS DOUBLE)
                                 / SUM(c * len) END AS dpcf
                FROM pc GROUP BY doc_id
            )
            SELECT ls.doc_id,
                   FLOOR(dlf * 10000) / 10000 AS dup_line_frac,
                   FLOOR(dlcf * 10000) / 10000 AS dup_line_char_frac,
                   FLOOR(dpf * 10000) / 10000 AS dup_para_frac,
                   FLOOR(dpcf * 10000) / 10000 AS dup_para_char_frac
            FROM ls JOIN ps ON ls.doc_id = ps.doc_id
        """,
        "text_repetition_ngrams": _rep_ngram_oracle_sql(),
        "url_domain_stats": f"""
            WITH urls AS (
                SELECT doc_id, text, {_synthetic_url_sql()} AS url
                FROM documents
            ),
            per AS (
                SELECT lower(regexp_extract(url,
                           '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]*)', 1))
                           AS domain,
                       COUNT(*) AS n_docs,
                       CAST(SUM(COALESCE(length(text), 0)) AS BIGINT)
                           AS total_chars
                FROM urls GROUP BY 1
            )
            SELECT domain, n_docs, total_chars,
                   FLOOR((n_docs / (SELECT SUM(n_docs) FROM per)) * 10000)
                       / 10000 AS share
            FROM per
        """,
        # tokenizer parity probe: the DuckDB leg tokenizes the SAME
        # planted literals (one python list feeds both legs) through
        # the wordhash SQL spellings — any drift in the three-engine
        # pattern family breaks this differential first
        "text_tokens_unicode": f"""
            WITH planted AS (
              SELECT {_UNICODE_PLANTED_SQL}[CAST(doc_id % 12 AS INT) + 1]
                         AS ptext
              FROM documents WHERE doc_id < 512
            ), toks AS (
              SELECT 'ws' AS family,
                     unnest({{FT}}) AS token
              FROM planted
              UNION ALL
              SELECT 'alnum' AS family,
                     unnest({{AT}}) AS token
              FROM planted
            )
            SELECT family, token, COUNT(*) AS n
            FROM toks GROUP BY 1, 2
        """.replace("{FT}", fold_tokens_sql("ptext"))
           .replace("{AT}", unicode_alnum_tokens_sql("ptext")),
        # keep_rate = int-ratio double (trunc4); blocked multiplies the
        # 0.5 threshold through so both engines compare exact halves
        "url_domain_blocklist": f"""
            WITH pages AS (
                SELECT {_synthetic_url_sql()} AS url,
                       {_KEEP_FLAG_SQL} AS keep
                FROM documents
            ),
            rates AS (
                SELECT lower(regexp_extract(url,
                           '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]*)', 1))
                           AS domain,
                       COUNT(*) AS n_docs,
                       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_keep
                FROM pages GROUP BY 1
            )
            SELECT domain, n_docs, n_keep,
                   FLOOR((CAST(n_keep AS DOUBLE) / n_docs) * 10000)
                       / 10000 AS keep_rate,
                   (n_docs >= 5 AND n_keep <= 0.5 * n_docs) AS blocked
            FROM rates
        """,
        # med/mad are order statistics of integer series — exact binary
        # fractions in both engines, compared raw; score is trunc4 of a
        # quotient of identical doubles; is_anomaly uses integer k so
        # k*mad is bit-identical
        "metric_anomaly_days": """
            WITH daily AS (
                SELECT event_type, date_trunc('day', ts) AS day,
                       COUNT(*) AS n
                FROM events GROUP BY 1, 2
            ),
            series AS (
                SELECT event_type, day,
                       n + CASE WHEN day = TIMESTAMP '2024-01-15'
                                THEN 1000 ELSE 0 END AS value
                FROM daily
            ),
            med AS (
                SELECT event_type, MEDIAN(CAST(value AS DOUBLE)) AS med
                FROM series GROUP BY 1
            ),
            mad AS (
                SELECT s.event_type,
                       MEDIAN(ABS(CAST(s.value AS DOUBLE) - m.med)) AS mad
                FROM series s JOIN med m USING (event_type) GROUP BY 1
            )
            SELECT s.event_type, s.day, s.value, m.med, d.mad,
                   CASE WHEN d.mad <> 0
                        THEN FLOOR(ABS(CAST(s.value AS DOUBLE) - m.med)
                                   / d.mad * 10000) / 10000
                        END AS score,
                   COALESCE(ABS(CAST(s.value AS DOUBLE) - m.med)
                            > 3 * d.mad, FALSE) AS is_anomaly
            FROM series s
            JOIN med m USING (event_type)
            JOIN mad d USING (event_type)
        """,
        # Snapshot-diff differential: the Spark leg runs real commits
        # (create -> delete doc_id%10=3 -> merge revising doc_id%10=4
        # and inserting doc_id+100000 for doc_id<25); the oracle
        # derives the same diff from the mutation rules.  The revised
        # text is old||' [rev2]' which ALWAYS differs (coalesce makes
        # the NULL-text case differ too), so every %10=4 key is
        # 'changed'; the deleted and revised sets are disjoint.
        "snaptable_diff": """
            SELECT doc_id, 'removed' AS change,
                   CAST(1 AS BIGINT) AS n_from,
                   CAST(NULL AS BIGINT) AS n_to
            FROM documents WHERE doc_id % 10 = 3
            UNION ALL
            SELECT doc_id, 'changed',
                   CAST(1 AS BIGINT), CAST(1 AS BIGINT)
            FROM documents WHERE doc_id % 10 = 4
            UNION ALL
            SELECT doc_id + 100000, 'added',
                   CAST(NULL AS BIGINT), CAST(1 AS BIGINT)
            FROM documents WHERE doc_id < 25
        """,
        # Gopher structure signals: the same planted composition as
        # _structure_text_col, lines stripped with the EXPLICIT ' \t'
        # set (trim(s, chars) is literal in DuckDB, matching the
        # kernel's str.strip(' \t')); words split on _PYWS_SPLIT (the
        # kernel's str.split() set, NOT RE2's ASCII \s); int-ratio
        # doubles compare raw.  The composed string is coalesced to ''
        # so a NULL-text doc yields 0.0 fractions like the kernel's
        # None branch (DuckDB list functions otherwise propagate NULL
        # past the len=0 CASE and the differential breaks on the first
        # NULL row).
        "text_structure_signals": f"""
            WITH built AS (
              SELECT doc_id,
                     coalesce(
                       '• ' || substr(text, 1, 40) || chr(10) || text
                       || CASE WHEN doc_id % 3 = 0
                               THEN chr(10) || substr(text, 1, 40) || '...'
                               ELSE '' END
                       || CASE WHEN doc_id % 5 = 0
                               THEN chr(10) || chr(9) || '- '
                                    || substr(text, 1, 40)
                               ELSE '' END
                       || chr(10), '') AS t
              FROM documents
            ), parts AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(string_split(t, chr(10)),
                                      l -> trim(l, ' ' || chr(9))),
                       l -> l <> '') AS ls,
                     list_filter(regexp_split_to_array(t,
                                   '{_PYWS_SPLIT}'),
                                 w -> w <> '') AS ws
              FROM built
            )
            SELECT doc_id,
                   CASE WHEN len(ls) = 0 THEN 0.0
                        ELSE CAST(len(list_filter(ls,
                               l -> list_contains(
                                 ['•','‣','▪','◦','·','-','*'],
                                 substring(l, 1, 1)))) AS DOUBLE)
                             / len(ls) END AS bullet_line_frac,
                   CASE WHEN len(ls) = 0 THEN 0.0
                        ELSE CAST(len(list_filter(ls,
                               l -> ends_with(l, '...')
                                    OR ends_with(l, '…'))) AS DOUBLE)
                             / len(ls) END AS ellipsis_line_frac,
                   CASE WHEN len(ws) = 0 THEN 0.0
                        ELSE 1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
                                   / len(ws) END AS dup_word_frac
            FROM parts
        """,
        # Corpus data card: same grouping/bucket/ratio spelling as
        # report.corpus_report, token counts via the shared tokenizer's
        # DuckDB leg; sums cast to BIGINT (DuckDB SUM(int) is HUGEINT),
        # ratios FLOOR-truncated to 4dp on both sides (int-ratio rule)
        "corpus_report_by_lang": f"""
            WITH per_doc AS (
              SELECT lang,
                     text IS NULL AS is_null,
                     length(coalesce(text, '')) AS n_ch,
                     len({_WSTOKS_SQL}) AS n_tok
              FROM documents
            ), g AS (
              SELECT lang,
                     COUNT(*) AS n_docs,
                     CAST(SUM(CASE WHEN is_null THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_null_text,
                     CAST(SUM(n_ch) AS BIGINT) AS total_chars,
                     CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
                     CAST(SUM(CASE WHEN n_ch < 200 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_short,
                     CAST(SUM(CASE WHEN n_ch >= 200 AND n_ch < 2000
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
                     CAST(SUM(CASE WHEN n_ch >= 2000 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_long
              FROM per_doc GROUP BY lang
            )
            SELECT lang, n_docs, n_null_text, total_chars, total_tokens,
                   FLOOR(CAST(total_chars AS DOUBLE) / n_docs
                         * 10000) / 10000 AS avg_chars,
                   FLOOR(CAST(total_tokens AS DOUBLE) / n_docs
                         * 10000) / 10000 AS avg_tokens,
                   n_short, n_medium, n_long,
                   FLOOR(CAST(n_docs AS DOUBLE)
                         / SUM(n_docs) OVER ()
                         * 10000) / 10000 AS doc_share
            FROM g
        """,
    }
