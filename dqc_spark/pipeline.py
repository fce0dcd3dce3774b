"""End-to-end document quality pipeline.

pages(url, warc_ts, html, text, lang)
  -> one fused projection: heuristic gate features + langid +
     perplexity in ONE broadcast-model Arrow UDF (scoring.py), gates
     as Catalyst predicates over its columns
  -> keep = no gate fired        (per-doc generalization, SURVEY §2.4)
  -> scrubbed_text = PII scrub, ONLY for kept docs (dropped docs never
     pay the Python regex cost)
  -> (optionally) a day-partitioned write, about one file per day
  -> table-level audit: ONE query counts the gates, lang enum and URL
     uniqueness (zero-row-success fold)

Shuffle inventory (the whole pipeline):
  0 shuffles for the gate/scrub path (pure map),
  1 rebalance exchange on ``day`` before the write (AQE splits a hot day),
  2 for the table checks: ``groupBy(url)`` (partial aggregation merges a
    hot url map side, so no salting) and the global fold's,
  0 for the lang enum (an IN-list literal).
The scan never reads ``html`` unless a gate needs it — column pruning
drops the widest column at the parquet reader.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dqc_spark import gates
from dqc_spark.features import FEATURE_NAMES
from dqc_spark.langid import lang_mismatch_pred
from dqc_spark.perplexity import DEFAULT_MAX_PPL, high_ppl_pred
from dqc_spark.scoring import with_scores
from dqc_spark.scrub import scrub_udf
from dqc_spark.snaptable import write_layout
from dqc_spark.textmodels import LANGS

GATE_ORDER = [
    "gate_too_few_words",
    "gate_too_many_words",
    "gate_word_length",
    "gate_stopword",
    "gate_alpha",
    "gate_symbol",
    "gate_dup_lines",
    "gate_repetition",
    "gate_lang_mismatch",
    "gate_high_ppl",
]


def fold_gates(df: DataFrame, preds: dict[str, Column]) -> DataFrame:
    """Append the ``preds`` gates as ``gate_*`` columns in GATE_ORDER
    (NULL coalesced to False) and ``keep`` = no gate fired — the one
    keep fold shared by ``annotate`` and ``attributes.regate``."""
    any_gate = None
    for name in GATE_ORDER:
        if name not in preds:
            continue
        p = F.coalesce(preds[name], F.lit(False))
        df = df.withColumn(name, p)
        any_gate = p if any_gate is None else (any_gate | p)
    return df.withColumn("keep", ~F.coalesce(any_gate, F.lit(False)))


def annotate(
    pages: DataFrame,
    text_col: str = "text",
    thresholds: dict | None = None,
    max_ppl: float = DEFAULT_MAX_PPL,
    lang_col: str | None = "lang",
    lm: dict | None = None,
    scrub: bool = True,
    langid_model: dict | None = None,
) -> DataFrame:
    """Append feature, gate, keep and scrubbed_text columns in one pass.

    One fused Arrow UDF (``scoring.with_scores``) computes all gate
    features + langid + perplexity in a single tokenization pass; the
    gates are Catalyst predicates over its columns.

    ``scrub=False`` skips the scrubbed_text column entirely (the
    attribute-store tagging path, which persists a narrow frame and
    must not pay the scrub UDF).  ``langid_model`` swaps the language-
    ID profile for one trained IN Spark (langid.train_langid_model).
    """
    df = with_scores(pages, text_col, lm=lm, langid_model=langid_model)
    preds = gates.gate_predicates(
        {k: F.col(k) for k in FEATURE_NAMES}, thresholds
    )
    if lang_col is not None and lang_col in pages.columns:
        preds["gate_lang_mismatch"] = lang_mismatch_pred(lang_col)
    preds["gate_high_ppl"] = high_ppl_pred(max_ppl)
    df = fold_gates(df, preds)
    # scrub ONLY kept docs: the when() sits INSIDE the UDF argument, so
    # dropped docs ship a NULL through Arrow instead of their full text
    # (a when() around the UDF call would still evaluate it on all rows —
    # pandas UDFs are extracted into an unconditional ArrowEvalPython node)
    if scrub:
        text = F.coalesce(F.col(text_col), F.lit(""))
        df = df.withColumn(
            "scrubbed_text", scrub_udf(F.when(F.col("keep"), text))
        )
    return df


def _check_counts(
    annotated: DataFrame, url_col: str, lang_col: str, allowed: list[str]
) -> DataFrame:
    """The one-row frame behind ``table_checks``."""
    from dqc_spark.checks import enum_pred

    flags = {g: F.col(g) for g in GATE_ORDER if g in annotated.columns}
    flags["lang_enum"] = enum_pred(lang_col, allowed)
    flags["kept"] = F.col("keep")
    per_url = annotated.groupBy(url_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.when(p, 1).otherwise(0)).alias(k) for k, p in flags.items()],
    )
    return per_url.agg(
        F.sum("n").alias("total"),
        F.count(F.when(F.col("n") > 1, 1)).alias("dup_urls"),
        *[F.sum(k).alias(k) for k in flags],
    )


def table_checks(
    annotated: DataFrame,
    url_col: str = "url",
    lang_col: str = "lang",
    allowed_langs: list[str] | None = None,
) -> list:
    """Reference-semantics table-level checks over the annotated frame,
    in ONE query (one scan, two exchanges): ``groupBy(url)`` sums each
    url's rows and its gate, lang-enum and keep flags, and a global agg
    folds those into the totals and the count of urls with more than
    one row (is_column_unique, checker.go:60-61; NULLs group together).
    A sum over no rows is NULL and folds to 0: an empty frame fails
    only the row-count check."""
    from dqc_spark.checks import CheckResult

    allowed = allowed_langs or LANGS
    row = _check_counts(annotated, url_col, lang_col, allowed).first()
    counts = {k: int(v or 0) for k, v in row.asDict().items()}
    results = [
        CheckResult(g, passed=(counts[g] == 0), error_count=counts[g])
        for g in GATE_ORDER if g in counts
    ]
    n = counts["lang_enum"]
    results.append(
        CheckResult("is_column_enum", passed=(n == 0), error_count=n,
                    params={"column": lang_col, "enum_values": ",".join(allowed)})
    )
    n = counts["dup_urls"]
    results.append(
        CheckResult("is_column_unique", passed=(n == 0),
                    error_count=n, params={"column": url_col})
    )
    total = counts["total"]
    results.append(
        CheckResult("is_table_row_count_between", passed=total > 0,
                    observed=float(total),
                    params={"row_count": str(total),
                            "kept": str(counts["kept"])})
    )
    return results


def run_pipeline(
    pages: DataFrame,
    output_path: str | None = None,
    audit=None,
    thresholds: dict | None = None,
    run_id: str | None = None,
) -> DataFrame:
    """Annotate -> (optionally) write kept docs -> audit the run.  The
    read-back takes the written schema: no footer-inference job, and an
    empty output reads back as an empty frame."""
    run_id = run_id or uuid.uuid4().hex
    ann = annotate(pages, thresholds=thresholds)
    if output_path is not None:
        dated = ann.withColumn("day", F.to_date("warc_ts"))
        (
            write_layout(dated, ["day"])
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(output_path)
        )
        ann = (ann.sparkSession.read.schema(dated.schema)
               .parquet(output_path).drop("day"))
    if audit is not None:
        for res in table_checks(ann):
            audit.log(res.check_type, res.passed, res.params,
                      error_count=res.error_count, input_snapshot=run_id)
    return ann


def _content_key(key_col: str, text_col: str) -> Column:
    """128-bit-per-part injective content key for the text-rewrite
    stage (corpus line dedup): at the 1e9–1e12-doc scale this module
    targets, 64-bit birthday collisions (~n^2/2^65) are expected, and
    a collision silently drops a distinct document.
    ``md5(key)||md5(text)`` is INJECTIVE over the pair up to md5
    collisions — a separator-joined md5 is not (concat_ws SKIPS NULL
    args and the separator can occur inside crawl text, so
    ('a\\x00b', 'c') and ('a', 'b\\x00c') collide deterministically).
    NULL parts map to a 32-char non-hex marker no real digest can
    equal.  Callers dropDuplicates on this key BEFORE the stage and
    join the rebuilt text back on it — byte-identical re-crawl rows
    would otherwise share a key and fan the rebuilt text out doubled
    through the join-back (review finding, r4)."""
    nullmark = F.lit("#" * 32)
    return F.concat(
        F.coalesce(F.md5(F.col(key_col).cast("string")), nullmark),
        F.coalesce(F.md5(F.col(text_col)), nullmark),
    )


def curate(
    pages: DataFrame,
    thresholds: dict | None = None,
    near_dup_threshold: float | None = 0.7,
    domain_quota: int | None = None,
    pack_budget: int | None = None,
    key_col: str = "url",
    text_col: str = "text",
    prior: DataFrame | None = None,
    normalize_text: bool = False,
    line_dedup_min_len: int | None = None,
    benchmark: DataFrame | None = None,
    decontam_ngram: int = 8,
    decontam_max_frac: float = 0.8,
    mix_alpha: float | None = None,
    blocked_domains=None,
    repetition_thresholds: dict | None = None,
    lm: dict | None = None,
    c4_line_clean: bool = False,
    line_dedup_unit: str = "line",
    stage_metrics: dict | None = None,
    split_weights: dict | None = None,
    langid_model: dict | None = None,
    fix_encoding: bool = False,
    robots: DataFrame | None = None,
    robots_user_agent: str = "*",
    toxic_words=None,
    max_toxicity: float = 0.0,
    max_ppl: float | None = None,
) -> DataFrame:
    """Full corpus curation: (blocklist) -> (robots.txt gate) ->
    (snapshot filter) -> (normalize) -> (line dedup) -> quality
    filter -> dedup -> (decontaminate) -> quota -> (mix) -> pack ->
    (split).

    The composition a training-data run actually executes, in execution
    order, each stage an operator tested on its own (parenthesized
    stages default OFF):

      1. (``blocked_domains``) — UT1-style domain blocklist
         (urlops.domain_filter, suffix semantics); runs before
         everything: a shuffle-free codegen filter is the cheapest
         possible row reduction
      2. (``robots``) — RFC 9309 compliance gate (robots.py): drop
         pages their host's robots.txt disallows for
         ``robots_user_agent``; hosts without a policy row are kept
      3. (``prior``) — incremental snapshot filter: drop pages whose
         text was already ingested (snapshot.py digest anti-join)
      4. (``fix_encoding``) — mojibake repair (encodingfix.py): undo
         UTF-8-read-as-cp1252 damage BEFORE normalize strips the C1
         control chars the repair needs as evidence
      5. (``normalize_text``) — NFC/control/whitespace canonicalization
         (normalize.py) so every later hash sees canonical bytes
      6. (``line_dedup_min_len``) — corpus-level boilerplate line dedup
         (linededup.py), BEFORE gating: de-boilerplated text is what
         the quality gates should score.  ``line_dedup_unit`` picks the
         hash unit: "line" (C4) or "paragraph" (CCNet — blank-line
         separated blocks, rebuilt with "\\n\\n")
      7. (``c4_line_clean``) — C4-style line cleaning (c4clean.py):
         drop short / unterminated / javascript lines inside each page,
         then drop pages under 3 surviving sentences or carrying
         lorem-ipsum / curly-bracket markers.  After line dedup (the
         dedup should see the raw boilerplate), before scoring (gates
         should score the cleaned text).  Shuffle-free.
      8. ``annotate`` + keep-filter (gates/langid/ppl/scrub; 0 shuffles)
      9. (``toxic_words``) — word-list toxicity gate (toxicity.py):
         drop pages whose blocked-token fraction exceeds
         ``max_toxicity`` (default 0.0: one listed token drops the
         page, the C4 bad-words rule); runs after the heuristic gates
      10. url dedup — one row per ``key_col``, winner by min md5 of the
         scrubbed text
      11. (``repetition_thresholds``) — Gopher A1.1 repetition gates
         (textstats.repetition_signals) on the kept scrubbed text;
         e.g. ``{"dup_5gram_char_frac": 0.15}``; drop on ANY exceed
      12. exact dedup — min-key canonical per identical
         ``scrubbed_text`` (one digest groupBy; dedup.py)
      13. near-dup dedup — MinHash-LSH pairs -> connected components ->
         canonical survivor per cluster (components.py); skipped when
         ``near_dup_threshold`` is None
      14. (``benchmark``) — eval-set decontamination on the scrubbed
         text (decontam.py broadcast gram probe)
      15. per-domain quota — portable-hash stratified cap of
         ``domain_quota`` docs per registrable host (sampling.py);
         the hot-domain bound, skipped when None
      16. (``mix_alpha``) — temperature-weighted source mixing by domain
         (mixing.py); flattens what the hard quota left skewed
      17. token-budget packing — ``bin_id`` per (lang, budget) context
         window over the surviving docs (sampling.py); skipped when None
      18. (``split_weights``) — emit a deterministic ``split`` column
         via ``sampling.split_corpus``, LAST: assigned after every
         filter so slice composition matches hashing the final corpus,
         and a doc that survives a re-curation keeps its slice

    Returns the curated frame with ``doc_key``, ``domain`` and (if
    packing) ``n_tokens``/``bin_id`` columns appended.  Stage order
    matters at scale: each stage shrinks the rows the next one shuffles,
    and the expensive near-dup pass runs only on quality-kept text.

    ``stage_metrics``: pass a dict to receive per-stage surviving row
    counts (the north-rule metrics surface at curation level — "which
    stage ate my corpus" answered mechanically).  Each enabled stage
    costs one extra count job PLUS a persist of the marked frame (the
    count is a second consumer — an unpersisted UDF-stage frame would
    re-run its whole Python stage for the downstream consumer, the
    CLAUDE.md multi-consumer rule), so this is an audit/debug mode, not
    the default; production runs log the same numbers from the written
    audit table instead.
    """
    from dqc_spark.cache import track as _mtrack
    from dqc_spark.components import keep_canonical
    from dqc_spark.dedup import dedup_exact, minhash_near_dups
    from dqc_spark.sampling import pack_token_budget, stratified_sample

    if line_dedup_unit not in ("line", "paragraph"):
        # validated up front, not inside the min_len branch — otherwise
        # a typo'd unit passes silently whenever dedup is off
        # (review finding)
        raise ValueError(
            f"line_dedup_unit must be 'line' or 'paragraph', "
            f"got {line_dedup_unit!r}")
    if line_dedup_unit != "line" and line_dedup_min_len is None:
        # a non-default unit with the stage disabled would LOOK like
        # paragraph dedup ran when it did not
        raise ValueError(
            "line_dedup_unit='paragraph' has no effect without "
            "line_dedup_min_len (the stage is disabled)")

    def _mark(stage: str, df: DataFrame) -> DataFrame:
        if stage_metrics is not None:
            df = _mtrack(df)
            stage_metrics[stage] = df.count()
        return df

    pages = _mark("input", pages)
    if blocked_domains is not None:
        from dqc_spark.urlops import domain_filter

        # before everything: a pure codegen filter (no shuffle) is the
        # cheapest possible row reduction, ahead of even the snapshot
        # anti-join
        pages = _mark("blocked_domains",
            domain_filter(pages, blocked_domains, url_col=key_col))
    if robots is not None:
        from dqc_spark.robots import robots_gate

        # policy drop right after the scan-level filters: the join
        # carries only url + the host's tiny rule arrays
        pages = _mark("robots", robots_gate(
            pages, robots, user_agent=robots_user_agent, url_col=key_col))
    if prior is not None:
        from dqc_spark.snapshot import new_docs

        pages = _mark("prior_snapshot", new_docs(pages, prior, text_col))
    if fix_encoding:
        # BEFORE normalize: the C1 controls cp1252's holes map through
        # are the repair's evidence, and normalize strips them
        # (encodingfix.py ordering contract)
        from dqc_spark.encodingfix import fix_mojibake_col

        pages = pages.withColumn(text_col, fix_mojibake_col(text_col))
    if normalize_text:
        from dqc_spark.normalize import normalized_col

        pages = pages.withColumn(text_col, normalized_col(F.col(text_col)))
    if line_dedup_min_len is not None:
        from dqc_spark.cache import track as _track
        from dqc_spark.linededup import dedup_lines

        # dropDuplicates on the content key FIRST: two byte-identical
        # rows (exact re-crawls) would otherwise share one __ldk, make
        # dedup_lines's collect_list rebuild every line twice, and the
        # join-back would fan the doubled text out — silently corrupted
        # output (review finding).  Exact row duplicates die later in
        # exact-dedup anyway; removing them here is pure reduction.
        # persisted: the keyed frame embeds the (optional) normalize
        # pandas UDF + prior anti-join and feeds BOTH dedup_lines and
        # the join-back left side.  Key rationale: _content_key.
        with_key = _track(
            pages.withColumn("__ldk", _content_key(key_col, text_col))
            .dropDuplicates(["__ldk"])
        )
        if line_dedup_unit == "line":
            sep, join_sep = "\n", None
        else:  # 'paragraph' (validated at function entry)
            # regex split (blank-line runs), literal rejoin
            sep, join_sep = r"\n{2,}", "\n\n"
        lded = dedup_lines(
            with_key, "__ldk", text_col,
            min_dup_len=line_dedup_min_len, sep=sep, join_sep=join_sep,
        )
        pages = (
            with_key.join(lded.select("__ldk", "text_dedup"), on="__ldk")
            .withColumn(text_col, F.col("text_dedup"))
            .drop("text_dedup", "__ldk")
        )
        pages = _mark("line_dedup", pages)

    if c4_line_clean:
        from dqc_spark.c4clean import c4_clean

        cleaned = c4_clean(pages, text_col=text_col)
        pages = (
            # NULL-text pages fail the gate here exactly like every
            # doc-level gate downstream (filter drops NULL predicates)
            cleaned.filter(F.col("keep"))
            .withColumn(text_col, F.col("clean_text"))
            .drop("clean_text", "n_sentences", "keep")
        )
        pages = _mark("c4_line_clean", pages)

    # ``lm``: a trained perplexity model (lmtrain.train_bigram_lm) for
    # the high-ppl gate — the CCNet loop (train on a trusted slice,
    # score the crawl); None keeps the default broadcast LM
    _ppl_kw = {} if max_ppl is None else {"max_ppl": max_ppl}
    ann = annotate(pages, text_col=text_col, thresholds=thresholds, lm=lm,
                   langid_model=langid_model, **_ppl_kw)
    # persist the annotated survivors: the frame embeds the fused Arrow
    # scoring UDF and feeds 4+ downstream consumers (exact-dedup winners
    # + semi join, minhash signatures, canonical anti-join) — without
    # this the whole scoring pass re-executes per consumer (measured 2x
    # end-to-end at 20k docs).  Cluster-scale equivalent: write the
    # annotated table once, curate from it.
    from dqc_spark.cache import track

    kept = track(
        ann.filter(F.col("keep")).withColumn("doc_key", F.xxhash64(key_col))
    )
    kept = _mark("quality_gates", kept)
    if toxic_words is not None:
        from dqc_spark.toxicity import toxicity_gate

        # after the heuristic gates (cheapest rows already gone); the
        # list broadcasts, scoring is one Arrow kernel, no shuffle
        kept = _mark("toxicity", toxicity_gate(
            kept, toxic_words, max_toxicity, text_col=text_col))
    # URL uniqueness (north-rule check, applied as a curation step): a
    # re-crawled url appears with several texts — keep ONE row per key,
    # deterministic winner by content digest (min md5).  Partitioned by
    # the key ITSELF, not doc_key: xxhash64 birthday collisions at the
    # 1e12-doc design scale (~n^2/2^65) would silently drop a DISTINCT
    # url here (the _content_key rationale); the window shuffles the
    # same rows either way, so exactness is free.  doc_key stays the
    # compact join handle for the dedup stages, where a collision only
    # perturbs winner election, never row identity.
    from pyspark.sql import Window as W

    w = W.partitionBy(key_col).orderBy(F.md5("scrubbed_text"))
    kept = (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    kept = _mark("url_dedup", kept)
    if repetition_thresholds:
        from dqc_spark.textstats import repetition_signals

        # stage 1b: Gopher repetition gates beyond the base feature set
        # (the fused scorer covers dup_line/dup_bigram; the full A1.1
        # n-gram suite runs HERE, on the already-gated survivors — the
        # expensive per-doc n-gram pass sees only kept rows).  A doc is
        # dropped when ANY named signal exceeds its threshold.
        sig = repetition_signals(kept, "doc_key", text_col="scrubbed_text")
        bad_cols = [k for k in repetition_thresholds if k not in sig.columns]
        if bad_cols:
            raise ValueError(
                f"unknown repetition signal(s) {bad_cols}; "
                f"available: {[c for c in sig.columns if c != 'doc_key']}")
        pred = None
        for name, thr in repetition_thresholds.items():
            c = F.col(name) > F.lit(float(thr))
            pred = c if pred is None else (pred | c)
        kept = _mark("repetition_gate", kept.join(
            sig.filter(pred).select("doc_key"), on="doc_key",
            how="left_anti"))
    kept = _mark("exact_dedup",
                 dedup_exact(kept, ["doc_key"], text_col="scrubbed_text"))
    if near_dup_threshold is not None:
        pairs = minhash_near_dups(
            kept, "doc_key", "scrubbed_text", threshold=near_dup_threshold
        )
        kept = _mark("near_dup", keep_canonical(kept, pairs, "doc_key"))
    if benchmark is not None:
        from dqc_spark.decontam import decontaminate
        from dqc_spark.scrub import scrubbed_col

        # the corpus side is scrubbed (and possibly normalized) text, so
        # the benchmark must pass through the SAME kernels before gram
        # extraction — raw eval grams spanning a scrubbed PII token or a
        # different unicode normal form would never match, letting
        # contaminated docs evade the filter (review finding)
        bench_prepped = benchmark
        if normalize_text:
            from dqc_spark.normalize import normalized_col

            bench_prepped = bench_prepped.withColumn(
                text_col, normalized_col(F.col(text_col))
            )
        bench_prepped = bench_prepped.withColumn(
            text_col, scrubbed_col(F.col(text_col))
        )
        kept = _mark("decontaminate", decontaminate(
            kept, bench_prepped, "doc_key", "scrubbed_text",
            n=decontam_ngram, max_frac=decontam_max_frac,
            bench_text_col=text_col,
        ))
    # domain via urlops.domain_of — the SAME host notion the blocklist
    # gate (stage 1) and domain stats use: lowercased, userinfo and
    # port stripped.  The previous raw regex kept `user@host:port`
    # intact, so userinfo-salted re-crawl urls fragmented the quota
    # strata and evaded the hot-domain cap — the exact evasion the r4
    # domain_of fix closed everywhere else (review finding).
    from dqc_spark.urlops import domain_of

    kept = kept.withColumn("domain", domain_of(key_col))
    if domain_quota is not None:
        kept = _mark("domain_quota",
                     stratified_sample(kept, "domain", "doc_key", domain_quota))
    if mix_alpha is not None:
        from dqc_spark.mixing import temperature_sample

        kept = _mark("temperature_mix",
                     temperature_sample(kept, "domain", "doc_key", mix_alpha))
    if pack_budget is not None:
        kept = pack_token_budget(
            kept, "lang", "doc_key", F.col("n_words"), pack_budget
        )
    if split_weights is not None:
        # LAST stage on purpose: the split is a pure function of the
        # key, so assigning it after every filter keeps each slice's
        # composition identical to hashing the final corpus — and a doc
        # that survives a re-curation keeps its slice (eval stays eval)
        from dqc_spark.sampling import split_corpus

        kept = split_corpus(kept, key_col, split_weights)
    return _mark("final", kept)


def document_gate_report(docs: DataFrame) -> DataFrame:
    """Flagship query for __spark_entry__.entry(): adapt the driver's
    ``documents`` table (doc_id, text, lang, source, n_chars) to the
    pages pipeline and return per-document gate decisions."""
    ann = annotate(docs, lang_col=None)
    cols = ["doc_id", "lang", "n_words", "stopword_ratio", "alpha_ratio",
            "dup_bigram_fraction", "lang_pred", "lang_conf", "ppl", "keep"]
    return ann.select(*[c for c in cols if c in ann.columns])
