"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY.md
§2 (the 21 reference checks + the web-text/training-data operators),
each running ``dqc_spark`` code so the differential judges the library;
``oracle_sql()`` gives the DuckDB-equivalent SQL for the differential
correctness gate.  Column names/aliases are kept identical between the
Spark and SQL sides; float aggregates are rounded to 4 decimals on both
sides so the order-insensitive value hash is stable across engines.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the document quality-gate pipeline on sf0.001 documents —
    per-document keep/drop with heuristic gate scores, one fused pass."""
    from dqc_spark.pipeline import document_gate_report

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    return document_gate_report(docs)


# ---------------------------------------------------------------------------
# the 21 checks, bound to TPC-H-ish tables (FIXTURES.md §2 bindings,
# adjusted so most queries return non-empty result sets)
# ---------------------------------------------------------------------------


def q_unique_violations(spark, sf):
    # #1 is_column_unique: duplicated VALUES of lineitem.l_orderkey
    from dqc_spark.checks import unique_violations

    li = _t(spark, sf, "lineitem")
    return unique_violations(li, "l_orderkey", with_counts=True)


def q_unique_pass(spark, sf):
    # #1 on a genuinely unique key: orders.o_orderkey -> 0 rows
    from dqc_spark.checks import unique_violations

    return unique_violations(_t(spark, sf, "orders"), "o_orderkey").select(
        F.col("o_orderkey")
    )


def q_not_null_summary(spark, sf):
    # #2 is_column_not_null on documents.text (zero-row-success fold)
    from dqc_spark.checks import not_null_pred

    docs = _t(spark, sf, "documents")
    return docs.agg(
        F.sum(F.when(not_null_pred("text"), 1).otherwise(0)).alias("error_count"),
        F.count(F.lit(1)).alias("total_rows"),
    )


def q_enum_violations(spark, sf):
    # #3 is_column_enum: documents.lang must be in {en,de,es,fr} -> zh rows
    from dqc_spark.checks import enum_pred

    docs = _t(spark, sf, "documents")
    return docs.filter(enum_pred("lang", ["en", "de", "es", "fr"])).select(
        "doc_id", "lang"
    )


def q_referential_violations(spark, sf):
    # #4 are_tables_referential_integral: orders ⋉ customer (0 rows = pass)
    from dqc_spark.checks import referential_violations

    orders = _t(spark, sf, "orders").withColumnRenamed("o_custkey", "c_custkey")
    cust = _t(spark, sf, "customer")
    return referential_violations(orders, cust.select("c_custkey"), ["c_custkey"]).select(
        "o_orderkey", "c_custkey"
    )


def q_between_violations(spark, sf):
    # #6 is_column_between: documents.n_chars outside [100, 5000]
    from dqc_spark.checks import between_pred

    docs = _t(spark, sf, "documents")
    return docs.filter(between_pred("n_chars", 100, 5000)).select("doc_id", "n_chars")


def q_regex_violations(spark, sf):
    # #7 is_column_regex_match: nation names not matching ^[A-Z]{6,}$
    from dqc_spark.checks import regex_pred

    nation = _t(spark, sf, "nation")
    return nation.filter(regex_pred("n_name", "^[A-Z]{6,}$")).select(
        "n_nationkey", "n_name"
    )


def q_type_violations(spark, sf):
    # #8 is_column_of_type: c_mktsegment as INTEGER -> every row violates
    from dqc_spark.checks import type_pred

    cust = _t(spark, sf, "customer")
    return cust.filter(type_pred("c_mktsegment", "INTEGER")).select(
        "c_custkey", "c_mktsegment"
    )


def q_length_violations(spark, sf):
    # #9 is_column_length_between: documents text length outside [100, 2000]
    from dqc_spark.checks import length_pred

    docs = _t(spark, sf, "documents")
    return docs.filter(length_pred("text", 100, 2000)).select(
        "doc_id", F.length("text").alias("text_len")
    )


def q_agg_bounds(spark, sf):
    # #10-13 max/min/mean/median on lineitem.l_extendedprice: one
    # CheckSuite, one fused pass.  The query reports the observed values
    # (rounded to 4 dp by Spark, as the oracle rounds), not the verdicts.
    from dqc_spark.suite import Check, CheckSuite

    li = _t(spark, sf, "lineitem")
    res = CheckSuite([
        Check.max_between("l_extendedprice", 0, 1e9),
        Check.min_between("l_extendedprice", 0, 1e9),
        Check.mean_between("l_extendedprice", 0, 1e9),
        Check.median_between("l_extendedprice", 0, 1e9),
    ]).run(li)
    names = ["max_price", "min_price", "mean_price", "median_price"]
    obs = spark.createDataFrame([tuple(r.observed for r in res)],
                                ", ".join(f"{n} double" for n in names))
    return obs.select(*(F.round(n, 4).alias(n) for n in names))


def q_check_completeness_freshness(spark, sf):
    # deequ-style extensions of the reference check surface, exercised
    # THROUGH the library (CheckSuite.run -> fused agg -> CheckResult):
    # completeness (NULL-fraction budget; not_null is its 0.0 special
    # case) and freshness (newest ts at/after a cutoff; the "did the
    # partition arrive" check).  Observed values are int-ratio /
    # microsecond-exact doubles -> raw-bit oracle compare; the pass
    # flags are threshold compares of those same doubles.
    from dqc_spark.suite import Check, CheckSuite

    ev = _t(spark, sf, "events")
    res = CheckSuite([
        Check.null_fraction_max("props", 0.9),       # generous: passes
        Check.null_fraction_max("event_id", 0.0),    # keys: no budget
        Check.freshness("ts", "2024-01-15T00:00:00"),  # mid-range: passes
        Check.freshness("ts", "2030-01-01T00:00:00"),  # future: fails
    ]).run(ev)
    return spark.createDataFrame(
        [(res[0].passed, res[0].observed,
          res[1].passed, res[1].observed,
          res[2].passed, res[3].passed, res[2].observed)],
        "props_ok boolean, props_null_frac double, "
        "event_id_ok boolean, event_id_null_frac double, "
        "fresh_ok boolean, future_ok boolean, max_ts_epoch double")


def q_date_format_errors(spark, sf):
    # #14 is_column_date_format: ISO date strings vs %Y-%m (all fail) and
    # %Y-%m-%d (all pass) — counts via the vectorized strptime UDF
    from dqc_spark.checks import date_format_violations

    orders = _t(spark, sf, "orders").select(
        F.col("o_orderdate").cast("date").cast("string").alias("d")
    )
    bad = date_format_violations(orders, "d", "%Y-%m").agg(
        F.count(F.lit(1)).alias("fmt_ym_errors")
    )
    good = date_format_violations(orders, "d", "%Y-%m-%d").agg(
        F.count(F.lit(1)).alias("fmt_ymd_errors")
    )
    return bad.crossJoin(good)


def q_row_counts(spark, sf):
    # #15 is_table_row_count_between: the observed count per table
    from dqc_spark.checks import row_count_between

    names = ["region", "nation", "customer", "orders", "lineitem", "documents"]
    return spark.createDataFrame(
        [(name, row_count_between(_t(spark, sf, name), 0, 2**62)[1])
         for name in names],
        "tbl string, n bigint")


def q_col_count(spark, sf):
    # #16 is_table_column_count_between: catalog op, no scan
    from dqc_spark.checks import column_count_between

    _, n = column_count_between(_t(spark, sf, "documents"), 1, 64)
    return spark.createDataFrame([(n,)], "n_cols bigint")


def q_not_in_set_violations(spark, sf):
    # #17 is_column_not_in_set: blocklisted sources {src0, src1}
    from dqc_spark.checks import not_in_set_pred

    docs = _t(spark, sf, "documents")
    return docs.filter(not_in_set_pred("source", ["src0", "src1"])).select(
        "doc_id", "source"
    )


def q_increasing_errors(spark, sf):
    # #18 is_column_increasing: l_linenumber against its predecessor in
    # (l_orderkey, l_linenumber) order, folded into one long order key
    # (l_linenumber is 1..7).  Rows that tie on the key (the test data
    # repeats some pairs) carry equal l_linenumber, so the count does not
    # depend on their order.  This is the CLI's --order-column path:
    # range partitions checked locally plus the seams between them.
    from dqc_spark.checks import count_increasing_violations_scalable

    li = _t(spark, sf, "lineitem").withColumn(
        "ord", F.col("l_orderkey") * 100 + F.col("l_linenumber"))
    n = count_increasing_violations_scalable(li, "l_linenumber", "ord")
    return spark.createDataFrame([(n,)], "error_count bigint")


def q_date_parseable_errors(spark, sf):
    # #19 is_column_date_parseable: nation names never parse as dates
    from dqc_spark.checks import date_parseable_pred

    nation = _t(spark, sf, "nation")
    return nation.agg(
        F.sum(F.when(date_parseable_pred("n_name"), 1).otherwise(0)).alias(
            "error_count"
        )
    )


def q_pair_equal_errors(spark, sf):
    # #20 are_column_pairs_equal: l_orderkey vs l_partkey (null-safe !=)
    from dqc_spark.checks import pair_not_equal_pred

    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.sum(
            F.when(pair_not_equal_pred("l_orderkey", "l_partkey"), 1).otherwise(0)
        ).alias("error_count")
    )


def q_distinct_not_in_set(spark, sf):
    # #21 are_distinct_values_in_set: distinct l_linestatus outside {O}
    from dqc_spark.checks import distinct_not_in_set_violations

    li = _t(spark, sf, "lineitem")
    return distinct_not_in_set_violations(li, "l_linestatus", ["O"])


# The contract's correctness gate records rows for only about the first
# 50 queries() entries, so DRIVER_ORDER is that window and TAIL_ORDER the
# rest; tools/oracle_check.py compares every registered query.
DRIVER_ORDER = [
    "check_unique_violations",
    "check_not_null",
    "check_referential",
    "check_agg_bounds",
    "check_completeness_freshness",
    "check_date_format",
    "check_increasing",
    "snapshot_score_drift",
    "dedup_soft_weights_neardup",
    "url_domain_filter",
    "url_dedup_canonical",
    "text_repetition",
    "text_repetition_ngrams",
    "text_quality_scores",
    "text_langid_heuristic",
    "text_c4_line_filter",
    "text_tokens_unicode",
    "url_domain_blocklist",
    "metric_anomaly_days",
    "attr_refilter",
    "attr_tag_regate",
    "langid_train_profile",
    "warc_ingest",
    "text_fix_mojibake",
    "robots_gate_verdicts",
    "order_shard_assign",
    "text_toxicity_scores",
    "pack_fixed_sequences",
    "check_between",
    "html_main_content",
    "wet_ingest",
    "dedup_priority_keep",
    "dedup_canonical_priority",
    "mix_epoch_expand",
    "snaptable_diff",
    "corpus_report_by_lang",
    "text_structure_signals",
    "text_pii_spans",
    "gate_threshold_calibration",
    "dedup_incremental_near",
]

TAIL_ORDER = [
    "check_regex",
    "check_type",
    "check_row_counts",
    "check_col_count",
    "check_pair_equal",
    "check_column_exists",
    "check_enum",
    "check_length",
    "check_distinct_in_set",
    "check_not_in_set",
    "check_date_parseable",
    "eval_split_leakage",
    "dedup_ngram_jaccard",
    "text_cdc_chunks",
    "url_canonicalize",
    "url_domain_stats",
    "html_extract_text",
    "lm_word_counts",
    "lm_bigram_counts",
    "snapshot_drift_by_source",
    "pack_first_fit_bins",
    "dedup_soft_weights",
    "snapshot_source_overlap",
    "text_kn_perplexity",
    "sample_split_corpus",
    "dedup_simhash_near_dups",
    "check_unique_pass",
    "pipeline_curate",
    "dedup_components",
    "text_fingerprints",
    "text_top_ngrams",
    "olap_events_windowed",
    "text_decontaminate",
    "sample_hash_10pct",
    "sample_stratified_quota",
    "pack_token_budget",
    "text_chunks",
    "dedup_keep_canonical",
    "snapshot_new_docs",
    "text_normalize_nfc",
    "order_training_positions",
    "text_compression_ratio",
    "text_line_dedup",
    "mix_temperature_sample",
    "profile_documents",
    "profile_histogram_nchars",
    "dedup_exact_groups",
    "dedup_minhash_near_dups",
    "text_token_counts",
]


def _reorder(d: dict) -> dict:
    out = {k: d[k] for k in DRIVER_ORDER if k in d}
    out.update({k: v for k, v in d.items()
                if k not in out and k not in TAIL_ORDER})
    out.update({k: d[k] for k in TAIL_ORDER if k in d})
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "check_unique_violations": q_unique_violations,
        "check_unique_pass": q_unique_pass,
        "check_not_null": q_not_null_summary,
        "check_enum": q_enum_violations,
        "check_referential": q_referential_violations,
        "check_between": q_between_violations,
        "check_regex": q_regex_violations,
        "check_type": q_type_violations,
        "check_length": q_length_violations,
        "check_agg_bounds": q_agg_bounds,
        "check_completeness_freshness": q_check_completeness_freshness,
        "check_date_format": q_date_format_errors,
        "check_row_counts": q_row_counts,
        "check_col_count": q_col_count,
        "check_not_in_set": q_not_in_set_violations,
        "check_increasing": q_increasing_errors,
        "check_date_parseable": q_date_parseable_errors,
        "check_pair_equal": q_pair_equal_errors,
        "check_distinct_in_set": q_distinct_not_in_set,
    }
    from dqc_spark.entry_ext import extra_queries

    out.update(extra_queries())
    return _reorder(out)


def oracle_sql() -> dict[str, str]:
    out = {
        "check_unique_violations": """
            SELECT l_orderkey, COUNT(*) AS n FROM lineitem
            GROUP BY l_orderkey HAVING COUNT(*) > 1
        """,
        "check_unique_pass": """
            SELECT o_orderkey FROM orders
            GROUP BY o_orderkey HAVING COUNT(*) > 1
        """,
        "check_not_null": """
            -- CAST: DuckDB SUM over ints is HUGEINT -> float64 in pandas,
            -- while Spark's sum is int64; the value hash distinguishes
            -- 0 from 0.0 (CORRECTNESS_r01 root cause)
            SELECT CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS error_count,
                   COUNT(*) AS total_rows
            FROM documents
        """,
        "check_enum": """
            SELECT doc_id, lang FROM documents
            WHERE lang NOT IN ('en','de','es','fr') AND lang IS NOT NULL
        """,
        "check_referential": """
            SELECT o.o_orderkey, o.o_custkey AS c_custkey
            FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL
        """,
        "check_between": """
            SELECT doc_id, n_chars FROM documents
            WHERE n_chars < 100 OR n_chars > 5000
        """,
        "check_regex": """
            SELECT n_nationkey, n_name FROM nation
            WHERE NOT regexp_matches(n_name, '^[A-Z]{6,}$') AND n_name IS NOT NULL
        """,
        "check_type": """
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE TRY_CAST(c_mktsegment AS INTEGER) IS NULL
              AND c_mktsegment IS NOT NULL
        """,
        "check_length": """
            SELECT doc_id, length(text) AS text_len FROM documents
            WHERE length(text) < 100 OR length(text) > 2000
        """,
        "check_completeness_freshness": """
            SELECT
              AVG(CAST(props IS NULL AS INT)) <= 0.9 AS props_ok,
              AVG(CAST(props IS NULL AS INT)) AS props_null_frac,
              AVG(CAST(event_id IS NULL AS INT)) <= 0.0 AS event_id_ok,
              AVG(CAST(event_id IS NULL AS INT)) AS event_id_null_frac,
              CAST(epoch(MAX(ts)) AS DOUBLE)
                >= epoch(TIMESTAMP '2024-01-15 00:00:00') AS fresh_ok,
              CAST(epoch(MAX(ts)) AS DOUBLE)
                >= epoch(TIMESTAMP '2030-01-01 00:00:00') AS future_ok,
              CAST(epoch(MAX(ts)) AS DOUBLE) AS max_ts_epoch
            FROM events
        """,
        "check_agg_bounds": """
            SELECT ROUND(MAX(l_extendedprice), 4) AS max_price,
                   ROUND(MIN(l_extendedprice), 4) AS min_price,
                   ROUND(AVG(l_extendedprice), 4) AS mean_price,
                   ROUND(MEDIAN(l_extendedprice), 4) AS median_price
            FROM lineitem
        """,
        "check_date_format": """
            SELECT
              (SELECT COUNT(*) FROM orders
               WHERE try_strptime(CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
                                  '%Y-%m') IS NULL) AS fmt_ym_errors,
              (SELECT COUNT(*) FROM orders
               WHERE try_strptime(CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
                                  '%Y-%m-%d') IS NULL) AS fmt_ymd_errors
        """,
        "check_row_counts": """
            SELECT 'region' AS tbl, COUNT(*) AS n FROM region
            UNION ALL SELECT 'nation', COUNT(*) FROM nation
            UNION ALL SELECT 'customer', COUNT(*) FROM customer
            UNION ALL SELECT 'orders', COUNT(*) FROM orders
            UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
            UNION ALL SELECT 'documents', COUNT(*) FROM documents
        """,
        "check_col_count": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_cols
            FROM (DESCRIBE SELECT * FROM documents)
        """,
        "check_not_in_set": """
            SELECT doc_id, source FROM documents
            WHERE source IN ('src0','src1')
        """,
        "check_increasing": """
            SELECT COUNT(*) AS error_count FROM (
              SELECT l_linenumber,
                     LAG(l_linenumber) OVER (
                       ORDER BY l_orderkey * 100 + l_linenumber) AS prev
              FROM lineitem
            ) WHERE l_linenumber <= prev
        """,
        "check_date_parseable": """
            SELECT CAST(SUM(CASE WHEN TRY_CAST(n_name AS DATE) IS NULL
                             AND n_name IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS error_count
            FROM nation
        """,
        "check_pair_equal": """
            SELECT CAST(SUM(CASE WHEN l_orderkey IS DISTINCT FROM l_partkey
                            THEN 1 ELSE 0 END) AS BIGINT) AS error_count
            FROM lineitem
        """,
        "check_distinct_in_set": """
            SELECT DISTINCT l_linestatus FROM lineitem
            WHERE l_linestatus NOT IN ('O') AND l_linestatus IS NOT NULL
        """,
    }
    from dqc_spark.entry_ext import extra_oracle_sql

    out.update(extra_oracle_sql())
    return out
