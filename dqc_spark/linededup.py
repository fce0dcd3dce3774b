"""Corpus-level line/paragraph deduplication (CCNet / C4-style).

Web pages share enormous amounts of line-level boilerplate — navigation
labels, cookie banners, footers — that per-document gates can't see
(each COPY looks fine; the corpus-wide repetition is the problem).
CCNet deduplicates at the paragraph-hash level across the whole corpus;
C4 removes repeated three-sentence spans.  This operator implements the
exact-unit variant: every distinct line (or paragraph) is kept at its
FIRST occurrence in corpus order and dropped everywhere else, then the
documents are rebuilt from their surviving lines.

Scale design (what breaks naive spellings at 100 TB):

  * The tempting ``row_number() OVER (PARTITION BY line_hash)`` plans a
    window whose hot partitions are the mega-duplicated lines ("Home",
    "", cookie text) — millions of rows landing on one task.  Instead
    the winner per hash is ``min(struct(key, line_no))`` — a partial-
    aggregatable groupBy, so hot hashes are combined map-side and the
    exchange carries one row per (hash, partial); skew never
    concentrates.
  * Lines are shuffled as 16-byte md5 digests + two longs; the line
    TEXT itself never shuffles for the winner election (the rebuild
    joins winners back to the exploded frame by digest+position).
  * Rebuild is one groupBy over the document key: collect surviving
    (line_no, line) structs, array_sort, concat_ws — all JVM-side.

``min_dup_len`` exempts short lines from corpus dedup: dropping every
second occurrence of "" or "1." mangles documents for no curation win
(matching CCNet, which only hashes paragraphs above a length floor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dqc_spark.cache import track


def explode_lines(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """(key, line_no, line) — one row per line, position preserved.
    NULL text is treated as the empty document (one empty line) so the
    key still round-trips through the rebuild; ``sep`` is a Java regex
    (the default matches literal newlines)."""
    return df.select(
        F.col(key_col).alias("key"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
        ).alias("line_no", "line"),
    )


def resolve_join_sep(sep: str, join_sep: str | None) -> str:
    """The split/rebuild separator contract of ``dedup_lines``:
    ``sep`` is a Java REGEX for splitting, ``join_sep`` the LITERAL
    rejoin string.  ``join_sep=None`` defaults to ``sep`` only when
    ``sep`` is literal-safe — regex-mode callers (``sep=r'\\n{2,}'``)
    must pass the literal or the rebuild would glue lines with the
    regex source text."""
    if join_sep is not None:
        return join_sep
    if any(ch in sep for ch in r"\^$.|?*+()[]{}") and sep != "\n":
        raise ValueError(
            f"sep {sep!r} is a regex; pass join_sep= with the literal "
            "separator to rebuild documents with"
        )
    return sep


def rebuild_docs(kept: DataFrame, join_sep: str, out_col: str) -> DataFrame:
    """(key, n_lines_kept, <out_col>) from a kept-lines frame — one
    groupBy over the document key: collect surviving (line_no, line)
    structs, array_sort, concat_ws, all JVM-side."""
    return kept.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_lines_kept"),
        F.concat_ws(
            join_sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
        ).alias(out_col),
    )


def dedup_lines(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    sep: str = "\n",
    min_dup_len: int = 10,
    join_sep: str | None = None,
) -> DataFrame:
    """Rebuild each document with corpus-duplicate lines removed:
    (key, text_dedup, n_lines, n_lines_kept).

    A line survives iff it is shorter than ``min_dup_len`` (exempt) or
    its (key, line_no) is the corpus-first occurrence of that exact
    line.  'First' = smallest (key, line_no) — deterministic, not
    partition-order-dependent.

    ``sep`` is a Java REGEX for splitting; ``join_sep`` is the LITERAL
    string the surviving lines are rejoined with.  When ``join_sep`` is
    None it defaults to ``sep`` only if ``sep`` is literal-safe (no
    regex metacharacters) — paragraph-mode callers (``sep=r'\\n{2,}'``)
    must pass an explicit literal (e.g. ``'\\n\\n'``) or the rebuild
    would glue paragraphs with the regex source text.
    """
    join_sep = resolve_join_sep(sep, join_sep)
    lines = explode_lines(df, key_col, text_col, sep)
    # persisted: the exploded frame feeds THREE consumers (winner
    # election + exempt branch + per-doc totals) — without a persist the
    # split/posexplode of the full corpus re-runs per consumer
    lines = track(lines)
    dedupable = lines.filter(F.length("line") >= min_dup_len).withColumn(
        "__h", F.md5("line")
    )
    # winner per line digest: skew-safe partial-aggregatable min
    winners = (
        dedupable.select("__h", F.struct("key", "line_no").alias("__pos"))
        .groupBy("__h")
        .agg(F.min("__pos").alias("__pos"))
        .select(
            "__h",
            F.col("__pos.key").alias("key"),
            F.col("__pos.line_no").alias("line_no"),
        )
    )
    survivors_long = dedupable.join(
        winners, on=["__h", "key", "line_no"], how="left_semi"
    ).drop("__h")
    exempt = lines.filter(F.length("line") < min_dup_len)
    kept = survivors_long.unionByName(exempt)
    rebuilt = rebuild_docs(kept, join_sep, "text_dedup")
    totals = lines.groupBy("key").agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        totals.join(rebuilt, on="key", how="left")
        .select(
            F.col("key").alias(key_col),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            "n_lines",
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
        )
    )
