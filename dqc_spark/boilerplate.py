"""Per-domain boilerplate line removal (template stripping).

Corpus-level line dedup (``linededup.py``) keeps the FIRST occurrence of
every duplicated line — right for content, wrong for templates: the one
surviving "Cookie settings | Privacy | Terms" line is still junk.  The
standard template-stripping move (CCNet's per-shard paragraph filter,
trafilatura's site-level heuristics) is statistical and *scoped*: a line
that appears on a large fraction of the SAME site's pages is part of the
site template — navigation, footer, cookie banner — and should be
removed from EVERY page of that site, while the identical line on an
unrelated site (where it is rare) is left alone.

Semantics: within each group (normally the registered domain from
``urlops.domain_of``), a line is boilerplate iff

  * ``length(line) >= min_len``                    (tiny lines exempt),
  * the group has at least ``min_pages`` pages     (no stats, no verdict),
  * pages-in-group containing the line >= ``max_frac`` * group pages,
    counted ONCE per page however often the page repeats it.

All occurrences of a boilerplate line are removed from all of the
group's pages.  Lines in a NULL group are always kept (boilerplate is a
property of a site; without one there is no template to attribute).

Scale design (1000-executor / 100 TB framing):

  * Line text never shuffles for the verdict: frequencies are counted
    over 16-byte md5 digests (raw-line equality up to collisions — the
    same documented contract as ``linededup``).
  * Page counts per (group, line) go through a DISTINCT on
    (group, digest, key) — map-side partial distinct collapses a page's
    internal repeats before the exchange, so a footer repeated 50x on
    one page costs one shuffled row.
  * The per-group page-count table is one row per group; AQE broadcasts
    it into the frequency join.
  * The threshold is integer cross-multiplied (parts-per-million), so
    no float ratio ever crosses an engine or a comparison boundary.
  * The verdict frame (group, digest) is tiny — broadcast anti-joined
    back to the exploded lines; the rebuild is the same JVM-side
    array_sort + concat_ws as ``dedup_lines``.
  * The exploded-lines frame feeds three consumers (verdict counts,
    anti-join, per-doc totals) and is persisted once (CLAUDE.md rule).

Reference scope note: the reference (josephmachado/data_quality_checker)
has no text operators; this extends the §2.5 training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dqc_spark.cache import track
from dqc_spark.linededup import explode_lines, rebuild_docs, resolve_join_sep

# parts-per-million quantization for the frequency threshold: both
# engines compare pure int64 products, never a float ratio
_DENOM = 1_000_000


def _lines_with_group(df, key_col, group_col, text_col, sep):
    """explode_lines with the group column carried per line — replicated
    in the SAME map-side explode (a join-back by key would shuffle the
    exploded line text, exactly what the digest design avoids)."""
    return explode_lines(
        df.withColumn("__g", F.col(group_col)),
        key_col, text_col, sep, carry=("__g",),
    )


def _group_pages(df, group_col, min_pages):
    """(group, page count) for groups with enough pages to judge."""
    return (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(F.count(F.lit(1)).alias("__gp"))
        .filter(F.col("__gp") >= min_pages)
    )


def _verdicts(lines, group_pages, max_frac, min_len):
    """(group, digest, pages-with-line, group-pages) boilerplate rows
    from an exploded-lines frame."""
    frac_q = int(round(max_frac * _DENOM))
    line_pages = (
        lines.filter(
            (F.length("line") >= min_len) & F.col("__g").isNotNull()
        )
        .select("__g", F.md5("line").alias("__h"), "key")
        .distinct()
        .groupBy("__g", "__h")
        .agg(F.count(F.lit(1)).alias("__np"))
    )
    return line_pages.join(group_pages, on="__g").filter(
        F.col("__np") * _DENOM >= F.lit(frac_q) * F.col("__gp")
    )


def _validate(max_frac, min_pages):
    if not 0.0 < max_frac <= 1.0:
        raise ValueError(f"max_frac must be in (0, 1], got {max_frac}")
    if min_pages < 1:
        raise ValueError(f"min_pages must be >= 1, got {min_pages}")


def boilerplate_lines(
    df: DataFrame,
    key_col: str,
    group_col: str,
    text_col: str = "text",
    sep: str = "\n",
    max_frac: float = 0.5,
    min_pages: int = 4,
    min_len: int = 4,
) -> DataFrame:
    """The verdict frame alone: one row per (group, line-digest) judged
    boilerplate, with its evidence counts.  Exposed so callers can audit
    WHAT would be stripped (the attribute-store pattern) without paying
    for the rebuild."""
    _validate(max_frac, min_pages)
    lines = _lines_with_group(df, key_col, group_col, text_col, sep)
    return _verdicts(
        lines, _group_pages(df, group_col, min_pages), max_frac, min_len
    ).select(
        F.col("__g").alias(group_col),
        F.col("__h").alias("line_md5"),
        F.col("__np").alias("n_pages_with_line"),
        F.col("__gp").alias("group_pages"),
    )


def remove_boilerplate(
    df: DataFrame,
    key_col: str,
    group_col: str,
    text_col: str = "text",
    sep: str = "\n",
    join_sep: str | None = None,
    max_frac: float = 0.5,
    min_pages: int = 4,
    min_len: int = 4,
) -> DataFrame:
    """Rebuild each document with its group's boilerplate lines removed:
    (key_col, group_col, text_clean, n_lines, n_lines_kept).

    ``sep`` is a Java REGEX for splitting, ``join_sep`` the LITERAL
    rejoin separator — same contract (and same guard) as
    ``linededup.dedup_lines``.
    """
    _validate(max_frac, min_pages)
    join_sep = resolve_join_sep(sep, join_sep)
    lines = track(_lines_with_group(df, key_col, group_col, text_col, sep))
    verdicts = _verdicts(
        lines, _group_pages(df, group_col, min_pages), max_frac, min_len
    ).select("__g", "__h")
    judged = lines.withColumn(
        "__h", F.when(F.length("line") >= min_len, F.md5("line"))
    )
    # NULL __h (exempt short lines) / NULL __g never equal a verdict row
    # under anti-join's null-unsafe equality -> always kept, by design
    kept = judged.join(verdicts, on=["__g", "__h"], how="left_anti")
    rebuilt = rebuild_docs(kept, join_sep, "text_clean")
    totals = lines.groupBy("key", "__g").agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    return totals.join(rebuilt, on="key", how="left").select(
        F.col("key").alias(key_col),
        F.col("__g").alias(group_col),
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        "n_lines",
        F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
    )
