"""The 21 data-quality checks, re-expressed as Catalyst predicates.

Reference semantics: every check in
``/root/reference/internal/checker/checker.go`` builds one DuckDB SQL
string of the shape ``SELECT COUNT(*) FROM (<violation query>)`` and
passes iff the count is zero ("zero-row success", README.md:10).  The
violation predicates below are line-by-line parity mappings (citations
per function); the architecture is not — instead of one fresh engine
connection + full file scan per check (checker.go:52 et al., x21), each
check here is:

  * a ``Column`` **predicate** (``*_pred``) usable standalone or fused —
    a whole suite of checks on one table compiles to ONE scan with a
    single partial+final aggregate (see suite.CheckSuite), and
  * a **violation DataFrame** builder (``*_violations``) so callers can
    inspect offending rows lazily — a capability the reference discards
    by wrapping everything in COUNT(*).

NULL semantics are preserved exactly (enum/regex/set/range checks pass
NULLs because the SQL predicate evaluates to NULL; not-null and
referential checks count them).
"""

from __future__ import annotations

import datetime as _dt
import re as _re
from dataclasses import dataclass, field
from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# DuckDB type-name -> Spark type-name mapping (reference passes DuckDB type
# names verbatim, main.go:732 "e.g., INTEGER, VARCHAR, DATE")
# ---------------------------------------------------------------------------

DUCKDB_TO_SPARK_TYPE: dict[str, str] = {
    "TINYINT": "tinyint",
    "SMALLINT": "smallint",
    "INTEGER": "int",
    "INT": "int",
    "INT4": "int",
    "BIGINT": "bigint",
    "INT8": "bigint",
    "HUGEINT": "decimal(38,0)",
    "REAL": "float",
    "FLOAT": "float",
    "DOUBLE": "double",
    "DECIMAL": "decimal(38,18)",
    "NUMERIC": "decimal(38,18)",
    "VARCHAR": "string",
    "TEXT": "string",
    "STRING": "string",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "DATETIME": "timestamp",
    "TIME": "string",
    "BOOLEAN": "boolean",
    "BOOL": "boolean",
    "BLOB": "binary",
    "BYTEA": "binary",
}


# canonical text form of a UUID (what DuckDB's TRY_CAST(... AS UUID)
# accepts, modulo case); Spark has no UUID type so #8 special-cases it
UUID_RE = (
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    "-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
)


def _qident(name: str) -> str:
    """Backtick-quote a column name for embedding in a SQL-string
    expression (``F.expr``): '.' in a CSV header must not parse as
    nested-field access, and spaces/quotes must not break (or inject
    into) the generated expression.  Same contract as profile._qcol."""
    return "`" + name.replace("`", "``") + "`"


def spark_type_name(duckdb_type: str) -> str:
    """DuckDB type name -> Spark DDL type name.

    The reference passes ANY type name verbatim into its engine's
    TRY_CAST (/root/reference/cmd/dqc/main.go:732), so unknown names
    must not be rejected up front: after the alias map, DuckDB's list
    shorthand (``T[]``), and parameterized DECIMAL/NUMERIC, any
    remaining name is handed to Spark's own DDL parser and accepted iff
    Spark can cast to it — same "the engine decides" contract."""
    t = duckdb_type.strip()
    u = t.upper()
    if u in DUCKDB_TO_SPARK_TYPE:
        return DUCKDB_TO_SPARK_TYPE[u]
    if u.endswith("[]"):  # DuckDB list shorthand: INTEGER[] etc.
        return f"array<{spark_type_name(t[:-2])}>"
    if u.startswith(("DECIMAL(", "NUMERIC(")):
        return "decimal" + t[t.index("(") :]
    if u == "INTERVAL":
        # DuckDB INTERVAL covers day-time strings; closest Spark ANSI
        # interval.  Accepted literal FORMATS differ between engines —
        # documented divergence, pinned in tests/test_checks.py.
        return "interval day to second"
    try:  # verbatim passthrough: let Spark's DDL parser rule
        T.StructType.fromDDL(f"__probe {t}")
        return t
    except Exception:
        raise ValueError(
            f"type name not recognized by the alias map or Spark's DDL "
            f"parser: {duckdb_type!r}"
        ) from None


# ---------------------------------------------------------------------------
# Result model
# ---------------------------------------------------------------------------


@dataclass
class CheckResult:
    """One check outcome.

    ``passed`` mirrors the reference's ``result := errorCount == 0``
    (checker.go:70 and siblings); aggregate checks (max/min/mean/median)
    instead record the ``observed`` scalar and range-compare it in the
    driver, exactly like the Go code compares in-process
    (checker.go:430-435).
    """

    check_type: str
    passed: bool
    error_count: int | None = None
    observed: float | None = None
    params: dict[str, str] = field(default_factory=dict)


# ---------------------------------------------------------------------------
# Row-level violation predicates (Column builders).
# Each returns a BooleanType Column that is True for a VIOLATING row.
# ---------------------------------------------------------------------------


def not_null_pred(column: str) -> Column:
    """#2 check-not-null: violation iff ``c IS NULL``
    (checker.go:97-98)."""
    return F.col(column).isNull()


def enum_pred(column: str, allowed: Sequence) -> Column:
    """#3 check-enum: ``c NOT IN (...) AND c IS NOT NULL`` — NULLs pass
    (checker.go:140-142)."""
    c = F.col(column)
    return (~c.isin(list(allowed))) & c.isNotNull()


def between_pred(column: str, lo: float, hi: float) -> Column:
    """#6 check-between: ``c < min OR c > max`` — NULL predicate => NULLs
    pass (checker.go:276-277)."""
    c = F.col(column)
    return (c < F.lit(lo)) | (c > F.lit(hi))


def to_re2_compatible(pattern: str) -> str:
    """Validate ``pattern`` against the RE2/Java common subset and
    normalize RE2-only spellings to their Java equivalents.

    The reference promises RE2 semantics (/root/reference/README.md:33);
    Spark ``rlike`` is Java regex.  Java silently ACCEPTS constructs RE2
    rejects (backreferences, lookaround, possessive quantifiers), so a
    pattern using them would pass here but error on the reference — we
    reject them with a clear message instead of silently diverging.
    RE2's ``(?P<name>...)`` group spelling is rewritten to Java's
    ``(?<name>...)``.  Escapes and character classes are honored, so
    e.g. ``\\1`` (literal backslash-1) and ``[+]`` are not false hits.
    """
    out: list[str] = []
    i, n, in_class = 0, len(pattern), False
    while i < n:
        ch = pattern[i]
        if ch == "\\":
            nxt = pattern[i + 1] if i + 1 < n else ""
            if not in_class and (nxt.isdigit() and nxt != "0" or nxt == "k"):
                raise ValueError(
                    f"pattern {pattern!r} uses a backreference (\\{nxt}); "
                    "not valid RE2 — the reference engine rejects it"
                )
            out.append(pattern[i : i + 2])
            i += 2
            continue
        if in_class:
            if ch == "]":
                in_class = False
            out.append(ch)
            i += 1
            continue
        if ch == "[":
            in_class = True
            out.append(ch)
            i += 1
            continue
        if ch == "(" and pattern.startswith("(?", i):
            for bad in ("(?=", "(?!", "(?<=", "(?<!"):
                if pattern.startswith(bad, i):
                    raise ValueError(
                        f"pattern {pattern!r} uses lookaround ({bad}...); "
                        "not valid RE2 — the reference engine rejects it"
                    )
            if pattern.startswith("(?P<", i):
                out.append("(?<")  # RE2 named-group spelling -> Java
                i += 4
                continue
        if ch == "+" and out and (
            out[-1] in ("*", "+", "?")
            # '}' counts only when it actually closes a {m[,n]} counted
            # quantifier — an unmatched '}' is a LITERAL in both RE2 and
            # Java ('x}+' is valid), so don't reject it
            or (out[-1] == "}"
                and _re.search(r"\{\d+(,\d*)?\}$", "".join(out)))
        ):
            raise ValueError(
                f"pattern {pattern!r} uses a possessive quantifier "
                f"({out[-1]}+); not valid RE2 — the reference engine "
                "rejects it"
            )
        out.append(ch)
        i += 1
    return "".join(out)


def regex_pred(column: str, pattern: str) -> Column:
    """#7 check-regex: ``NOT regexp_matches(c, re) AND c IS NOT NULL``.

    DuckDB regexp_matches is *search* (partial match) semantics in RE2
    (checker.go:314-316, README.md:33); Spark ``rlike`` is also
    search-not-fullmatch over Java regex.  Patterns are validated into
    the RE2/Java common subset by ``to_re2_compatible`` — Java-only
    constructs RE2 would reject raise immediately instead of silently
    diverging from the reference.
    """
    c = F.col(column)
    return (~c.rlike(to_re2_compatible(pattern))) & c.isNotNull()


def type_pred(column: str, duckdb_type: str) -> Column:
    """#8 check-type: ``TRY_CAST(c AS T) IS NULL AND c IS NOT NULL``
    (checker.go:352-354); DuckDB type name mapped to Spark.

    UUID is special-cased: Spark has no UUID type, so validity is the
    canonical 8-4-4-4-12 hex form (what DuckDB's cast accepts)."""
    c = F.col(_qident(column))
    if duckdb_type.strip().upper() == "UUID":
        return (~c.cast("string").rlike(UUID_RE)) & c.isNotNull()
    t = spark_type_name(duckdb_type)
    if t.startswith(("array<", "struct<", "map<")):
        # Spark has no string->collection cast; DuckDB parses the text
        # form.  from_json is the Spark equivalent: NULL on malformed
        # input, like TRY_CAST (element-level coercion failures yield
        # null ELEMENTS, not a null value — documented divergence).
        return F.from_json(c.cast("string"), t).isNull() & c.isNotNull()
    return F.expr(f"try_cast({_qident(column)} AS {t})").isNull() & c.isNotNull()


def length_pred(column: str, lo: int, hi: int) -> Column:
    """#9 check-length: ``length(c) < min OR length(c) > max`` (char
    length; NULLs pass) (checker.go:389-391)."""
    ln = F.length(F.col(column))
    return (ln < F.lit(lo)) | (ln > F.lit(hi))


def not_in_set_pred(column: str, blacklist: Sequence) -> Column:
    """#17 check-not-in-set: violation iff ``c IN (blacklist)`` — NULLs
    pass (IN on NULL is NULL) (checker.go:687-689)."""
    return F.col(column).isin(list(blacklist))


def date_parseable_pred(column: str) -> Column:
    """#19 check-date-parseable: ``TRY_CAST(c AS DATE) IS NULL AND c IS
    NOT NULL`` (checker.go:765-767).

    Dialect note: Spark's try_cast->date accepts a slightly wider ISO
    family than DuckDB's; conformance tests pin the common subset
    (ISO ``YYYY-MM-DD`` accepted, ``MM/DD/YYYY`` rejected).
    """
    c = F.col(_qident(column))
    return F.expr(f"try_cast({_qident(column)} AS date)").isNull() & c.isNotNull()


def pair_not_equal_pred(col_a: str, col_b: str) -> Column:
    """#20 check-pair-equal: violation iff not null-safe-equal — both
    NULL counts as equal (checker.go:801-803).  Exactly ``NOT (a <=> b)``.
    """
    return ~F.col(col_a).eqNullSafe(F.col(col_b))


# ---------------------------------------------------------------------------
# Violation-set builders (DataFrame level)
# ---------------------------------------------------------------------------


def unique_violations(
    df: DataFrame, column: str, with_counts: bool = False
) -> DataFrame:
    """#1 check-unique: duplicated VALUES (not rows):
    ``SELECT c FROM t GROUP BY c HAVING COUNT(*) > 1`` (checker.go:60-61).
    NULLs group together, so two NULLs are a duplicate — Spark groupBy
    has identical NULL-grouping semantics.  ``with_counts=True`` keeps
    the duplicate multiplicity as column ``n``.

    Physical plan: partial hash agg per partition -> shuffle on c ->
    final agg; AQE coalesces/splits at runtime.  count(lit(1)) counts
    NULL-key rows (count(c) would not).
    """
    out = (
        df.groupBy(column)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    return out if with_counts else out.select(column)


def referential_violations(
    left: DataFrame, right: DataFrame, keys: Sequence[str], broadcast: bool = True
) -> DataFrame:
    """#4 check-references: left rows with no multi-key match in the
    reference table.  The reference builds
    ``LEFT JOIN ref r ON l.k=r.k ... WHERE r.k IS NULL`` (checker.go:
    184-199); NULL left keys never match and are counted as violations —
    Spark ``left_anti`` has identical semantics including NULL keys.

    ``broadcast=True`` hints BHJ for small dimension tables (the common
    shape: fact vs. dimension); at scale AQE will also convert SMJ->BHJ
    when the built side is small enough at runtime.
    """
    r = F.broadcast(right) if broadcast else right
    return left.join(r, on=list(keys), how="left_anti")


def distinct_not_in_set_violations(
    df: DataFrame, column: str, allowed: Sequence
) -> DataFrame:
    """#21 check-distinct-in-set: DISTINCT violating VALUES
    (checker.go:844-846) — same predicate as #3, error_count counts
    distinct values instead of rows."""
    c = F.col(column)
    return df.filter((~c.isin(list(allowed))) & c.isNotNull()).select(column).distinct()


def increasing_violations(
    df: DataFrame, column: str, order_column: str | None = None
) -> DataFrame:
    """#18 check-increasing: violation iff ``c <= LAG(c) OVER ()`` —
    strictly increasing, ties fail (checker.go:725-730).

    The reference's window has no PARTITION/ORDER and leans on DuckDB's
    stable file-scan order.  Spark has no stable scan order, so an
    explicit ``order_column`` is required for distributed data; if it is
    None we fall back to a 1-partition ``monotonically_increasing_id``
    read order (parity mode for small files ONLY — documented
    divergence).

    A single global Window.orderBy is a 1-reducer bottleneck; this
    builder exists for parity and small data.  For scale use
    ``count_increasing_violations_scalable`` (partition-local check +
    boundary-seam exchange, no global sort).
    """
    if order_column is None:
        df = df.coalesce(1).withColumn("__ord", F.monotonically_increasing_id())
        order_column = "__ord"
    w = Window.orderBy(order_column)
    return (
        df.withColumn("__lag", F.lag(column).over(w))
        .filter(F.col(column) <= F.col("__lag"))
        .drop("__lag", "__ord")
    )


def count_increasing_violations_scalable(
    df: DataFrame, column: str, order_column: str
) -> int:
    """Scalable strict-increasing check: range-partition by the order
    column, check each partition locally (sorted within partition), then
    validate the partition seams on the driver.

    No global sort / single-reducer window: the shuffle is a range
    repartition and the per-partition work is a linear scan, so the plan
    survives arbitrary scale-up.  Seam validation moves only
    2*num_partitions tiny rows to the driver.

    Type-generic: the kernel compares values with Python/pandas ``<=``
    on the column's OWN type and the seam frame carries the input field
    types verbatim, so timestamp order columns (``warc_ts``) and string
    value columns work exactly like the window path — no float casts.
    NULL values never violate (``c <= LAG(c)`` is NULL when either side
    is NULL), matching the reference predicate.
    """
    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    parted = df.select(order_column, column).repartitionByRange(
        n_part, order_column
    ).sortWithinPartitions(order_column)

    ord_t = parted.schema[order_column].dataType
    val_t = parted.schema[column].dataType
    out_schema = T.StructType(
        [
            T.StructField("violations", T.LongType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("first_ord", ord_t),
            T.StructField("last_ord", ord_t),
            T.StructField("first_val", val_t),
            T.StructField("last_val", val_t),
        ]
    )

    def _notna(v) -> bool:
        return v is not None and not (isinstance(v, float) and v != v)

    def per_partition(batches):
        have_rows = False
        n_rows = 0
        prev = first_ord = first_val = last_ord = last_val = None
        viol = 0
        for pdf in batches:
            if pdf.empty:
                continue
            n_rows += len(pdf)
            vals = pdf[column]
            ords = pdf[order_column]
            if not have_rows:
                have_rows = True
                first_ord = ords.iloc[0]
                first_val = vals.iloc[0]
            # strict increase: c <= lag(c) is a violation; NULL on
            # either side -> predicate NULL -> pass
            cur = vals.iloc[1:].reset_index(drop=True)
            prv = vals.iloc[:-1].reset_index(drop=True)
            both = (cur.notna() & prv.notna()).to_numpy()
            if both.any():
                viol += int(
                    (cur.to_numpy()[both] <= prv.to_numpy()[both]).sum()
                )
            head = vals.iloc[0]
            if _notna(prev) and _notna(head) and head <= prev:
                viol += 1
            prev = vals.iloc[-1]
            last_ord = ords.iloc[-1]
            last_val = prev
        # NaN -> None: a nullable long column arrives in pandas as
        # float64/NaN, which Arrow can't place into the LongType seam
        # field; None it is
        yield pd.DataFrame(
            {
                "violations": [viol if have_rows else 0],
                "n_rows": [n_rows],
                "first_ord": [first_ord if _notna(first_ord) else None],
                "last_ord": [last_ord if _notna(last_ord) else None],
                "first_val": [first_val if _notna(first_val) else None],
                "last_val": [last_val if _notna(last_val) else None],
            }
        )

    rows = parted.mapInPandas(per_partition, schema=out_schema).collect()
    # non-empty partitions joined in order-column order.  The chain
    # membership test is n_rows, NOT first_ord: range partitioning
    # groups every NULL order key into the lowest partition (sorted
    # nulls-first within it), so that partition's first_ord is NULL
    # while its rows still participate — excluding it would silently
    # skip the seam to the next partition, diverging from the window
    # twin's nulls-first Window.orderBy.  (None, x) never compares:
    # the tuple key isolates the NULL-headed partition at the front,
    # and at most one non-empty partition can start at NULL.
    stats = sorted(
        (r for r in rows if r["n_rows"] > 0),
        key=lambda r: (r["first_ord"] is not None, r["first_ord"]),
    )
    total = sum(r["violations"] for r in rows)
    for a, b in zip(stats, stats[1:]):
        if (
            b["first_val"] is not None
            and a["last_val"] is not None
            and b["first_val"] <= a["last_val"]
        ):
            total += 1
    return int(total)


# ---------------------------------------------------------------------------
# Date-format check (#14) — vectorized strptime parity
# ---------------------------------------------------------------------------


def date_format_violation_count(df: DataFrame, column: str, fmt: str) -> int:
    """#14 check-date-format: count values that do not parse under the
    strftime-style format (checker.go:572-574 documents
    ``strptime(CAST(c AS VARCHAR), fmt) IS NULL``).

    De-facto the reference *errors out* on the first bad value because
    DuckDB strptime raises (checker.go:576-580, main.go:462-464); we
    implement the documented intent — count non-parsing values as
    violations — via an Arrow-vectorized pandas UDF wrapping
    ``datetime.strptime`` (same %-dialect as DuckDB strptime).
    """
    bad = date_format_violations(df, column, fmt)
    return bad.count()


def date_format_violations(df: DataFrame, column: str, fmt: str) -> DataFrame:
    @F.pandas_udf(T.BooleanType())
    def parses(s: pd.Series) -> pd.Series:
        def ok(v) -> bool:
            if v is None:
                return True  # NULLs pass (predicate is NULL in SQL)
            try:
                _dt.datetime.strptime(str(v), fmt)
                return True
            except (ValueError, TypeError):
                return False

        return s.map(ok)

    return df.filter(~parses(F.col(column).cast("string")))


# ---------------------------------------------------------------------------
# Aggregate / table-level checks
# ---------------------------------------------------------------------------


def agg_between(
    df: DataFrame, column: str, lo: float, hi: float, agg: str
) -> tuple[bool, float | None]:
    """#10-13 check-max/min/mean/median: compute the aggregate, compare
    the scalar in the driver, exactly like the Go code scans the scalar
    and compares in-process (checker.go:427-435, :463-471, :499-507,
    :535-543).  AVG/MEDIAN ignore NULLs in both engines.

    Physical: partial+final aggregate, one shuffle to one reducer of one
    row — scale-safe.  Median is exact (F.median, interpolated 0.5
    quantile, matches DuckDB MEDIAN); at 10^12 rows swap in
    ``F.percentile_approx`` via ``approx=True`` call sites.
    """
    fns = {"max": F.max, "min": F.min, "mean": F.avg, "median": F.median}
    observed = df.agg(fns[agg](column).alias("v")).first()["v"]
    if observed is None:
        # empty / all-NULL input: reference Scan into float64 errors out
        # (returns (false, err)); we surface passed=False explicitly
        return False, None
    observed = float(observed)
    return (lo <= observed <= hi), observed


def row_count_between(df: DataFrame, lo: int, hi: int) -> tuple[bool, int]:
    """#15 check-row-count (checker.go:609-617).  Parquet/Iceberg
    metadata count fast path applies when unfiltered."""
    n = df.count()
    return (lo <= n <= hi), n


def column_count_between(df: DataFrame, lo: int, hi: int) -> tuple[bool, int]:
    """#16 check-col-count (checker.go:646-654) — catalog op, no job."""
    n = len(df.columns)
    return (lo <= n <= hi), n


def column_exists(df: DataFrame, column: str) -> bool:
    """#5 check-column-exists: schema probe only, no scan
    (checker.go:249-251 uses ``SELECT c ... LIMIT 0``)."""
    return column in df.columns


# ---------------------------------------------------------------------------
# Facade with reference-parity method names
# ---------------------------------------------------------------------------


class DataQualityChecker:
    """API-parity facade: one method per reference check
    (checker.go Is*/Are* methods), returning (passed, error_count|observed)
    and logging an audit row per call via the injected sink — mirroring
    ``NewDataQualityChecker(dbConnector)`` (checker.go:19-21).

    Accepts DataFrames, file paths, or table names (sources.load_table).
    Unlike the reference there is no per-check engine respawn; the same
    SparkSession serves the whole suite, and `suite.CheckSuite` fuses
    all checks on one table into a single scan.
    """

    def __init__(self, spark, audit_sink=None):
        self.spark = spark
        self.audit = audit_sink

    # -- helpers ---------------------------------------------------------
    def _load(self, data):
        from dqc_spark.sources import load_table

        return load_table(self.spark, data)

    def _log(self, check_type: str, result: CheckResult) -> CheckResult:
        if self.audit is not None:
            self.audit.log(check_type, result.passed, result.params,
                           error_count=result.error_count)
        return result

    def _count_check(self, name: str, violations: DataFrame, params) -> CheckResult:
        n = violations.count()
        return self._log(
            name,
            CheckResult(name, passed=(n == 0), error_count=n,
                        params={k: str(v) for k, v in params.items()}),
        )

    def _agg_check(self, name, df, column, lo, hi, agg, obs_key) -> CheckResult:
        passed, observed = agg_between(df, column, lo, hi, agg)
        return self._log(
            name,
            CheckResult(
                name, passed=passed, observed=observed,
                params={"column": column, "min_value": str(lo),
                        "max_value": str(hi), obs_key: str(observed)},
            ),
        )

    # -- the 21 checks ---------------------------------------------------
    def is_column_unique(self, data, column: str) -> CheckResult:
        df = self._load(data)
        return self._count_check(
            "is_column_unique", unique_violations(df, column), {"column": column}
        )

    def is_column_not_null(self, data, column: str) -> CheckResult:
        df = self._load(data)
        return self._count_check(
            "is_column_not_null", df.filter(not_null_pred(column)), {"column": column}
        )

    def is_column_enum(self, data, column: str, allowed: Sequence) -> CheckResult:
        df = self._load(data)
        return self._count_check(
            "is_column_enum",
            df.filter(enum_pred(column, allowed)),
            {"column": column, "enum_values": ",".join(map(str, allowed))},
        )

    def are_tables_referential_integral(
        self, left_data, right_data, keys: Sequence[str]
    ) -> CheckResult:
        left, right = self._load(left_data), self._load(right_data)
        return self._count_check(
            "are_tables_referential_integral",
            referential_violations(left, right, keys),
            {"columns": ",".join(keys)},
        )

    def is_column_in_data(self, data, column: str) -> CheckResult:
        df = self._load(data)
        ok = column_exists(df, column)
        # reference logs no error_count for this check (checker.go:251-257)
        return self._log(
            "is_column_in_data",
            CheckResult("is_column_in_data", passed=ok, params={"column": column}),
        )

    def is_column_between(self, data, column: str, lo: float, hi: float) -> CheckResult:
        df = self._load(data)
        return self._count_check(
            "is_column_between",
            df.filter(between_pred(column, lo, hi)),
            {"column": column, "min_value": lo, "max_value": hi},
        )

    def is_column_regex_match(self, data, column: str, pattern: str) -> CheckResult:
        df = self._load(data)
        return self._count_check(
            "is_column_regex_match",
            df.filter(regex_pred(column, pattern)),
            {"column": column, "regex": pattern},
        )

    def is_column_of_type(self, data, column: str, duckdb_type: str) -> CheckResult:
        df = self._load(data)
        return self._count_check(
            "is_column_of_type",
            df.filter(type_pred(column, duckdb_type)),
            {"column": column, "type": duckdb_type},
        )

    def is_column_length_between(self, data, column: str, lo: int, hi: int) -> CheckResult:
        df = self._load(data)
        return self._count_check(
            "is_column_length_between",
            df.filter(length_pred(column, lo, hi)),
            {"column": column, "min_length": lo, "max_length": hi},
        )

    def is_column_max_between(self, data, column, lo, hi) -> CheckResult:
        return self._agg_check(
            "is_column_max_between", self._load(data), column, lo, hi, "max", "max_value_observed"
        )

    def is_column_min_between(self, data, column, lo, hi) -> CheckResult:
        return self._agg_check(
            "is_column_min_between", self._load(data), column, lo, hi, "min", "min_value_observed"
        )

    def is_column_mean_between(self, data, column, lo, hi) -> CheckResult:
        return self._agg_check(
            "is_column_mean_between", self._load(data), column, lo, hi, "mean", "mean_value_observed"
        )

    def is_column_median_between(self, data, column, lo, hi) -> CheckResult:
        return self._agg_check(
            "is_column_median_between", self._load(data), column, lo, hi, "median", "median_value_observed"
        )

    def is_column_null_fraction_max(self, data, column: str,
                                    max_fraction: float) -> CheckResult:
        """Deequ-style completeness budget (suite.py extension): the
        NULL fraction of ``column`` must not exceed ``max_fraction``."""
        from dqc_spark.suite import Check, CheckSuite

        res = CheckSuite(
            [Check.null_fraction_max(column, max_fraction)]
        ).run(self._load(data))[0]
        return self._log("is_column_null_fraction_max", res)

    def is_column_fresh(self, data, column: str,
                        newer_than: str) -> CheckResult:
        """Freshness (suite.py extension): the newest value of
        timestamp ``column`` must be at/after ``newer_than`` (ISO,
        UTC)."""
        from dqc_spark.suite import Check, CheckSuite

        res = CheckSuite(
            [Check.freshness(column, newer_than)]
        ).run(self._load(data))[0]
        return self._log("is_column_fresh", res)

    def is_column_date_format(self, data, column: str, fmt: str) -> CheckResult:
        df = self._load(data)
        n = date_format_violation_count(df, column, fmt)
        return self._log(
            "is_column_date_format",
            CheckResult("is_column_date_format", passed=(n == 0), error_count=n,
                        params={"column": column, "date_format": fmt}),
        )

    def is_table_row_count_between(self, data, lo: int, hi: int) -> CheckResult:
        passed, n = row_count_between(self._load(data), lo, hi)
        return self._log(
            "is_table_row_count_between",
            CheckResult("is_table_row_count_between", passed=passed, observed=float(n),
                        params={"min_count": str(lo), "max_count": str(hi),
                                "row_count": str(n)}),
        )

    def is_table_column_count_between(self, data, lo: int, hi: int) -> CheckResult:
        passed, n = column_count_between(self._load(data), lo, hi)
        return self._log(
            "is_table_column_count_between",
            CheckResult("is_table_column_count_between", passed=passed, observed=float(n),
                        params={"min_count": str(lo), "max_count": str(hi),
                                "column_count": str(n)}),
        )

    def is_column_not_in_set(self, data, column: str, blacklist: Sequence) -> CheckResult:
        df = self._load(data)
        return self._count_check(
            "is_column_not_in_set",
            df.filter(not_in_set_pred(column, blacklist)),
            {"column": column, "set_values": ",".join(map(str, blacklist))},
        )

    def is_column_increasing(self, data, column: str,
                             order_column: str | None = None) -> CheckResult:
        df = self._load(data)
        if order_column is not None:
            n = count_increasing_violations_scalable(df, column, order_column)
        else:
            n = increasing_violations(df, column).count()
        return self._log(
            "is_column_increasing",
            CheckResult("is_column_increasing", passed=(n == 0), error_count=n,
                        params={"column": column}),
        )

    def is_column_date_parseable(self, data, column: str) -> CheckResult:
        df = self._load(data)
        return self._count_check(
            "is_column_date_parseable",
            df.filter(date_parseable_pred(column)),
            {"column": column},
        )

    def are_column_pairs_equal(self, data, col_a: str, col_b: str) -> CheckResult:
        df = self._load(data)
        return self._count_check(
            "are_column_pairs_equal",
            df.filter(pair_not_equal_pred(col_a, col_b)),
            {"column_a": col_a, "column_b": col_b},
        )

    def are_distinct_values_in_set(self, data, column: str, allowed: Sequence) -> CheckResult:
        df = self._load(data)
        return self._count_check(
            "are_distinct_values_in_set",
            distinct_not_in_set_violations(df, column, allowed),
            {"column": column, "set_values": ",".join(map(str, allowed))},
        )
