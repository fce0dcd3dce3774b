"""Reference-architecture comparison: the SAME 10 checks run

  (a) the reference's way  — one DuckDB SQL per check, fresh in-process
      connection each time (mirrors internal/checker/checker.go:52's
      per-check sql.Open + COUNT(*)-wrapped violation query), and
  (b) this engine's way    — one fused Spark CheckSuite pass.

at 1x/4x/16x multiples of sf0.1 lineitem (600k/2.4M/9.6M rows), best of
3.  Prints one JSON line with both series and the per-base-table marginal
cost of each architecture.

Usage: python tools/ref_compare.py
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PATH = os.path.join(
    os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    "lineitem.parquet",
)
MULTIPLES = [1, 4, 16]


def duck_checks(src: str) -> list[str]:
    return [
        f"SELECT COUNT(*) FROM (SELECT l_orderkey FROM ({src}) WHERE l_orderkey IS NULL)",
        f"SELECT COUNT(*) FROM (SELECT l_returnflag FROM ({src}) WHERE l_returnflag NOT IN ('A','N','R') AND l_returnflag IS NOT NULL)",
        f"SELECT COUNT(*) FROM (SELECT l_discount FROM ({src}) WHERE l_discount < 0.0 OR l_discount > 0.1)",
        f"SELECT COUNT(*) FROM (SELECT l_linestatus FROM ({src}) WHERE length(l_linestatus) < 1 OR length(l_linestatus) > 1)",
        f"SELECT MAX(l_quantity) FROM ({src})",
        f"SELECT MIN(l_extendedprice) FROM ({src})",
        f"SELECT AVG(l_extendedprice) FROM ({src})",
        f"SELECT MEDIAN(l_extendedprice) FROM ({src})",
        f"SELECT COUNT(*) FROM ({src})",
        f"SELECT COUNT(*) FROM (SELECT DISTINCT l_linestatus FROM ({src}) WHERE l_linestatus NOT IN ('O','F') AND l_linestatus IS NOT NULL)",
    ]


def duck_run(mult: int) -> float:
    src = " UNION ALL ".join([f"SELECT * FROM '{PATH}'"] * mult)

    def once() -> float:
        t0 = time.time()
        for q in duck_checks(src):
            con = duckdb.connect()  # fresh connection per check (checker.go:52)
            con.sql(q).fetchall()
            con.close()
        return time.time() - t0

    return min(once() for _ in range(3))


def spark_suite():
    """The 10-check lineitem suite, one Check per duck_checks() query
    above (same order) — keep the two lists in sync."""
    from dqc_spark.suite import Check, CheckSuite

    return CheckSuite(
        [
            Check.not_null("l_orderkey"),
            Check.enum("l_returnflag", ["A", "N", "R"]),
            Check.between("l_discount", 0.0, 0.1),
            Check.length("l_linestatus", 1, 1),
            Check.max_between("l_quantity", 1, 50),
            Check.min_between("l_extendedprice", 0, 1e9),
            Check.mean_between("l_extendedprice", 0, 1e9),
            Check.median_between("l_extendedprice", 0, 1e9, approx=True),
            Check.row_count_between(1, 10**12),
            Check.distinct_in_set("l_linestatus", ["O", "F"]),
        ]
    )


def main() -> None:
    from dqc_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="ref_compare", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    li = spark.read.parquet(PATH)
    base_rows = li.count()
    suite = spark_suite()
    suite.run(li)  # warm

    duck, sp = {}, {}
    for m in MULTIPLES:
        df = functools.reduce(lambda a, b: a.union(b), [li] * m)

        def once() -> float:
            t0 = time.time()
            suite.run(df)
            return time.time() - t0

        sp[m] = min(once() for _ in range(3))
        duck[m] = duck_run(m)

    lo, hi = MULTIPLES[0], MULTIPLES[-1]
    marginal_duck = (duck[hi] - duck[lo]) / (hi - lo)
    marginal_spark = (sp[hi] - sp[lo]) / (hi - lo)
    print(
        json.dumps(
            {
                "checks": 10,
                "base_rows": base_rows,
                "multiples": MULTIPLES,
                "duckdb_per_check_sec": {str(m): round(duck[m], 3) for m in MULTIPLES},
                "spark_fused_sec": {str(m): round(sp[m], 3) for m in MULTIPLES},
                "marginal_sec_per_base": {
                    "duckdb_ref_architecture": round(marginal_duck, 4),
                    "spark_fused": round(marginal_spark, 4),
                },
            }
        )
    )


if __name__ == "__main__":
    main()
