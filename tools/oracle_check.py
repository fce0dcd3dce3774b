"""Local stand-in for the driver's correctness gate: run each
__spark_entry__.queries() entry and its oracle_sql() on the same
parquet, compare row count, sorted column names, and an
order-insensitive value hash.  Usage:

    python tools/oracle_check.py [sf_dir] [name ...]
    python tools/oracle_check.py --heavy [sf_dir]

``--heavy`` runs the most expensive SQL-oracled entries at sf0.1
(default dir /root/testdata/sf0.1) — the round-checklist sweep that
catches SCALE-DEPENDENT divergence the per-round sf0.001/0.01 runs
can miss (the repo's ln-ULP lesson surfaced at exactly one SF)."""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
]


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    # Stringify with DTYPE preserved: a float 0.0 must hash differently
    # from an int 0, because the driver's gate distinguishes them (the
    # round-1 HUGEINT->float64 oracle mismatches were masked locally by a
    # %.6g normalization here).  repr() keeps the shortest round-trip
    # float form, so genuine cross-engine value drift surfaces too.
    def norm(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    rows = sorted(
        "|".join(norm(v) for v in row) for row in pdf.itertuples(index=False)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


# the most expensive SQL-oracled entries — heaviest Python kernels,
# widest shuffles, or float expressions with known SF-sensitivity
HEAVY = [
    "text_line_dedup", "text_decontaminate",
    "pack_fixed_sequences", "order_shard_assign", "mix_epoch_expand",
    "snaptable_diff", "corpus_report_by_lang", "html_main_content",
    "html_extract_text", "warc_ingest", "wet_ingest",
    "text_structure_signals", "text_repetition", "text_repetition_ngrams",
    "dedup_ngram_jaccard",
]


def main() -> int:
    args = sys.argv[1:]
    heavy = "--heavy" in args
    if heavy:
        args = [a for a in args if a != "--heavy"]
    default_dir = "/root/testdata/sf0.1" if heavy else "/root/testdata/sf0.01"
    # an sf_dir is a path (contains a separator or exists as a dir);
    # everything else is a query name — so `--heavy <name>` selects a
    # SUBSET of the heavy list at the heavy default dir instead of
    # misreading the name as a directory
    dirs = [a for a in args if os.sep in a or os.path.isdir(a)]
    names = [a for a in args if a not in dirs]
    sf_dir = dirs[0] if dirs else default_dir
    only = set(names) if names else (set(HEAVY) if heavy else set())

    import __spark_entry__ as E
    from dqc_spark.session import get_spark

    qs, oracles = E.queries(), E.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:  # a typo or a missing sf dir would otherwise select nothing
        print(f"unknown query name(s): {' '.join(unknown)}", file=sys.stderr)
        return 2

    # no console progress bar: its "[Stage N: ...]" redraws carry no
    # newline, so an ok/FAIL line would start mid-line behind one
    spark = get_spark(app_name="oracle_check", master="local[8]",
                      shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    failures = []
    ran = rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        rows_only += name not in oracles
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        finally:
            # free operator-persisted intermediates (minhash/simhash
            # signatures, LSH band frames, components edges, curate
            # annotations) between queries — ~60 queries in one session
            # otherwise accumulate cached blocks without bound
            from dqc_spark.cache import release_all

            release_all()
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, no oracle)")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as exc:
            failures.append(name)
            print(f"FAIL {name}: oracle error: {exc}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        sdf.columns = [c.lower() for c in sdf.columns]
        odf.columns = [c.lower() for c in odf.columns]
        if not problems and value_hash(sdf) != value_hash(odf):
            problems.append("value hash mismatch")
            merged = sdf.reindex(sorted(sdf.columns), axis=1)
            omerged = odf.reindex(sorted(odf.columns), axis=1)
            print("  spark:", merged.head(3).to_dict("records"))
            print("  duck :", omerged.head(3).to_dict("records"))
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok   {name}: {len(sdf)} rows match")
    spark.stop()
    print(f"\n{ran - len(failures)}/{ran} matched"
          f" ({ran - rows_only} SQL, {rows_only} rows-only)"
          + ("" if not only else f" (of {len(qs)} registered)"))
    return 1 if failures or not ran else 0


if __name__ == "__main__":
    sys.exit(main())
