"""The benchmark's workloads.

Each workload builds its inputs from the seed, runs one op through a
public ``dqc_spark`` entry point (``op``), runs the same op as a chain of
separately materialized layer calls under spans (``traced_op``), and
checks an op's stored output against a reference computed outside the
timed region (``check``).

Every op writes its real output (parquet, snapshot table, audit commit):
Catalyst prunes pandas UDFs whose columns nothing reads, so a count or
aggregate over the annotated frame would never run the scrub UDF.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter
from contextlib import contextmanager, nullcontext

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
OUT_COLS = ["url", "keep", "scrubbed_text"]


def tree(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``; (0, 0) when it does not exist."""
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    sizes = [os.path.getsize(os.path.join(d, f))
             for d, _, files in os.walk(path) for f in files]
    return len(sizes), sum(sizes)


def du(path: str) -> int:
    """Bytes of every file under ``path`` (0 when it does not exist)."""
    return tree(path)[1]


@contextmanager
def commit_span(tr, table: str):
    """Span ``snaptable_commit`` plus the files and bytes it adds to the
    snapshot table at ``table``."""
    files0, bytes0 = tree(table)
    stats: dict = {}
    with tr.span("snaptable_commit"):
        yield stats
    files1, bytes1 = tree(table)
    stats["snaptable.files_written"] = files1 - files0
    stats["snaptable.bytes_written"] = bytes1 - bytes0


def noop(df) -> None:
    """Materialize every column of ``df`` without storing it."""
    df.write.format("noop").mode("overwrite").save()


def udf_nodes(df) -> list[str]:
    """Names of the pandas UDFs evaluated by ArrowEvalPython nodes in the
    executed plan of ``df`` (pruned UDFs do not appear)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [line.split("ArrowEvalPython [", 1)[1].split("(", 1)[0]
            for line in plan.splitlines() if "ArrowEvalPython [" in line]


PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])


def write_pages(path: str, lo: int, hi: int, parts: int) -> tuple[int, int]:
    """``pagesgen.make_page(doc_id)`` for doc_id in [lo, hi) -> ``parts``
    parquet files at ``path`` (the schema of ``pagesgen.PAGES_SCHEMA``),
    so a scan has one split per core; returns (rows, bytes of text).
    Generated in this process: spawning Python workers to build a few
    thousand pages costs more than it saves."""
    from dqc_spark.pagesgen import make_page

    rows = pd.DataFrame([make_page(i) for i in range(lo, hi)],
                        columns=PAGES_ARROW.names)
    write_parts(pa.Table.from_pandas(rows, schema=PAGES_ARROW,
                                     preserve_index=False), path, parts)
    return len(rows), int(rows["text"].str.encode("utf-8").str.len().sum())


def write_parts(table: pa.Table, path: str, parts: int) -> None:
    """``table`` as ``parts`` parquet files of consecutive rows."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i}.parquet"))


def oracle_rows(lo: int, hi: int) -> Counter:
    """Multiset of (url, keep, scrubbed_text) that the pure-Python
    ``pipeline_oracle.oracle_labels`` gives for doc_ids [lo, hi)."""
    from dqc_spark.pagesgen import make_page
    from dqc_spark.pipeline_oracle import oracle_labels

    labels = oracle_labels([make_page(i) for i in range(lo, hi)])
    return Counter(tuple(r[c] for c in OUT_COLS) for r in labels)


def content_digest(pairs) -> str:
    """Order-independent digest of (url, text) pairs."""
    acc = 0
    for url, text in pairs:
        h = hashlib.md5(f"{url}\x1f{text}".encode()).digest()
        acc = (acc + int.from_bytes(h[:8], "little")) % (1 << 64)
    return f"{acc:016x}"


def load_pins() -> dict:
    with open(os.path.join(HERE, "pins.json")) as f:
        return json.load(f)


class Workload:
    """One named workload.  ``work`` is a private scratch directory."""

    name = ""
    shared_state: list[str] = []   # dirs every op appends to
    warmup_ops = 2   # the first op runs ~2x a steady op, the second ~1.2x

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def out(self, k: int) -> str:
        return self.path("ops", str(k))


class _Pages(Workload):
    """Shared input handling of the page workloads."""

    docs = 0

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        self.lo = seed * self.docs
        self.hi = self.lo + self.docs
        self._oracle: Counter | None = None

    def make_inputs(self, spark) -> None:
        self.input_rows, self.input_bytes = write_pages(
            self.path("pages"), self.lo, self.hi,
            spark.sparkContext.defaultParallelism)

    def prepare(self, spark, traced: bool) -> None:
        self.pages = spark.read.parquet(self.path("pages"))
        if traced:
            self.pages = self.pages.persist()
            self.pages.count()

    def oracle(self) -> Counter:
        if self._oracle is None:
            self._oracle = oracle_rows(self.lo, self.hi)
        return self._oracle


class QualityFilter(_Pages):
    """``dqc pipeline``: score + scrub UDFs, day-partitioned parquet,
    table checks and one audit commit per op."""

    name = "quality_filter"
    docs = 1000
    shared_state = ["audit"]

    def prepare(self, spark, traced: bool) -> None:
        from dqc_spark.audit import SnapshotAuditSink

        super().prepare(spark, traced)
        self.audit = SnapshotAuditSink(spark, self.path("audit"))

    def op(self, spark, k: int) -> None:
        from dqc_spark.pipeline import run_pipeline

        run_pipeline(self.pages, self.out(k), audit=self.audit,
                     run_id=f"op{k}")
        self.audit.flush()

    def traced_op(self, spark, k: int, tr) -> dict:
        from pyspark.sql import functions as F

        from dqc_spark.pipeline import annotate, table_checks
        from dqc_spark.scoring import with_scores
        from dqc_spark.scrub import scrub_udf

        with tr.span("scoring"):
            noop(with_scores(self.pages))
        gated = annotate(self.pages, scrub=False).persist()
        with tr.span("annotate_noscrub"):
            noop(gated)
        # annotate's scrub column, over the cached gated frame
        ann = gated.withColumn("scrubbed_text", scrub_udf(
            F.when(F.col("keep"), F.coalesce(F.col("text"), F.lit(""))))
        ).persist()
        with tr.span("scrub"):
            noop(ann)
        with tr.span("write"):
            (ann.withColumn("day", F.to_date("warc_ts")).write
             .mode("overwrite").partitionBy("day").parquet(self.out(k)))
        ann.unpersist()
        gated.unpersist()
        with tr.span("table_checks"):
            results = table_checks(
                spark.read.parquet(self.out(k)).drop("day"))
        for res in results:
            self.audit.log(res.check_type, res.passed, res.params,
                           error_count=res.error_count,
                           input_snapshot=f"op{k}")
        with tr.span("audit_flush"), \
                commit_span(tr, self.path("audit")) as written:
            self.audit.flush()
        return {"audit.rows": len(results), "write.bytes": du(self.out(k)),
                **written}

    def check(self, spark, k: int) -> str | None:
        from pyspark.sql import functions as F

        from dqc_spark.pipeline import GATE_ORDER, annotate

        if k == 0:
            # a plan that prunes either UDF would skip its cost
            names = udf_nodes(annotate(self.pages).withColumn(
                "day", F.to_date("warc_ts")))
            if sorted(names) != ["score_udf", "scrub_udf"]:
                return f"written plan evaluates UDFs {names}"
        got = Counter(tuple(r) for r in spark.read.parquet(self.out(k))
                      .select(*OUT_COLS).collect())
        want = self.oracle()
        if got != want:
            return (f"{sum((got - want).values())} output rows differ "
                    f"from pipeline_oracle")
        n_audit = self.audit.read().filter(
            F.col("input_snapshot") == f"op{k}").count()
        if n_audit != len(GATE_ORDER) + 3:
            return f"audit commit holds {n_audit} rows for op{k}"
        return None


class Curate(_Pages):
    """``dqc curate --output-format snapshot``: annotate, url/exact/
    near-dup dedup, domain quota, token packing, snapshot-table create."""

    name = "curate"
    docs = 1000
    quota = docs // 100    # binds on the hot domains, as 200 does at 20k
    budget = 2048
    threshold = 0.7
    _first_digest: str | None = None

    def op(self, spark, k: int) -> None:
        from dqc_spark import snaptable
        from dqc_spark.cache import release_all
        from dqc_spark.pipeline import curate

        cur = curate(self.pages, near_dup_threshold=self.threshold,
                     domain_quota=self.quota, pack_budget=self.budget)
        snaptable.create(spark, self.out(k), cur)
        release_all()

    def traced_op(self, spark, k: int, tr) -> dict:
        """The default ``pipeline.curate`` path, one layer call at a
        time.  ``check`` compares its output with the untraced op's, so
        this chain cannot drift from ``curate`` unnoticed."""
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        from dqc_spark import cache, snaptable
        from dqc_spark.components import keep_canonical
        from dqc_spark.dedup import (dedup_exact, minhash_jaccard,
                                     minhash_lsh_candidates,
                                     minhash_signatures)
        from dqc_spark.pipeline import annotate
        from dqc_spark.sampling import pack_token_budget, stratified_sample
        from dqc_spark.scoring import with_scores
        from dqc_spark.urlops import domain_of

        def done(df):
            df = cache.track(df)
            df.count()
            return df

        with tr.span("scoring"):
            noop(with_scores(self.pages))
        with tr.span("annotate"):
            kept = done(annotate(self.pages).filter(F.col("keep"))
                        .withColumn("doc_key", F.xxhash64("url")))
        with tr.span("url_dedup"):
            w = W.partitionBy("url").orderBy(F.md5("scrubbed_text"))
            kept = done(kept.withColumn("__rn", F.row_number().over(w))
                        .filter(F.col("__rn") == 1).drop("__rn"))
        with tr.span("dedup_exact"):
            kept = done(dedup_exact(kept, ["doc_key"],
                                    text_col="scrubbed_text"))
        with tr.span("dedup_signatures"):
            sigs = done(minhash_signatures(kept, "doc_key", "scrubbed_text",
                                           64))
        with tr.span("dedup_lsh"):
            cand = done(minhash_lsh_candidates(sigs, 16, 4))
        with tr.span("dedup_jaccard"):
            pairs = done(minhash_jaccard(cand, sigs).filter(
                F.col("est_jaccard") >= self.threshold))
        n_cand, n_pairs = cand.count(), pairs.count()
        tracker = spark.sparkContext.statusTracker()
        jobs0 = max(tracker.getJobIdsForGroup(None), default=-1)
        with tr.span("components_keep_canonical"):
            kept = done(keep_canonical(kept, pairs, "doc_key"))
        jobs = max(tracker.getJobIdsForGroup(None), default=-1) - jobs0
        kept = kept.withColumn("domain", domain_of("url"))
        with tr.span("sampling_quota"):
            kept = done(stratified_sample(kept, "domain", "doc_key",
                                          self.quota))
        with tr.span("sampling_pack"):
            kept = done(pack_token_budget(kept, "lang", "doc_key",
                                          F.col("n_words"), self.budget))
        tracked = len(cache._TRACKED)
        with commit_span(tr, self.out(k)) as written:
            snaptable.create(spark, self.out(k), kept)
        cache.release_all()
        return {"dedup.lsh_candidates": n_cand,
                "dedup.near_dup_pairs": n_pairs,
                "dedup.pairs_per_candidate": n_pairs / n_cand if n_cand else 0.0,
                "components.jobs": jobs,
                "cache.tracked_frames": tracked,
                "write.bytes": du(self.out(k)), **written}

    def check(self, spark, k: int) -> str | None:
        from dqc_spark.snaptable import SnapshotTable

        rows = SnapshotTable(spark, self.out(k)).read().select(
            "url", "scrubbed_text", "domain", "lang", "doc_key",
            "n_words", "n_tokens", "bin_id").collect()
        digest = content_digest((r["url"], r["scrubbed_text"]) for r in rows)
        # every op of a run, traced or not, curates the same pages
        if self._first_digest is None:
            self._first_digest = digest
        if digest != self._first_digest:
            return "output differs from the run's first op"
        return curated_invariants(
            rows, self.oracle(), self.quota, self.budget,
            self.name, self.seed)


def curated_invariants(rows, oracle: Counter, quota: int, budget: int,
                       workload: str, seed: int) -> str | None:
    """Reference check of a curated corpus against the golden labels:
    every row is an oracle-kept (url, scrubbed_text), urls and texts are
    unique, no domain exceeds the quota, bins follow the running token
    sum, and row count and digest match the values pinned for the seed."""
    kept = {(u, s) for (u, k, s), _ in oracle.items() if k}
    pairs = [(r["url"], r["scrubbed_text"]) for r in rows]
    if not rows:
        return "curated output is empty"
    if any(p not in kept for p in pairs):
        return "curated output holds a document the oracle drops"
    if len({u for u, _ in pairs}) != len(pairs):
        return "curated output repeats a url"
    if len({s for _, s in pairs}) != len(pairs):
        return "curated output repeats a text"
    if max(Counter(r["domain"] for r in rows).values()) > quota:
        return "a domain exceeds the quota"
    running: dict = {}
    for r in sorted(rows, key=lambda r: (r["lang"], r["doc_key"])):
        before = running.get(r["lang"], 0)
        if r["n_tokens"] != r["n_words"] or r["bin_id"] != before // budget:
            return "token packing disagrees with the running sum"
        running[r["lang"]] = before + r["n_tokens"]
    pin = load_pins().get(workload, {}).get(str(seed))
    got = {"rows": len(rows), "digest": content_digest(pairs)}
    if pin is not None and pin != got:
        return f"output {got} differs from the pinned {pin}"
    return None


class CurateIncremental(_Pages):
    """``resume.curate_incremental`` with a band index: each op curates
    the next increment (with re-crawl overlap) and appends to the output,
    the digest state and the band index left by the earlier ops."""

    name = "curate_incremental"
    docs = 1000               # new doc_ids per increment
    overlap = 100             # doc_ids re-crawled from the previous one
    increments = 4
    warmup_ops = 1            # the bootstrap increment; every op uses one
    shared_state = ["out", "out_ingested", "index", "audit"]

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        self.lo = seed * self.docs * self.increments
        self.hi = self.lo + self.docs * self.increments
        self.appended = 0

    def span_of(self, j: int) -> tuple[int, int]:
        start = self.lo + j * self.docs
        return (start - self.overlap if j else start), start + self.docs

    def make_inputs(self, spark) -> None:
        parts = spark.sparkContext.defaultParallelism
        sizes = [write_pages(self.path("pages", str(j)), *self.span_of(j),
                             parts) for j in range(self.increments)]
        self.input_rows = self.docs + self.overlap
        self.input_bytes = sum(b for _, b in sizes) // self.increments

    def prepare(self, spark, traced: bool) -> None:
        from dqc_spark.audit import ParquetAuditSink

        self.incs = [spark.read.parquet(self.path("pages", str(j)))
                     for j in range(self.increments)]
        self.audit = ParquetAuditSink(spark, self.path("audit"))

    def op(self, spark, k: int) -> dict:
        from dqc_spark.cache import release_all
        from dqc_spark.resume import curate_incremental

        if k >= self.increments:
            raise RuntimeError("no increment left")
        res = curate_incremental(
            spark, self.incs[k], self.path("out"), self.audit, "bench",
            near_index_path=self.path("index"),
            near_dup_threshold=Curate.threshold,
            domain_quota=Curate.quota, pack_budget=Curate.budget)
        release_all()
        self.appended += res["n_appended"]
        return res

    def traced_op(self, spark, k: int, tr) -> dict:
        from dqc_spark.bandindex import load_band_index

        with tr.span("curate_incremental"):
            res = self.op(spark, k)
        try:
            rows = load_band_index(spark, self.path("index")).signatures()
            n_index = rows.count()
        except FileNotFoundError:
            n_index = 0
        return {"resume.n_new": res["n_new"], "bandindex.rows": n_index}

    def check(self, spark, k: int) -> str | None:
        rows = spark.read.parquet(self.path("out")).select(
            "url", "scrubbed_text").collect()
        if len(rows) != self.appended:
            return f"output holds {len(rows)} rows, ops appended {self.appended}"
        kept = {(u, s) for (u, keep, s), _ in self.oracle().items() if keep}
        if any((r["url"], r["scrubbed_text"]) not in kept for r in rows):
            return "output holds a document the oracle drops"
        return None


def tpch_tables(seed: int, rows: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """TPC-H-shaped lineitem/orders columns the check suite reads, with a
    seed-dependent handful of planted violations so every check's count
    is non-trivial."""
    rng = np.random.default_rng([seed, 0x11E])
    n_orders = rows // 4
    okeys = rng.permutation(n_orders).astype("int64") + 1
    qty = rng.integers(1, 51, rows).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2100.0, rows), 2)
    li = pd.DataFrame({
        "l_orderkey": pd.array(rng.integers(1, n_orders + 1, rows),
                               dtype="Int64"),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, rows) / 100.0, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), rows),
        "l_linestatus": rng.choice(np.array(["O", "F"]), rows),
        "l_comment": [f"c{v:x}" for v in rng.integers(0, 1 << 40, rows)],
    })
    plant = lambda n: rng.choice(rows, int(rng.integers(1, n)),  # noqa: E731
                                 replace=False)
    li.loc[plant(20), "l_orderkey"] = pd.NA
    li.loc[plant(30), "l_returnflag"] = "X"
    li.loc[plant(30), "l_discount"] = 0.12
    li.loc[plant(5), "l_linestatus"] = "P"
    orders = pd.DataFrame({
        "o_orderkey": okeys,
        "o_totalprice": np.round(rng.uniform(1e3, 5e5, n_orders), 2),
    })
    return li, orders


SUITE_SQL = {
    # the 10-check suite, as DuckDB SQL over the same parquet file
    "is_column_not_null": "SELECT count(*) FROM li WHERE l_orderkey IS NULL",
    "is_column_enum": "SELECT count(*) FROM li WHERE l_returnflag NOT IN "
                      "('A','N','R') AND l_returnflag IS NOT NULL",
    "is_column_between": "SELECT count(*) FROM li WHERE l_discount < 0.0 "
                         "OR l_discount > 0.1",
    "is_column_length_between": "SELECT count(*) FROM li WHERE "
                                "length(l_linestatus) < 1 OR "
                                "length(l_linestatus) > 1",
    "is_column_max_between": "SELECT max(l_quantity) FROM li",
    "is_column_min_between": "SELECT min(l_extendedprice) FROM li",
    "is_column_mean_between": "SELECT avg(l_extendedprice) FROM li",
    "is_table_row_count_between": "SELECT count(*) FROM li",
    "are_distinct_values_in_set": "SELECT count(DISTINCT l_linestatus) FROM "
                                  "li WHERE l_linestatus NOT IN ('O','F')",
}
UNIQUE_SQL = ("SELECT count(*) FROM (SELECT {c} FROM {t} GROUP BY {c} "
              "HAVING count(*) > 1)")


class CheckSuiteWorkload(Workload):
    """The reference's own job: the 10-check fused ``CheckSuite`` plus
    ``DataQualityChecker.is_column_unique`` on lineitem and orders, every
    result logged to a snapshot audit table with one commit per op."""

    name = "check_suite"
    rows = 600_000
    shared_state = ["audit"]

    def make_inputs(self, spark) -> None:
        parts = spark.sparkContext.defaultParallelism
        for name, df in zip(("lineitem", "orders"),
                            tpch_tables(self.seed, self.rows)):
            write_parts(pa.Table.from_pandas(df, preserve_index=False),
                        self.path("inputs", name), parts)

    @staticmethod
    def suite():
        from dqc_spark.suite import Check, CheckSuite

        return CheckSuite([
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
        ])

    def prepare(self, spark, traced: bool) -> None:
        from dqc_spark.audit import SnapshotAuditSink
        from dqc_spark.checks import DataQualityChecker

        self.li_path = self.path("inputs", "lineitem")
        self.orders_path = self.path("inputs", "orders")
        self.audit = SnapshotAuditSink(spark, self.path("audit"))
        self.checker = DataQualityChecker(spark, audit_sink=self.audit)
        self.input_rows = self.rows + self.rows // 4
        self.input_bytes = du(self.path("inputs"))
        self.results: dict[int, list] = {}
        self._expected = None

    def _run(self, spark, k: int, tr=None) -> tuple[list, dict]:
        span = tr.span if tr is not None else (lambda _n: nullcontext())
        li = spark.read.parquet(self.li_path)
        orders = spark.read.parquet(self.orders_path)
        with span("suite_fused"):
            res = self.suite().run(li, audit=self.audit,
                                   input_snapshot=f"op{k}")
        with span("checks_unique"):
            res.append(self.checker.is_column_unique(li, "l_orderkey"))
            res.append(self.checker.is_column_unique(orders, "o_orderkey"))
        written: dict = {}
        with span("audit_flush"):
            if tr is None:
                self.audit.flush()
            else:
                with commit_span(tr, self.path("audit")) as written:
                    self.audit.flush()
        self.results[k] = res
        return res, written

    def op(self, spark, k: int) -> None:
        self._run(spark, k)

    def traced_op(self, spark, k: int, tr) -> dict:
        res, written = self._run(spark, k, tr)
        return {"audit.rows": len(res), **written}

    def expected(self) -> list:
        """Per check: exact count / aggregate from DuckDB, or for the
        approximate median the [lo, hi] value range its rank error
        allows (percentile_approx accuracy 10000 -> 1e-4 of the rows)."""
        if self._expected is None:
            import duckdb

            con = duckdb.connect()
            try:
                con.execute(f"CREATE VIEW li AS SELECT * FROM "
                            f"read_parquet('{self.li_path}/*.parquet')")
                con.execute(f"CREATE VIEW od AS SELECT * FROM "
                            f"read_parquet('{self.orders_path}/*.parquet')")
                one = lambda q: con.execute(q).fetchone()[0]  # noqa: E731
                exp = []
                for ch in self.suite().checks:
                    if ch.check_type == "is_column_median_between":
                        exp.append(tuple(con.execute(
                            "SELECT quantile_disc(l_extendedprice, 0.499),"
                            " quantile_disc(l_extendedprice, 0.501) FROM li"
                        ).fetchone()))
                    else:
                        exp.append(one(SUITE_SQL[ch.check_type]))
                exp.append(one(UNIQUE_SQL.format(c="l_orderkey", t="li")))
                exp.append(one(UNIQUE_SQL.format(c="o_orderkey", t="od")))
            finally:
                con.close()
            self._expected = exp
        return self._expected

    def check(self, spark, k: int) -> str | None:
        from pyspark.sql import functions as F

        got, exp = self.results[k], self.expected()
        checks = self.suite().checks
        for i, (res, want) in enumerate(zip(got, exp)):
            if i < len(checks) and checks[i].agg is not None:
                lo, hi = checks[i].agg[2], checks[i].agg[3]
                obs = res.observed
                if isinstance(want, tuple):
                    ok = want[0] <= obs <= want[1]
                else:
                    ok = obs == want or abs(obs - want) <= 1e-9 * abs(want)
                ok = ok and res.passed == (lo <= obs <= hi)
            else:
                ok = res.error_count == want and res.passed == (want == 0)
            if not ok:
                return f"{res.check_type}: {res} disagrees with DuckDB {want}"
        n_audit = self.audit.read().filter(
            F.col("input_snapshot") == f"op{k}").count()
        if n_audit != len(checks):
            return f"audit commit holds {n_audit} suite rows for op{k}"
        return None


WORKLOADS = {w.name: w for w in
             (QualityFilter, Curate, CheckSuiteWorkload, CurateIncremental)}
