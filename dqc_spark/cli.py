"""dqc-compatible CLI over the Spark engine.

Mirrors the reference's cobra subcommands (cmd/dqc/main.go:39-61: 21
check-* commands + show-logs + clean-logs, persistent --db-path flag
defaulting to quality_checks.db, main.go:37) and adds ``pipeline`` /
``generate-pages`` for the web-text path.  Launch:

    spark-submit --py-files dqc_spark.zip -m dqc_spark.cli ...   # cluster
    python -m dqc_spark.cli check-unique --data f.csv --column id  # local
"""

from __future__ import annotations

import argparse
import sys

from dqc_spark.audit import SQLiteAuditSink
from dqc_spark.checks import DataQualityChecker
from dqc_spark.session import get_spark


def _add_common(p, needs_column=True):
    p.add_argument("--data", required=True, help="path to the data file")
    if needs_column:
        p.add_argument("--column", required=True)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="dqc-spark", description="Data quality checks on Spark"
    )
    ap.add_argument("--db-path", default="quality_checks.db",
                    help="SQLite audit log path (reference parity)")
    sub = ap.add_subparsers(dest="cmd", required=True)

    simple = {
        "check-unique": [],
        "check-not-null": [],
        "check-date-parseable": [],
        "check-column-exists": [],
    }
    for name in simple:
        _add_common(sub.add_parser(name))

    p = sub.add_parser("check-enum")
    _add_common(p)
    p.add_argument("--values", required=True, help="comma-separated allowed values")

    p = sub.add_parser("check-completeness")
    _add_common(p)
    p.add_argument("--max-fraction", type=float, required=True,
                   help="maximum allowed NULL fraction (0.0 = not-null)")

    p = sub.add_parser("check-freshness")
    _add_common(p)
    p.add_argument("--newer-than", required=True,
                   help="ISO timestamp (UTC): the newest value must be "
                        "at or after this")

    p = sub.add_parser("check-references")
    p.add_argument("--data", required=True)
    p.add_argument("--reference", required=True)
    p.add_argument("--columns", required=True, help="comma-separated join keys")

    for name in ("check-between", "check-max", "check-min", "check-mean",
                 "check-median"):
        p = sub.add_parser(name)
        _add_common(p)
        p.add_argument("--min", type=float, default=0.0)
        p.add_argument("--max", type=float, default=0.0)

    p = sub.add_parser("check-regex")
    _add_common(p)
    p.add_argument("--regex", required=True)

    p = sub.add_parser("check-type")
    _add_common(p)
    p.add_argument("--type", required=True, dest="type_name",
                   help="DuckDB type name, e.g. INTEGER, VARCHAR, DATE")

    p = sub.add_parser("check-length")
    _add_common(p)
    p.add_argument("--min", type=int, default=0)
    p.add_argument("--max", type=int, default=0)

    for name in ("check-row-count", "check-col-count"):
        p = sub.add_parser(name)
        _add_common(p, needs_column=False)
        p.add_argument("--min", type=int, default=0)
        p.add_argument("--max", type=int, default=0)

    p = sub.add_parser("check-not-in-set")
    _add_common(p)
    p.add_argument("--values", required=True)

    p = sub.add_parser("check-distinct-in-set")
    _add_common(p)
    p.add_argument("--values", required=True)

    p = sub.add_parser("check-increasing")
    _add_common(p)
    p.add_argument("--order-column", default=None,
                   help="explicit order column (required for distributed "
                         "data; omitting falls back to file order on a "
                         "single partition)")

    p = sub.add_parser("check-date-format")
    _add_common(p)
    p.add_argument("--format", required=True, dest="fmt",
                   help="strftime format, e.g. %%Y-%%m-%%d")

    p = sub.add_parser("check-pair-equal")
    p.add_argument("--data", required=True)
    p.add_argument("--column-a", required=True)
    p.add_argument("--column-b", required=True)

    sub.add_parser("show-logs")
    sub.add_parser("clean-logs")

    p = sub.add_parser("pipeline", help="run the document quality pipeline")
    p.add_argument("--input", required=True, help="pages parquet path")
    p.add_argument("--output", required=True)
    p.add_argument("--audit", required=True, help="audit parquet path")
    p.add_argument("--run-group", default="default")

    p = sub.add_parser("generate-pages", help="write a synthetic pages table")
    p.add_argument("--output", required=True)
    p.add_argument("--docs", type=int, default=10000)

    p = sub.add_parser(
        "ingest-warc",
        help="read WARC archive(s) into the pages table shape "
             "(url, warc_ts, html, text, lang) as parquet",
    )
    p.add_argument("--input", required=True,
                   help="WARC file, dir or glob (.warc / .warc.gz)")
    p.add_argument("--output", required=True, help="pages parquet path")
    p.add_argument("--raw", action="store_true",
                   help="skip text extraction + langid; emit "
                        "(url, warc_ts, html) only")
    p.add_argument("--main-content", action="store_true",
                   help="extract only the block-classified article "
                        "text (drop nav/footer/link boxes) instead of "
                        "everything textual")

    p = sub.add_parser(
        "curate",
        help="full corpus curation: gates -> dedup -> domain quota -> pack",
    )
    p.add_argument("--config", default=None,
                   help="JSON pipeline spec: an object whose keys are "
                        "these flag names (dashes or underscores) — "
                        "true emits a switch, dicts render as k=v "
                        "lists (--split), arrays join with commas; "
                        "flags typed on the command line override the "
                        "file.  A versioned config is the reproducible "
                        "form of a production curation run")
    p.add_argument("--print-config", action="store_true",
                   help="print the effective configuration (file + "
                        "command line merged, non-default flags only) "
                        "as --config-ready JSON and exit without "
                        "running — freeze a flag invocation into a "
                        "versioned pipeline spec")
    p.add_argument("--input", required=True, help="pages parquet path")
    p.add_argument("--output", required=True)
    p.add_argument("--output-format", choices=["parquet", "snapshot"],
                   default="parquet",
                   help="'snapshot' writes a snapshot-versioned table "
                        "(snaptable.py): the whole curated corpus lands "
                        "as ONE atomic commit — a crashed run leaves no "
                        "half-visible output, and prior versions stay "
                        "readable by time travel")
    p.add_argument("--near-dup-threshold", type=float, default=0.7,
                   help="MinHash Jaccard threshold; negative disables")
    p.add_argument("--max-ppl", type=float, default=-1.0,
                   help="perplexity-gate cutoff (<0 = library default); "
                        "tune together with --ppl-model when scoring "
                        "against a domain-trained LM")
    p.add_argument("--ppl-model", default=None,
                   help="bigram-LM parquet written by train-lm: the "
                        "CCNet loop (train on a trusted slice, score "
                        "the crawl); omit for the built-in LM")
    p.add_argument("--domain-quota", type=int, default=0,
                   help="max docs per domain (0 = unlimited)")
    p.add_argument("--pack-budget", type=int, default=0,
                   help="tokens per context-window bin (0 = no packing)")
    p.add_argument("--prior", default=None,
                   help="prior-corpus parquet: drop already-ingested content")
    p.add_argument("--normalize", action="store_true",
                   help="NFC/control/whitespace canonicalization first")
    p.add_argument("--fix-encoding", action="store_true",
                   help="repair UTF-8-as-cp1252 mojibake before any "
                        "other text stage")
    p.add_argument("--line-dedup-min-len", type=int, default=0,
                   help="corpus line dedup for lines >= N chars (0 = off)")
    p.add_argument("--line-dedup-unit", default="line",
                   choices=["line", "paragraph"],
                   help="hash unit for --line-dedup-min-len: C4-style "
                        "lines or CCNet-style blank-line paragraphs")
    p.add_argument("--benchmark", default=None,
                   help="eval-set parquet: decontaminate against its n-grams")
    p.add_argument("--mix-alpha", type=float, default=-1.0,
                   help="temperature mix exponent by domain (<0 = off)")
    p.add_argument("--blocked-domains", default=None,
                   help="comma-separated domains, or a parquet/csv path "
                        "with a 'domain' column: drop these hosts and "
                        "their subdomains first (UT1-style)")
    p.add_argument("--repetition-gates", default=None,
                   help="Gopher repetition drop rules as "
                        "'signal=thr,...', e.g. "
                        "'dup_5gram_char_frac=0.15,dup_para_frac=0.3'")
    p.add_argument("--c4-lines", action="store_true",
                   help="C4-style line cleaning + page gate before "
                        "scoring (terminal-punct >=5-word lines; drop "
                        "lorem-ipsum/curly pages, <3 sentences)")
    p.add_argument("--robots", default=None,
                   help="(host, robots_txt) parquet: drop pages their "
                        "host's robots.txt disallows (RFC 9309)")
    p.add_argument("--robots-ua", default="*",
                   help="user agent evaluated against robots groups")
    p.add_argument("--toxic-words", default=None,
                   help="blocklist file (one term per line, # comments):"
                        " gate documents on blocked-token fraction")
    p.add_argument("--max-toxicity", type=float, default=0.0,
                   help="max blocked-token fraction kept (default 0.0 ="
                        " one blocked token drops the page)")
    p.add_argument("--stage-metrics", action="store_true",
                   help="print per-stage surviving row counts (one "
                        "extra count job per enabled stage)")
    p.add_argument("--gate-thresholds", default=None,
                   help="override gate thresholds, e.g. "
                        "'min_words=8,min_alpha_ratio=0.6' — the "
                        "calibrate verb prints this form from a "
                        "trusted corpus")
    p.add_argument("--report", action="store_true",
                   help="print the per-language data card of the "
                        "curated output (report.py, one extra "
                        "aggregation over the written corpus)")
    p.add_argument("--split", default=None,
                   help="emit a deterministic 'split' column, e.g. "
                        "'train=0.8,val=0.1,test=0.1' (pure function "
                        "of the key: docs keep their slice across "
                        "re-curations)")
    p.add_argument("--langid-model", default=None,
                   help="(lang, gram, weight) model parquet from "
                        "train-langid: swap the language-ID profile "
                        "for the trained one")
    p.add_argument("--incremental", action="store_true",
                   help="curate only content never processed before "
                        "(digest state at <output>_ingested) and APPEND "
                        "to the output; each run logs an audit row")
    p.add_argument("--audit", default=None,
                   help="audit table path for --incremental "
                        "(default <output>_audit)")
    p.add_argument("--run-group", default="incremental",
                   help="audit input_snapshot label for --incremental "
                        "runs")
    p.add_argument("--near-index", default=None,
                   help="persisted MinHash band index path for "
                        "--incremental: drop increment docs that are "
                        "near-dups of PRIOR runs' survivors (prior "
                        "text is never re-read) and append this run's "
                        "survivors to the index; first run creates it")
    p.add_argument("--near-index-threshold", type=float, default=0.7,
                   help="estimated-Jaccard cut for --near-index "
                        "(default 0.7)")

    p = sub.add_parser("profile",
                       help="per-column null/distinct/min/max, one scan")
    p.add_argument("--data", required=True)
    p.add_argument("--approx", action="store_true",
                   help="HLL distinct counts (the at-scale path)")

    p = sub.add_parser("calibrate",
                       help="derive gate thresholds from a TRUSTED "
                            "corpus (tail quantiles of its feature "
                            "distribution, the CCNet/Gopher practice)")
    p.add_argument("--trusted", required=True,
                   help="trusted docs parquet (e.g. a wiki slice)")
    p.add_argument("--text-column", default="text")
    p.add_argument("--quantile", type=float, default=0.02,
                   help="tail mass per bound: at most ~this fraction "
                        "of trusted-like docs drops per gate")
    p.add_argument("--output", default=None,
                   help="optional JSON file (feeds curate --config "
                        "as {\"gate_thresholds\": {...}})")

    p = sub.add_parser("report",
                       help="corpus data card: per-group doc/char/token "
                            "counts, length mix and corpus share "
                            "(markdown to stdout)")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="docs parquet path")
    src.add_argument("--table", help="snapshot table root (data card "
                                     "of a committed version)")
    p.add_argument("--version", type=int, default=None,
                   help="with --table: the version to report "
                        "(default: current) — the data card of the "
                        "corpus as of any commit")
    p.add_argument("--group-column", default="lang")
    p.add_argument("--text-column", default="text")
    p.add_argument("--short-chars", type=int, default=200,
                   help="docs under this many chars count as short")
    p.add_argument("--long-chars", type=int, default=2000,
                   help="docs at/over this many chars count as long")
    p.add_argument("--output", default=None,
                   help="optional parquet destination for the report")

    p = sub.add_parser("shard",
                       help="deterministic fixed-size training shards "
                            "(shard=N/ parquet layout)")
    p.add_argument("--input", required=True, help="docs parquet path")
    p.add_argument("--output", required=True)
    p.add_argument("--docs-per-shard", type=int, required=True)
    p.add_argument("--key-column", default="doc_id")
    p.add_argument("--text-column", default="text")
    p.add_argument("--format", default="parquet",
                   choices=["parquet", "json"],
                   help="sink encoding (json = JSON Lines)")
    p.add_argument("--compression", default=None,
                   help="codec passed to the writer (e.g. gzip)")
    p.add_argument("--manifest", action="store_true",
                   help="also write _shards_manifest.json: per-shard "
                        "row counts + per-file bytes/md5 (executor-"
                        "side hashing) for transfer verification")

    p = sub.add_parser("verify-shards",
                       help="check a shard export against its "
                            "_shards_manifest.json (distributed "
                            "re-hash; rc 1 on any mismatch)")
    p.add_argument("--input", required=True, help="shard export dir")

    p = sub.add_parser("mix-epochs",
                       help="materialize a fixed-budget temperature "
                            "mix: epoch-tagged rows, rare sources "
                            "repeated past one epoch (run AFTER dedup)")
    p.add_argument("--input", required=True, help="docs parquet path")
    p.add_argument("--output", required=True)
    p.add_argument("--alpha", type=float, default=0.5,
                   help="temperature exponent (1 = raw mix, 0 = uniform)")
    p.add_argument("--budget-docs", type=int, default=None,
                   help="output row budget (default: the input size)")
    p.add_argument("--max-epochs", type=int, default=None,
                   help="cap full passes per source")
    p.add_argument("--source-column", default="source")
    p.add_argument("--key-column", default="doc_id")
    p.add_argument("--weight-column", default=None,
                   help="budget in this column's sum (e.g. token "
                        "counts) instead of documents")

    p = sub.add_parser("pack-sequences",
                       help="GPT-style fixed-length sequence-packing "
                            "manifest (seq_id, doc slice) parquet")
    p.add_argument("--input", required=True, help="docs parquet path")
    p.add_argument("--output", required=True)
    p.add_argument("--seq-len", type=int, required=True)
    p.add_argument("--eos-tokens", type=int, default=1)
    p.add_argument("--key-column", default="doc_id")
    p.add_argument("--text-column", default="text")
    p.add_argument("--tokens-column", default=None,
                   help="pack by this precomputed token-count column "
                        "instead of the whitespace rule")

    p = sub.add_parser("normalize",
                       help="NFC + control-strip + whitespace canonicalization")
    p.add_argument("--input", required=True, help="docs parquet path")
    p.add_argument("--output", required=True)
    p.add_argument("--text-column", default="text")
    p.add_argument("--fix-encoding", action="store_true",
                   help="repair UTF-8-as-cp1252 mojibake first (before "
                        "the control-strip destroys its evidence)")

    p = sub.add_parser("dedup-lines",
                       help="corpus-level line dedup (CCNet-style)")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--key-column", default="doc_id")
    p.add_argument("--text-column", default="text")
    p.add_argument("--min-dup-len", type=int, default=10)

    p = sub.add_parser("decontaminate",
                       help="drop docs overlapping a benchmark's n-grams")
    p.add_argument("--input", required=True)
    p.add_argument("--benchmark", required=True, help="eval-set parquet path")
    p.add_argument("--output", required=True)
    p.add_argument("--key-column", default="doc_id")
    p.add_argument("--text-column", default="text")
    p.add_argument("--ngram", type=int, default=13,
                   help="overlap n-gram size (13 is the common eval guard)")
    p.add_argument("--max-frac", type=float, default=0.5)

    p = sub.add_parser("source-overlap",
                       help="cross-source duplicate-overlap matrix")
    p.add_argument("--data", required=True, help="docs parquet path")
    p.add_argument("--source-column", default="source")
    p.add_argument("--text-column", default="text")

    p = sub.add_parser("induce-blocklist",
                       help="induce a domain blocklist from a curated "
                            "run's keep decisions (low keep-rate hosts)")
    p.add_argument("--data", required=True,
                   help="curated parquet with url + keep columns")
    p.add_argument("--url-column", default="url")
    p.add_argument("--keep-column", default="keep")
    p.add_argument("--max-keep-rate", type=float, default=0.25,
                   help="block domains kept at or below this rate")
    p.add_argument("--min-docs", type=int, default=10,
                   help="ignore hosts with fewer observed pages")
    p.add_argument("--output", default=None,
                   help="write the blocklist parquet here (feeds "
                        "curate --blocked-domains on the next run)")

    p = sub.add_parser("audit-anomalies",
                       help="flag check runs whose error_count deviates "
                            "from that check's history (median/MAD)")
    p.add_argument("--audit", required=True, help="audit parquet path")
    p.add_argument("--k", type=int, default=3,
                   help="flag deviations beyond k median-absolute-"
                        "deviations")
    p.add_argument("--value-column", default="error_count")

    p = sub.add_parser("train-langid",
                       help="train the fastText-style langid profile "
                            "model from a lang-labeled corpus (one "
                            "distributed counting pass); writes a "
                            "(lang, gram, weight) parquet for "
                            "curate --langid-model")
    p.add_argument("--input", required=True,
                   help="labeled parquet: text + lang columns")
    p.add_argument("--output", required=True, help="model parquet path")
    p.add_argument("--text-column", default="text")
    p.add_argument("--lang-column", default="lang")
    p.add_argument("--max-trigrams", type=int, default=20000,
                   help="profile cap per language")

    p = sub.add_parser("train-lm",
                       help="train the add-k bigram perplexity LM on a "
                            "trusted slice (CCNet: train on reference "
                            "text, score the crawl); writes a parquet "
                            "for curate --ppl-model")
    p.add_argument("--input", required=True,
                   help="trusted-slice parquet with a text column")
    p.add_argument("--output", required=True, help="model parquet path")
    p.add_argument("--text-column", default="text")
    p.add_argument("--max-vocab", type=int, default=65536)
    p.add_argument("--min-count", type=int, default=1)
    p.add_argument("--max-bigrams", type=int, default=2_000_000)
    p.add_argument("--smoothing-k", type=float, default=0.1,
                   help="add-k smoothing constant")

    p = sub.add_parser("tag",
                       help="one tagging pass -> narrow per-document "
                            "attribute table (Dolma-style: tag once, "
                            "re-filter many times)")
    p.add_argument("--input", required=True, help="pages parquet path")
    p.add_argument("--output", required=True, help="attribute parquet path")
    p.add_argument("--key-column", default="url")
    p.add_argument("--text-column", default="text")
    p.add_argument("--lang-column", default="lang",
                   help="claimed-language column stored for the "
                        "mismatch gate ('' = none)")

    p = sub.add_parser("pii-spans",
                       help="write the span-level PII/toxicity "
                            "attribute table: (key, rule, start, end, "
                            "replacement) offsets into the original "
                            "text — tag once, re-redact many")
    p.add_argument("--input", required=True, help="pages parquet path")
    p.add_argument("--output", required=True)
    p.add_argument("--key-column", default="url")
    p.add_argument("--text-column", default="text")

    p = sub.add_parser("redact",
                       help="apply a stored span table to a corpus; "
                            "--rules replays a subset (policy change "
                            "without a regex re-scan).  With all rules "
                            "the output text is byte-identical to the "
                            "scrub stage")
    p.add_argument("--input", required=True, help="pages parquet path")
    p.add_argument("--spans", required=True,
                   help="span parquet written by 'pii-spans'")
    p.add_argument("--output", required=True)
    p.add_argument("--key-column", default="url")
    p.add_argument("--text-column", default="text")
    p.add_argument("--rules", default=None,
                   help="comma-separated rule subset to replay "
                        "(default: all stored rules)")

    p = sub.add_parser("apply-attributes",
                       help="filter a corpus by a stored attribute "
                            "table; --thresholds re-gates from the "
                            "stored features (pure Catalyst, no "
                            "re-tagging)")
    p.add_argument("--input", required=True, help="pages parquet path")
    p.add_argument("--attributes", required=True,
                   help="attribute parquet written by 'tag'")
    p.add_argument("--output", required=True)
    p.add_argument("--key-column", default="url")
    p.add_argument("--thresholds", default=None,
                   help="gate overrides 'min_words=150,...'; omit to "
                        "use the stored keep decision")
    p.add_argument("--max-ppl", type=float, default=-1.0,
                   help="re-gate perplexity cutoff (<0 = default)")

    p = sub.add_parser("snapshot-new",
                       help="keep only docs unseen in a prior snapshot")
    p.add_argument("--input", required=True, help="new snapshot parquet")
    p.add_argument("--prior", required=True, help="prior corpus parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--text-column", default="text")
    p.add_argument("--bloom-bits", type=int, default=0,
                   help="enable the bloom prefilter with this many bits "
                        "(0 = exact anti-join only)")

    p = sub.add_parser("table-history",
                       help="list a snapshot table's committed versions "
                            "(see curate --output-format snapshot)")
    p.add_argument("--table", required=True, help="snapshot table root")

    p = sub.add_parser("table-compact",
                       help="rewrite a snapshot table's live version into "
                            "fewer files (audit tables accrete one file "
                            "per flush)")
    p.add_argument("--table", required=True)
    p.add_argument("--max-files", type=int, default=1)

    p = sub.add_parser("table-expire",
                       help="drop all but the newest N versions and "
                            "reclaim their files")
    p.add_argument("--table", required=True)
    p.add_argument("--keep-last", type=int, default=2)

    p = sub.add_parser("table-vacuum",
                       help="delete data files no committed version "
                            "references (crashed-writer orphans)")
    p.add_argument("--table", required=True)

    p = sub.add_parser("table-rollback",
                       help="revert the table to an older version's "
                            "contents as a NEW metadata-only commit "
                            "(the bad-run escape hatch)")
    p.add_argument("--table", required=True)
    p.add_argument("--to", dest="to_version", type=int, required=True,
                   help="version whose contents become current again")

    p = sub.add_parser("table-diff",
                       help="added/removed/changed keys between two "
                            "snapshot versions (the what-did-run-N-do "
                            "audit)")
    p.add_argument("--table", required=True)
    p.add_argument("--keys", required=True,
                   help="comma-separated key column(s), e.g. url")
    p.add_argument("--from", dest="v_from", type=int, required=True,
                   help="older version number")
    p.add_argument("--to", dest="v_to", type=int, default=None,
                   help="newer version number (default: current)")
    p.add_argument("--output", default=None,
                   help="optional parquet destination for the full diff")
    p.add_argument("--limit", type=int, default=20,
                   help="max rows printed (the parquet output is "
                        "never truncated)")

    return ap


def _parse_blocked(spark, spec: str | None):
    """--blocked-domains value: a file path (UT1-scale lists) or an
    inline comma-separated list; None stays None.

    Anything path-shaped — contains a '/', or names an existing file —
    is READ, never comma-split: UT1 lists ship as extensionless
    ``domains`` text files, and silently turning a typo'd path into one
    bogus inline 'domain' would no-op the whole blocklist.  .parquet
    and .csv read as a 'domain'-column table; any other path reads as
    one-domain-per-line text.  A path that doesn't exist errors."""
    import os

    from pyspark.sql import functions as F

    if not spec:
        return None
    if spec.endswith(".parquet"):
        return spark.read.parquet(spec)
    if spec.endswith(".csv"):
        return spark.read.option("header", "true").csv(spec)
    if "/" in spec or os.path.exists(spec):
        return (spark.read.text(spec)
                .select(F.trim("value").alias("domain"))
                .filter(F.col("domain") != ""))
    return [d.strip() for d in spec.split(",") if d.strip()]


def _parse_kv_floats(spec: str) -> dict:
    """'name=0.8,other=0.1' -> {'name': 0.8, 'other': 0.1} — shared by
    --repetition-gates and --split (one parser, one error surface)."""
    out = {}
    for kv in spec.split(","):
        if "=" not in kv:
            raise SystemExit(
                f"error: expected name=value, got {kv.strip()!r}")
        k, v = kv.split("=", 1)
        k = k.strip()
        if k in out:
            # last-wins would silently drop a slice (e.g. --split
            # train=0.8,train=0.1,test=0.1 parsing to 2 slices)
            raise SystemExit(f"error: duplicate key {k!r}")
        try:
            out[k] = float(v)
        except ValueError:
            raise SystemExit(
                f"error: {k!r} needs a numeric value, "
                f"got {v.strip()!r}") from None
    return out


def _curate_flag_actions() -> dict:
    """{long-flag-name (no --): argparse action} for the curate verb —
    introspected from the live parser so the config schema can never
    drift from the flag surface."""
    ap = build_parser()
    spa = next(a for a in ap._actions
               if isinstance(a, argparse._SubParsersAction))
    out = {}
    for act in spa.choices["curate"]._actions:
        for s in act.option_strings:
            if s.startswith("--"):
                out[s[2:]] = act
    return out


def _config_to_flags(path: str) -> list:
    """Render a JSON pipeline spec into curate CLI flags.

    Keys are the curate flag names (dashes or underscores); values:
    ``true`` emits the bare flag, ``false``/``null`` omit it, dicts
    render as the ``k=v,...`` form (--split / --repetition-gates),
    lists join with commas (--blocked-domains), and
    scalars stringify.  Unknown keys are an error, not a warning — a
    typo'd stage name must not silently skip the stage."""
    import json

    try:
        with open(path) as f:
            cfg = json.load(f)
    except OSError as e:
        raise SystemExit(f"error: cannot read --config {path}: {e}")
    except ValueError as e:
        raise SystemExit(f"error: --config {path} is not valid JSON: {e}")
    if not isinstance(cfg, dict):
        raise SystemExit("error: --config must be a JSON object of "
                         "curate flags")
    actions = _curate_flag_actions()
    flags: list = []
    for key, val in cfg.items():
        name = str(key).replace("_", "-")
        if name in ("config", "help"):
            raise SystemExit(f"error: config key {key!r} is not allowed "
                             "inside a config file")
        act = actions.get(name)
        if act is None:
            known = ", ".join(sorted(k for k in actions
                                     if k not in ("config", "help")))
            raise SystemExit(f"error: unknown config key {key!r} "
                             f"(curate flags: {known})")
        is_switch = act.nargs == 0  # store_true flags
        if val is None or val is False:
            continue  # explicit "not set"
        if val is True:
            if not is_switch:
                raise SystemExit(f"error: config key {key!r} needs a "
                                 "value, not true")
            flags.append(f"--{name}")
            continue
        if is_switch:
            raise SystemExit(f"error: config key {key!r} is a switch — "
                             "use true/false")
        if isinstance(val, dict):
            body = ",".join(f"{k}={v}" for k, v in val.items())
        elif isinstance(val, list):
            body = ",".join(str(v) for v in val)
        else:
            body = str(val)
        flags.extend([f"--{name}", body])
    return flags


def _effective_config_json(args) -> str:
    """The EFFECTIVE curate configuration (file + command line merged,
    non-default flags only) as a JSON object that round-trips through
    ``--config`` — freeze a hand-built flag invocation into a versioned
    pipeline spec with ``curate ... --print-config > pipeline.json``."""
    import json

    out = {}
    for name, act in sorted(_curate_flag_actions().items()):
        if name in ("config", "print-config", "help"):
            continue
        val = getattr(args, act.dest)
        if val == act.default:
            continue
        out[name.replace("-", "_")] = True if act.nargs == 0 else val
    return json.dumps(out, indent=2, sort_keys=True)


def _expand_config_argv(argv: list) -> list:
    """Pre-parse pass: when the curate verb carries ``--config``, expand
    the JSON spec into flags injected right AFTER the subcommand — flags
    the user typed come later in argv, so argparse's last-wins makes the
    command line override the file (switches are opt-in only: a config
    ``true`` cannot be un-set from the CLI)."""
    # locate the subcommand token (skip the one pre-subcommand option)
    i = 0
    sub_ix = None
    while i < len(argv):
        a = argv[i]
        if a == "--db-path":
            i += 2
            continue
        if a.startswith("--db-path=") or a.startswith("-"):
            i += 1
            continue
        sub_ix = i
        break
    if sub_ix is None or argv[sub_ix] != "curate":
        return argv
    rest = argv[sub_ix + 1:]
    cfg_path = None
    j = 0
    while j < len(rest):
        a = rest[j]
        if a == "--config":
            if j + 1 >= len(rest):
                raise SystemExit("error: --config needs a path")
            cfg_path = rest[j + 1]
            j += 2
        elif a.startswith("--config="):
            cfg_path = a.split("=", 1)[1]
            j += 1
        else:
            j += 1
    if cfg_path is None:
        return argv
    return (argv[:sub_ix + 1] + _config_to_flags(cfg_path) + rest)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else list(argv)
    try:
        argv = _expand_config_argv(argv)
    except SystemExit as e:
        if isinstance(e.code, str):
            print(e.code, file=sys.stderr)
            return 2
        raise
    args = build_parser().parse_args(argv)
    if args.cmd == "curate" and args.print_config:
        # pure print — runs BEFORE the SparkSession spins up
        print(_effective_config_json(args))
        return 0
    spark = get_spark(app_name=f"dqc-{args.cmd}")
    sink = SQLiteAuditSink(args.db_path)
    ck = DataQualityChecker(spark, audit_sink=sink)

    def report(res):
        state = "PASS" if res.passed else "FAIL"
        extra = ""
        if res.error_count is not None:
            extra = f" error_count={res.error_count}"
        if res.observed is not None:
            extra += f" observed={res.observed}"
        print(f"[{state}] {res.check_type}{extra}")
        return 0 if res.passed else 1

    c = args.cmd
    if c == "check-unique":
        return report(ck.is_column_unique(args.data, args.column))
    if c == "check-not-null":
        return report(ck.is_column_not_null(args.data, args.column))
    if c == "check-enum":
        vals = [v.strip() for v in args.values.split(",")]
        return report(ck.is_column_enum(args.data, args.column, vals))
    if c == "check-references":
        keys = [k.strip() for k in args.columns.split(",")]
        return report(
            ck.are_tables_referential_integral(args.data, args.reference, keys))
    if c == "check-completeness":
        return report(ck.is_column_null_fraction_max(
            args.data, args.column, args.max_fraction))
    if c == "check-freshness":
        return report(ck.is_column_fresh(
            args.data, args.column, args.newer_than))
    if c == "check-column-exists":
        return report(ck.is_column_in_data(args.data, args.column))
    if c == "check-between":
        return report(ck.is_column_between(args.data, args.column, args.min, args.max))
    if c == "check-regex":
        return report(ck.is_column_regex_match(args.data, args.column, args.regex))
    if c == "check-type":
        return report(ck.is_column_of_type(args.data, args.column, args.type_name))
    if c == "check-length":
        return report(
            ck.is_column_length_between(args.data, args.column, args.min, args.max))
    if c == "check-max":
        return report(
            ck.is_column_max_between(args.data, args.column, args.min, args.max))
    if c == "check-min":
        return report(
            ck.is_column_min_between(args.data, args.column, args.min, args.max))
    if c == "check-mean":
        return report(
            ck.is_column_mean_between(args.data, args.column, args.min, args.max))
    if c == "check-median":
        return report(
            ck.is_column_median_between(args.data, args.column, args.min, args.max))
    if c == "check-date-format":
        return report(ck.is_column_date_format(args.data, args.column, args.fmt))
    if c == "check-row-count":
        return report(ck.is_table_row_count_between(args.data, args.min, args.max))
    if c == "check-col-count":
        return report(ck.is_table_column_count_between(args.data, args.min, args.max))
    if c == "check-not-in-set":
        vals = [v.strip() for v in args.values.split(",")]
        return report(ck.is_column_not_in_set(args.data, args.column, vals))
    if c == "check-distinct-in-set":
        vals = [v.strip() for v in args.values.split(",")]
        return report(ck.are_distinct_values_in_set(args.data, args.column, vals))
    if c == "check-increasing":
        return report(
            ck.is_column_increasing(args.data, args.column, args.order_column))
    if c == "check-date-parseable":
        return report(ck.is_column_date_parseable(args.data, args.column))
    if c == "check-pair-equal":
        return report(
            ck.are_column_pairs_equal(args.data, args.column_a, args.column_b))
    if c == "show-logs":
        for row in sink.all_logs():
            rid, ts, ctype, result, params = row
            state = "PASS" if result else "FAIL"
            print(f"{rid:>4}  {ts:<22} {ctype:<34} {state:<5} {params}")
        return 0
    if c == "clean-logs":
        sink.clear()
        print("logs cleared")
        return 0
    if c == "pipeline":
        from dqc_spark.audit import ParquetAuditSink
        from dqc_spark.resume import run_resumable

        pages = spark.read.parquet(args.input)
        audit = ParquetAuditSink(spark, args.audit)
        summary = run_resumable(spark, pages, args.output, audit, args.run_group)
        print(f"processed days: {summary['processed']}")
        print(f"skipped (already complete): {summary['skipped']}")
        return 0
    if c == "generate-pages":
        from dqc_spark.pagesgen import generate_pages

        generate_pages(spark, args.docs).write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.docs} pages to {args.output}")
        return 0
    if c == "ingest-warc":
        from dqc_spark.warc import read_warc, warc_to_pages

        if args.raw:
            if args.main_content:
                raise SystemExit(
                    "error: --raw and --main-content are mutually "
                    "exclusive")
            pages = read_warc(spark, args.input)
        else:
            pages = warc_to_pages(spark, args.input,
                                  main_content=args.main_content)
        pages.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"ingested {n} pages to {args.output}")
        return 0
    if c == "curate":
        from dqc_spark.langid import model_from_df
        from dqc_spark.lmtrain import lm_from_df
        from dqc_spark.pipeline import curate
        from dqc_spark.toxicity import load_wordlist

        # static flag checks BEFORE any Spark work
        if args.near_index and not args.incremental:
            print("error: --near-index requires --incremental "
                  "(the band index is cross-RUN state; a one-shot "
                  "curate would silently skip it)", file=sys.stderr)
            return 2
        if args.audit and not args.incremental:
            print("error: --audit requires --incremental",
                  file=sys.stderr)
            return 2
        pages = spark.read.parquet(args.input)
        try:
            # curate()'s own validation (bad split weights, thresholds)
            # surfaces as the parser's clean error, not a traceback
            gate_th = (_parse_kv_floats(args.gate_thresholds)
                       if args.gate_thresholds else None)
            if gate_th:
                from dqc_spark.gates import DEFAULT_THRESHOLDS

                unknown = set(gate_th) - set(DEFAULT_THRESHOLDS)
                if unknown:
                    # gate_predicates merges dicts, so a typo'd key
                    # would silently no-op — the repo's no-silent-noop
                    # rule says fail loudly instead
                    raise SystemExit(
                        f"curate: unknown gate threshold(s) "
                        f"{sorted(unknown)}; valid: "
                        f"{sorted(DEFAULT_THRESHOLDS)}")
            curate_kwargs = dict(
                thresholds=gate_th,
                near_dup_threshold=(args.near_dup_threshold
                                if args.near_dup_threshold >= 0 else None),
                max_ppl=(args.max_ppl if args.max_ppl >= 0 else None),
                lm=(lm_from_df(spark.read.parquet(args.ppl_model))
                    if args.ppl_model else None),
                domain_quota=args.domain_quota or None,
                pack_budget=args.pack_budget or None,
                prior=(spark.read.parquet(args.prior) if args.prior else None),
                normalize_text=args.normalize,
                fix_encoding=args.fix_encoding,
                robots=(spark.read.parquet(args.robots)
                        if args.robots else None),
                robots_user_agent=args.robots_ua,
                toxic_words=(load_wordlist(args.toxic_words)
                             if args.toxic_words else None),
                max_toxicity=args.max_toxicity,
                line_dedup_min_len=args.line_dedup_min_len or None,
                line_dedup_unit=args.line_dedup_unit,
                benchmark=(spark.read.parquet(args.benchmark)
                       if args.benchmark else None),
                mix_alpha=(args.mix_alpha if args.mix_alpha >= 0 else None),
                blocked_domains=_parse_blocked(spark, args.blocked_domains),
                repetition_thresholds=(
                _parse_kv_floats(args.repetition_gates)
                if args.repetition_gates else None
                ),
                c4_line_clean=args.c4_lines,
                stage_metrics=(stage_metrics := {}
                           if args.stage_metrics else None),
                split_weights=(_parse_kv_floats(args.split)
                               if args.split else None),
                langid_model=(
                    model_from_df(spark.read.parquet(args.langid_model))
                    if args.langid_model else None),
            )
            if args.incremental:
                if args.output_format == "snapshot":
                    raise SystemExit(
                        "error: --output-format snapshot is not supported "
                        "with --incremental (increments append to a plain "
                        "parquet output; atomic increments would need the "
                        "digest state inside the same commit)")
                from dqc_spark.audit import ParquetAuditSink
                from dqc_spark.resume import curate_incremental

                audit = ParquetAuditSink(
                    spark, args.audit or args.output.rstrip("/") + "_audit")
                # provenance: WHICH policy produced this increment —
                # the effective (file + flags merged) config rides the
                # run's audit trail in the params map, flushed together
                # with the increment row
                import json as _json

                audit.log("curate_config", True,
                          _json.loads(_effective_config_json(args)),
                          error_count=None, partition_id=0,
                          input_snapshot=args.run_group)
                summary = curate_incremental(
                    spark, pages, args.output, audit, args.run_group,
                    near_index_path=args.near_index,
                    near_index_threshold=args.near_index_threshold,
                    **curate_kwargs)
                if stage_metrics is not None:
                    for stage, n in stage_metrics.items():
                        print(f"stage {stage}: {n} docs")
                if summary["skipped"]:
                    print(f"incremental: nothing new "
                          f"({summary['n_input']} inputs all ingested)")
                else:
                    near = (f", {summary['n_near_dropped']} cross-run "
                            f"near-dups dropped" if args.near_index
                            else "")
                    print(f"incremental: {summary['n_new']} new of "
                          f"{summary['n_input']} inputs -> appended "
                          f"{summary['n_appended']} docs at "
                          f"{args.output}{near}")
                return 0
            cur = curate(pages, **curate_kwargs)
        except ValueError as e:
            raise SystemExit(f"error: {e}") from None
        if args.output_format == "snapshot":
            from dqc_spark import snaptable

            t = snaptable.SnapshotTable(spark, args.output)
            try:
                t.current_version()
            except FileNotFoundError:
                t = None
            if t is None:
                t = snaptable.create(spark, args.output, cur)
            else:
                t.overwrite(cur)
            out_df = t.read()
        else:
            cur.write.mode("overwrite").parquet(args.output)
            out_df = spark.read.parquet(args.output)
        if stage_metrics is not None:
            for stage, n in stage_metrics.items():
                print(f"stage {stage}: {n} docs")
        if args.report:
            from dqc_spark.report import corpus_report, report_markdown

            # same column validation as the standalone report verb: a
            # curated corpus without lang/text must surface as a clean
            # warning, not an AnalysisException traceback
            missing = [c_ for c_ in ("lang", "text")
                       if c_ not in out_df.columns]
            if missing:
                print(f"curate: --report skipped (curated output lacks "
                      f"column(s) {missing}; has {out_df.columns})")
            else:
                # out_df re-reads the WRITTEN corpus (multi-consumer
                # rule: never re-run the curation plan for a summary)
                print(report_markdown(corpus_report(out_df)))
        n_in = pages.count()
        n_out = out_df.count()
        print(f"curated {n_in} -> {n_out} docs at {args.output}")
        return 0
    if c == "profile":
        from dqc_spark.profile import profile_table
        from dqc_spark.sources import load_table

        df = load_table(spark, args.data)
        for r in profile_table(df, approx=args.approx).collect():
            print(f"{r['column']:<20} nulls={r['n_nulls']:<8} "
                  f"distinct={r['n_distinct']:<10} "
                  f"min={r['min_str']!r} max={r['max_str']!r}")
        return 0
    if c == "calibrate":
        import json

        from dqc_spark.gates import calibrate_thresholds

        df = spark.read.parquet(args.trusted)
        if args.text_column not in df.columns:
            raise SystemExit(
                f"calibrate: column {args.text_column!r} not in "
                f"{args.trusted} (has {df.columns})")
        try:
            th = calibrate_thresholds(
                df, text_col=args.text_column, quantile=args.quantile)
        except ValueError as e:
            raise SystemExit(f"calibrate: {e}") from None
        print(json.dumps(th, indent=1))
        kv = ",".join(f"{k}={v}" for k, v in th.items())
        print(f"--gate-thresholds {kv}")
        if args.output:
            with open(args.output, "w") as f:
                json.dump({"gate_thresholds": th}, f, indent=1)
            print(f"calibrated thresholds written to {args.output}")
        return 0
    if c == "report":
        from dqc_spark.cache import track
        from dqc_spark.report import corpus_report, report_markdown

        if args.version is not None and args.table is None:
            raise SystemExit("report: --version requires --table")
        if args.table is not None:
            from dqc_spark.snaptable import SnapshotTable

            t = SnapshotTable(spark, args.table)
            try:
                df = t.read(version=args.version)
            except (FileNotFoundError, ValueError) as e:
                raise SystemExit(f"report: {e}") from None
            src_desc = f"{args.table}@v{args.version}" \
                if args.version is not None else args.table
        else:
            df = spark.read.parquet(args.input)
            src_desc = args.input
        for col in (args.group_column, args.text_column):
            if col not in df.columns:
                raise SystemExit(
                    f"report: column {col!r} not in {src_desc} "
                    f"(has {df.columns})")
        try:
            rep = corpus_report(
                df, group_col=args.group_column,
                text_col=args.text_column,
                short_max_chars=args.short_chars,
                long_min_chars=args.long_chars)
        except ValueError as e:
            raise SystemExit(f"report: {e}") from None
        rep = track(rep)  # markdown + parquet: two consumers, one plan
        if args.output:
            rep.write.mode("overwrite").parquet(args.output)
        print(report_markdown(rep, group_col=args.group_column))
        if args.output:
            print(f"report written to {args.output}")
        return 0
    if c == "shard":
        from dqc_spark.ordering import write_shards

        docs = spark.read.parquet(args.input)
        if args.docs_per_shard <= 0:
            print("error: --docs-per-shard must be positive",
                  file=sys.stderr)
            return 2
        n = write_shards(docs, args.output, args.docs_per_shard,
                         key_col=args.key_column,
                         text_col=args.text_column,
                         fmt=args.format, compression=args.compression,
                         manifest=args.manifest)
        extra = " (+ _shards_manifest.json)" if args.manifest else ""
        print(f"wrote {n} shards to {args.output}{extra}")
        return 0
    if c == "verify-shards":
        from dqc_spark.ordering import verify_shards

        try:
            res = verify_shards(spark, args.input)
        except FileNotFoundError as e:
            raise SystemExit(f"verify-shards: {e}") from None
        for err in res["errors"]:
            print(f"  {err}")
        status = "OK" if res["ok"] else "FAILED"
        print(f"verify-shards {status}: {res['n_files']} files checked, "
              f"{len(res['errors'])} error(s)")
        return 0 if res["ok"] else 1
    if c == "mix-epochs":
        from dqc_spark.mixing import epoch_expand

        docs = spark.read.parquet(args.input)
        try:
            out = epoch_expand(
                docs, source_col=args.source_column,
                key_col=args.key_column, alpha=args.alpha,
                budget_docs=args.budget_docs, max_epochs=args.max_epochs,
                weight_col=args.weight_column)
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        out.write.mode("overwrite").parquet(args.output)
        # one aggregate pass for both counts — the expanded output is
        # larger than the input by construction, don't scan it twice
        from pyspark.sql import functions as F

        n, n_up = spark.read.parquet(args.output).agg(
            F.count(F.lit(1)),
            F.coalesce(F.sum(F.when(F.col("epoch") >= 1, 1)), F.lit(0)),
        ).first()
        print(f"wrote {n} epoch-tagged rows to {args.output} "
              f"({n_up} from repeat epochs)")
        return 0
    if c == "pack-sequences":
        from dqc_spark.seqpack import sequence_manifest

        if args.seq_len <= 0:
            print("error: --seq-len must be positive", file=sys.stderr)
            return 2
        if args.eos_tokens < 0:
            print("error: --eos-tokens must be >= 0", file=sys.stderr)
            return 2
        docs = spark.read.parquet(args.input)
        man = sequence_manifest(
            docs, args.seq_len, key_col=args.key_column,
            text_col=args.text_column, eos_tokens=args.eos_tokens,
            tokens_col=args.tokens_column)
        man.write.mode("overwrite").parquet(args.output)
        written = spark.read.parquet(args.output)
        n_seq = written.select("seq_id").distinct().count()
        print(f"wrote manifest for {n_seq} sequences of "
              f"{args.seq_len} tokens to {args.output}")
        return 0
    if c == "normalize":
        from pyspark.sql import functions as F

        from dqc_spark.normalize import normalized_col

        docs = spark.read.parquet(args.input)
        if args.fix_encoding:
            from dqc_spark.encodingfix import fix_mojibake_col

            docs = docs.withColumn(
                args.text_column, fix_mojibake_col(args.text_column))
        out = docs.withColumn(
            args.text_column, normalized_col(F.col(args.text_column))
        )
        out.write.mode("overwrite").parquet(args.output)
        print(f"normalized {args.input} -> {args.output}")
        return 0
    if c == "dedup-lines":
        from dqc_spark.linededup import dedup_lines

        docs = spark.read.parquet(args.input)
        out = dedup_lines(docs, args.key_column, args.text_column,
                          min_dup_len=args.min_dup_len)
        out.write.mode("overwrite").parquet(args.output)
        kept = spark.read.parquet(args.output)
        from pyspark.sql import functions as F

        row = kept.agg(F.sum("n_lines").alias("a"),
                       F.sum("n_lines_kept").alias("b")).first()
        print(f"line-dedup: kept {row['b']}/{row['a']} lines -> {args.output}")
        return 0
    if c == "decontaminate":
        from dqc_spark.decontam import decontaminate

        docs = spark.read.parquet(args.input)
        bench = spark.read.parquet(args.benchmark)
        out = decontaminate(docs, bench, args.key_column, args.text_column,
                            n=args.ngram, max_frac=args.max_frac)
        out.write.mode("overwrite").parquet(args.output)
        n_in, n_out = docs.count(), spark.read.parquet(args.output).count()
        print(f"decontaminate: {n_in} -> {n_out} docs at {args.output}")
        return 0
    if c == "source-overlap":
        from pyspark.sql import functions as F

        from dqc_spark.snapshot import source_overlap

        docs = spark.read.parquet(args.data)
        rows = source_overlap(
            docs, args.source_column, args.text_column
        ).orderBy(F.desc("n_shared"), "source_a", "source_b").collect()
        for r in rows:
            print(f"{r['n_shared']:>8}  {r['source_a']} ~ {r['source_b']}")
        print(f"source-overlap: {len(rows)} overlapping pairs")
        return 0
    if c == "train-langid":
        from dqc_spark.langid import model_to_df, train_langid_model

        labeled = spark.read.parquet(args.input)
        model = train_langid_model(
            labeled, lang_col=args.lang_column, text_col=args.text_column,
            max_trigrams_per_lang=args.max_trigrams)
        model_to_df(spark, model).write.mode("overwrite").parquet(args.output)
        print(f"trained langid profiles for {len(model['langs'])} "
              f"languages ({len(model['keys'])} grams) -> {args.output}")
        return 0
    if c == "train-lm":
        from dqc_spark.lmtrain import lm_to_df, train_bigram_lm

        trusted = spark.read.parquet(args.input)
        lm = train_bigram_lm(
            trusted, text_col=args.text_column, max_vocab=args.max_vocab,
            min_count=args.min_count, max_bigrams=args.max_bigrams,
            k=args.smoothing_k)
        lm_to_df(spark, lm).write.mode("overwrite").parquet(args.output)
        print(f"trained bigram LM: {len(lm['unigrams'])} words, "
              f"{len(lm['bigrams'])} bigrams -> {args.output}")
        return 0
    if c == "tag":
        from dqc_spark.attributes import tag as tag_attrs

        pages = spark.read.parquet(args.input)
        attrs = tag_attrs(
            pages, key_col=args.key_column, text_col=args.text_column,
            lang_col=args.lang_column or None)
        attrs.write.mode("overwrite").parquet(args.output)
        # counts re-read the written table: the tag frame embeds the
        # scoring Python stage (multi-consumer rule)
        written = spark.read.parquet(args.output)
        n = written.count()
        kept = written.filter("keep").count()
        print(f"tagged {n} docs -> {args.output} "
              f"(keep at tagging thresholds: {kept})")
        return 0
    if c == "pii-spans":
        from dqc_spark.piispans import pii_spans

        pages = spark.read.parquet(args.input)
        spans = pii_spans(pages, args.key_column, args.text_column)
        spans.write.mode("overwrite").parquet(args.output)
        written = spark.read.parquet(args.output)
        n = written.count()
        n_docs = written.select(args.key_column).distinct().count()
        print(f"tagged {n} spans across {n_docs} docs -> {args.output}")
        return 0
    if c == "redact":
        from dqc_spark.piispans import redact_spans

        pages = spark.read.parquet(args.input)
        spans = spark.read.parquet(args.spans)
        rules = ([r.strip() for r in args.rules.split(",") if r.strip()]
                 if args.rules else None)
        out = redact_spans(pages, spans, args.key_column,
                           args.text_column, rules=rules)
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"redacted {n} docs -> {args.output}")
        return 0
    if c == "apply-attributes":
        from dqc_spark.attributes import apply_filter, regate
        from dqc_spark.perplexity import DEFAULT_MAX_PPL

        pages = spark.read.parquet(args.input)
        attrs = spark.read.parquet(args.attributes)
        if args.thresholds or args.max_ppl >= 0:
            attrs = regate(
                attrs,
                thresholds=(_parse_kv_floats(args.thresholds)
                            if args.thresholds else None),
                max_ppl=(args.max_ppl if args.max_ppl >= 0
                         else DEFAULT_MAX_PPL))
        out = apply_filter(pages, attrs, key_col=args.key_column)
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"kept {n} of {pages.count()} docs -> {args.output}")
        return 0
    if c == "snapshot-new":
        from dqc_spark.snapshot import new_docs, new_docs_bloom

        snap = spark.read.parquet(args.input)
        prior = spark.read.parquet(args.prior)
        if args.bloom_bits:
            out = new_docs_bloom(snap, prior, args.text_column,
                                 n_bits=args.bloom_bits)
        else:
            out = new_docs(snap, prior, args.text_column)
        out.write.mode("overwrite").parquet(args.output)
        n_in, n_out = snap.count(), spark.read.parquet(args.output).count()
        print(f"snapshot-new: {n_in} -> {n_out} new docs at {args.output}")
        return 0
    if c in ("table-history", "table-compact", "table-expire",
             "table-vacuum", "table-diff", "table-rollback"):
        from dqc_spark.snaptable import SnapshotTable

        t = SnapshotTable(spark, args.table)
        try:
            t.current_version()
        except FileNotFoundError:
            raise SystemExit(
                f"error: no snapshot table at {args.table}") from None
        if c == "table-history":
            for h in t.history():
                props = "".join(
                    f"  {k}={v}" for k, v in sorted(h["props"].items()))
                print(f"v{h['version']:<4} {h['ts']}  "
                      f"{h['operation']:<20} files={h['n_files']:<5} "
                      f"rows={h['n_rows']}{props}")
        elif c == "table-compact":
            v = t.compact(args.max_files)
            m = t.manifest(v)
            print(f"compacted to v{v}: {len(m['files'])} files, "
                  f"{sum(fe['rows'] for fe in m['files'])} rows")
        elif c == "table-expire":
            expired = t.expire_snapshots(args.keep_last)
            print(f"expired versions: {expired or 'none'} "
                  f"(kept the newest {args.keep_last})")
        elif c == "table-rollback":
            from dqc_spark.snaptable import CommitConflict

            try:
                v = t.rollback(args.to_version)
            except (ValueError, CommitConflict) as e:
                raise SystemExit(f"table-rollback: {e}") from None
            m = t.manifest(v)
            print(f"rolled back to v{args.to_version} contents as v{v}: "
                  f"{len(m['files'])} files, "
                  f"{sum(fe['rows'] for fe in m['files'])} rows")
        elif c == "table-diff":
            from pyspark.sql import functions as F

            keys = [k.strip() for k in args.keys.split(",") if k.strip()]
            if not keys:
                raise SystemExit("table-diff: --keys must name at least "
                                 "one column")
            try:
                diff = t.diff_versions(keys, args.v_from, args.v_to)
            except (ValueError, FileNotFoundError) as e:
                raise SystemExit(f"table-diff: {e}") from None
            from dqc_spark.cache import track

            diff = track(diff)  # printed counts + rows + parquet: one plan
            counts = {r["change"]: r["n"] for r in
                      diff.groupBy("change")
                          .agg(F.count(F.lit(1)).alias("n")).collect()}
            if args.output:
                diff.write.mode("overwrite").parquet(args.output)
            shown = diff.orderBy("change", *keys).limit(args.limit).collect()
            for r in shown:
                key_str = " ".join(str(r[k]) for k in keys)
                print(f"{r['change']:<8} {key_str}  "
                      f"n_from={r['n_from']} n_to={r['n_to']}")
            to_v = args.v_to if args.v_to is not None \
                else t.current_version()
            dest = f" -> {args.output}" if args.output else ""
            print(f"table-diff v{args.v_from}->v{to_v}: "
                  f"added={counts.get('added', 0)} "
                  f"removed={counts.get('removed', 0)} "
                  f"changed={counts.get('changed', 0)}{dest}")
        else:
            removed = t.vacuum()
            print(f"vacuumed {len(removed)} orphan file(s)")
        return 0
    if c == "induce-blocklist":
        from pyspark.sql import functions as F

        from dqc_spark.urlops import induce_domain_blocklist

        df = spark.read.parquet(args.data)
        for col in (args.url_column, args.keep_column):
            if col not in df.columns:
                raise SystemExit(
                    f"induce-blocklist: column {col!r} not in {args.data} "
                    f"(has {df.columns})")
        bl = induce_domain_blocklist(
            df, args.url_column, args.keep_column,
            max_keep_rate=args.max_keep_rate, min_docs=args.min_docs)
        rows = bl.orderBy("keep_rate", "domain").collect()
        if args.output:
            bl.write.mode("overwrite").parquet(args.output)
        for r in rows:
            print(f"{r['keep_rate']:8.4f}  {r['n_keep']:>7}/"
                  f"{r['n_docs']:<7}  {r['domain']}")
        dest = f" -> {args.output}" if args.output else ""
        print(f"induce-blocklist: {len(rows)} domains at keep-rate <= "
              f"{args.max_keep_rate} over >= {args.min_docs} docs{dest}")
        return 0
    if c == "audit-anomalies":
        from pyspark.sql import functions as F

        from dqc_spark.monitor import audit_anomalies

        audit = spark.read.parquet(args.audit)
        if args.value_column not in audit.columns:
            raise SystemExit(
                f"audit-anomalies: column {args.value_column!r} not in "
                f"{args.audit} (has {audit.columns})")
        out = audit_anomalies(audit, k=args.k,
                              value_col=args.value_column)
        flagged = out.filter("is_anomaly").orderBy(
            F.desc("score"), "check_type", "run_id").collect()
        for r in flagged:
            sc = "inf" if r["score"] is None else f"{r['score']:.2f}"
            print(f"{sc:>8}  {r['check_type']:<24} run={r['run_id']} "
                  f"value={int(r['value'])} med={r['med']} mad={r['mad']}")
        print(f"audit-anomalies: {len(flagged)} anomalous runs "
              f"(k={args.k})")
        return 0
    raise SystemExit(f"unknown command {c}")


if __name__ == "__main__":
    sys.exit(main())
