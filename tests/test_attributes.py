"""Attribute store (attributes.py): tag once, re-filter many times.

Pins the contract that makes the pattern safe: regate over the STORED
attribute table reproduces annotate's keep decision exactly — for the
tagging thresholds and for any later threshold sweep — without a second
tagging pass, and the re-gating plan contains zero Python stages.
"""

import pytest
from pyspark.sql import functions as F

from dqc_spark.attributes import apply_filter, feature_cols, regate, tag
from dqc_spark.pagesgen import generate_pages
from dqc_spark.pipeline import annotate

TIGHT = {"min_words": 150, "min_stopword_ratio": 0.12}


@pytest.fixture(scope="module")
def pages(spark):
    # one row per url: pagesgen plants duplicate urls (for the uniqueness
    # checks) and this suite keys every comparison by url
    df = generate_pages(spark, 400, n_partitions=4)
    return df.dropDuplicates(["url"]).persist()


@pytest.fixture(scope="module")
def attrs(spark, pages, tmp_path_factory):
    # one tagging pass, written to parquet and read back — the stored-
    # table shape every test below re-filters from (and what makes the
    # pure-Catalyst plan assertion honest: no tag lineage in the frame)
    path = str(tmp_path_factory.mktemp("attrs") / "attrs.parquet")
    tag(pages).write.parquet(path)
    return spark.read.parquet(path)


def _keyed(df, flag_col="keep"):
    return {r["url"]: r[flag_col] for r in df.select("url", flag_col).collect()}


def test_attrs_are_narrow(attrs):
    assert "text" not in attrs.columns and "html" not in attrs.columns
    for c in ["url", "lang", "keep", "lang_pred", "ppl"] + feature_cols():
        assert c in attrs.columns, c


def test_tag_keep_matches_annotate(pages, attrs):
    want = _keyed(annotate(pages))
    got = _keyed(attrs)
    assert got == want and len(got) == pages.count()


def test_regate_default_is_identity(attrs):
    re = regate(attrs)
    assert _keyed(re) == _keyed(attrs)
    # the gate bits survive too, not just the fold
    gate_cols = [c for c in attrs.columns if c.startswith("gate_")]
    a = attrs.select("url", *gate_cols).orderBy("url").collect()
    b = re.select("url", *gate_cols).orderBy("url").collect()
    assert a == b


def test_regate_matches_fresh_annotate_at_new_thresholds(pages, attrs):
    """The headline property: threshold sweeps from stored attributes
    equal a full re-tagging pass, bit for bit."""
    want = _keyed(annotate(pages, thresholds=TIGHT))
    got = _keyed(regate(attrs, thresholds=TIGHT))
    assert got == want
    # and the sweep actually changed something, or the test proves nothing
    assert got != _keyed(attrs)


def test_regate_max_ppl_sweep(pages, attrs):
    want = _keyed(annotate(pages, max_ppl=50.0))
    assert _keyed(regate(attrs, max_ppl=50.0)) == want


def test_regate_without_stored_lang_skips_mismatch_gate(attrs):
    no_lang = attrs.drop("lang")
    re = regate(no_lang, thresholds=TIGHT)
    assert "gate_lang_mismatch" not in re.columns
    # keep can only widen when a gate disappears
    full = _keyed(regate(attrs, thresholds=TIGHT))
    wide = _keyed(re)
    assert all(wide[k] or not full[k] for k in full)


def test_regate_is_pure_catalyst(attrs):
    plan = regate(attrs, thresholds=TIGHT)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_apply_filter_returns_exactly_kept_docs(pages, attrs):
    re = regate(attrs, thresholds=TIGHT)
    kept_urls = {u for u, k in _keyed(re).items() if k}
    out = apply_filter(pages, re)
    assert set(out.columns) == set(pages.columns)
    assert {r["url"] for r in out.select("url").collect()} == kept_urls


def test_tag_requires_key_column(pages):
    with pytest.raises(ValueError, match="key column"):
        tag(pages.drop("url"))
