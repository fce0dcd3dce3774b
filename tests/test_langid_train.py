"""Distributed langid training (langid.py training section).

The trained dict must be bit-compatible with the built-in model shape
(langid_score consumes it unchanged), exactly equal to the
single-process twin regardless of partitioning, and actually predictive
on the synthetic multilingual corpus.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dqc_spark.langid import (
    model_from_df,
    model_to_df,
    train_langid_model,
    train_langid_py,
    with_langid,
)
from dqc_spark.pagesgen import generate_pages
from dqc_spark.textmodels import langid_score


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 300, n_partitions=4).persist()


def _assert_models_equal(a, b):
    assert a["langs"] == b["langs"]
    assert np.array_equal(a["keys"], b["keys"])
    assert np.array_equal(a["weights"], b["weights"])  # exact, not approx


def test_spark_matches_python_twin_exactly(spark, pages):
    rows = [r.asDict() for r in pages.select("lang", "text").collect()]
    want = train_langid_py(rows)
    got = train_langid_model(pages)
    _assert_models_equal(got, want)


def test_partition_invariance(spark, pages):
    a = train_langid_model(pages.repartition(2))
    b = train_langid_model(pages.repartition(11))
    _assert_models_equal(a, b)


def test_cap_limits_profile_and_matches_twin(spark, pages):
    got = train_langid_model(pages, max_trigrams_per_lang=25)
    rows = [r.asDict() for r in pages.select("lang", "text").collect()]
    want = train_langid_py(rows, max_trigrams_per_lang=25)
    _assert_models_equal(got, want)
    # per-lang profile really is capped: <= 25 nonzero weights per lang
    for li in range(len(got["langs"])):
        assert int((got["weights"][:, li] > 0).sum()) <= 25


def test_trained_model_predicts_the_corpus(spark, pages):
    model = train_langid_model(pages)
    scored = with_langid(pages, model=model).select("lang", "lang_pred")
    rows = scored.collect()
    acc = sum(r["lang"] == r["lang_pred"] for r in rows) / len(rows)
    assert acc >= 0.9, acc


def test_trained_model_feeds_langid_score_directly(spark, pages):
    model = train_langid_model(pages)
    lang, conf = langid_score("the cat sat on the mat and the dog", model)
    assert lang == "en" and conf > 0.2


def test_model_parquet_round_trip_is_exact(spark, pages, tmp_path):
    model = train_langid_model(pages, max_trigrams_per_lang=100)
    path = str(tmp_path / "langid_model.parquet")
    model_to_df(spark, model).write.parquet(path)
    back = model_from_df(spark.read.parquet(path))
    _assert_models_equal(model, back)


def test_null_lang_and_empty_text_are_skipped(spark):
    df = spark.createDataFrame(
        [(None, "some text here"), ("en", ""), ("en", None),
         ("en", "the and of to that the and")],
        "lang string, text string")
    model = train_langid_model(df)
    assert model["langs"] == ["en"]
    want = train_langid_py([r.asDict() for r in df.collect()])
    _assert_models_equal(model, want)


def test_trained_model_threads_through_annotate_and_oracle(spark, pages):
    """The pipeline integration: annotate(langid_model=trained) must
    agree with the golden single-process oracle given the SAME model —
    the dual-implementation discipline extended to custom models."""
    from dqc_spark.pipeline import annotate
    from dqc_spark.pipeline_oracle import oracle_labels

    model = train_langid_model(pages, max_trigrams_per_lang=500)
    sample = pages.orderBy("url").limit(60).repartition(3).persist()
    rows = [r.asDict() for r in sample.collect()]
    want = {r["url"]: r["keep"]
            for r in oracle_labels(rows, langid_model=model)}
    ann = annotate(sample, langid_model=model)
    got = {r["url"]: r["keep"] for r in ann.select("url", "keep").collect()}
    assert got == want
    sample.unpersist()


def test_cli_train_langid_and_curate(spark, tmp_path, capsys):
    from dqc_spark import cli

    src = str(tmp_path / "pages.parquet")
    model_p = str(tmp_path / "langid_model.parquet")
    out_p = str(tmp_path / "curated.parquet")
    generate_pages(spark, 120, n_partitions=2).write.parquet(src)
    rc = cli.main(["--db-path", str(tmp_path / "q.db"), "train-langid",
                   "--input", src, "--output", model_p])
    out = capsys.readouterr().out
    assert rc == 0 and "trained langid profiles" in out
    rc = cli.main(["--db-path", str(tmp_path / "q.db"), "curate",
                   "--input", src, "--output", out_p,
                   "--near-dup-threshold", "-1",
                   "--langid-model", model_p])
    assert rc == 0
    assert spark.read.parquet(out_p).count() > 0


def test_train_langid_no_usable_rows_fails_loudly(spark):
    """An all-NULL-label (or sub-trigram text) training frame must
    raise at TRAIN time, not IndexError inside the first scoring
    batch."""
    import pytest

    from dqc_spark.langid import train_langid_model, train_langid_py

    df = spark.createDataFrame(
        [(None, "plenty of text here"), ("en", ""), (None, None)],
        "lang string, text string")
    with pytest.raises(ValueError, match="no usable training rows"):
        train_langid_model(df)
    with pytest.raises(ValueError, match="no usable training rows"):
        train_langid_py([
            {"lang": None, "text": "plenty of text here"},
            {"lang": "en", "text": ""},
        ])
