"""Fused per-document scoring UDF: heuristic features + language ID +
perplexity in ONE Arrow transfer and one tokenization pass.

Why fused: every pandas UDF ships the full ``text`` column through
Arrow; and Spark's higher-order-function Column expressions execute
interpreted, re-splitting the text per feature (measured 100x slower
per core than this kernel — see features.py).  One UDF = one transfer
+ one pass, and the models are broadcast once per executor.  This is
the only path that computes gate features: annotate, attribute tagging
and gate calibration all call ``with_scores``.

langid.py / perplexity.py expose the standalone operators built on the
same model functions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dqc_spark.features import features_batch, features_py
from dqc_spark.textmodels import build_langid_model, build_lm, langid_score, perplexity

SCORE_FIELDS = [
    ("n_words", T.IntegerType()),
    ("mean_word_len", T.DoubleType()),
    ("stopword_ratio", T.DoubleType()),
    ("alpha_ratio", T.DoubleType()),
    ("symbol_word_ratio", T.DoubleType()),
    ("dup_line_fraction", T.DoubleType()),
    ("dup_bigram_fraction", T.DoubleType()),
    ("lang_pred", T.StringType()),
    ("lang_conf", T.DoubleType()),
    ("ppl", T.DoubleType()),
]

_SCORE_TYPE = T.StructType([T.StructField(n, t) for n, t in SCORE_FIELDS])


def score_doc_py(text: str, model: dict, lm: dict) -> dict:
    """One document -> full score row (shared with the golden oracle)."""
    out = features_py(text)
    lang, conf = langid_score(text, model)
    out["lang_pred"] = lang
    out["lang_conf"] = conf
    out["ppl"] = perplexity(text, lm)
    return out


# broadcast handles memoized per SparkContext: models are deterministic
# and annotate() is called repeatedly (bench trials, resumable re-runs) —
# without the cache every call rebuilds both models and leaks two more
# never-unpersisted broadcasts
_BC_CACHE: dict[str, tuple] = {}


def _broadcast_models(spark: SparkSession) -> tuple:
    key = spark.sparkContext.applicationId
    if key not in _BC_CACHE:
        _BC_CACHE.clear()  # an old context's broadcasts are dead anyway
        _BC_CACHE[key] = (
            spark.sparkContext.broadcast(build_langid_model()),
            spark.sparkContext.broadcast(build_lm()),
        )
    return _BC_CACHE[key]


def make_score_udf(spark: SparkSession, lm: dict | None = None,
                   langid_model: dict | None = None):
    """Fused scoring UDF; ``lm`` swaps the perplexity model for a
    caller-supplied dict (e.g. trained IN Spark on a trusted slice via
    ``lmtrain.train_bigram_lm``) — the CCNet loop — and
    ``langid_model`` swaps the language-ID profile for one trained IN
    Spark on a labeled slice (``langid.train_langid_model``).  Custom
    models are broadcast here and owned by the caller; whichever is
    None stays the default broadcast model."""
    bc_model, bc_lm = _broadcast_models(spark)
    if lm is not None:
        bc_lm = spark.sparkContext.broadcast(lm)
    if langid_model is not None:
        bc_model = spark.sparkContext.broadcast(langid_model)

    @F.pandas_udf(_SCORE_TYPE)
    def score_udf(texts: pd.Series) -> pd.DataFrame:
        model, lm = bc_model.value, bc_lm.value
        # heuristic features: batch-vectorized kernel (exact features_py
        # parity, pinned by test_features_batch_matches_features_py);
        # langid/ppl stay per-document — they are the oracle-SHARED
        # model kernels (never forked) and already numpy-vectorized
        # within each document
        out = features_batch(texts)
        langs: list = []
        confs: list = []
        ppls: list = []
        logcache: dict = {}  # batch-level bigram-log memo (bit-exact)
        for t in texts:
            t = t or ""
            lang, conf = langid_score(t, model)
            langs.append(lang)
            confs.append(conf)
            ppls.append(perplexity(t, lm, logcache))
        out["lang_pred"] = langs
        out["lang_conf"] = confs
        out["ppl"] = ppls
        return out[[n for n, _ in SCORE_FIELDS]]

    return score_udf


def with_scores(
    df: DataFrame, text_col: str = "text", lm: dict | None = None,
    langid_model: dict | None = None,
) -> DataFrame:
    """Append all feature/score columns in one UDF stage (a single
    projection — a withColumn-per-field chain costs one analyzer pass
    per column)."""
    udf = make_score_udf(df.sparkSession, lm=lm, langid_model=langid_model)
    tagged = df.withColumn("__sc", udf(F.col(text_col)))
    return tagged.select(
        *[F.col(c) for c in df.columns],
        *[F.col(f"__sc.{name}").alias(name) for name, _ in SCORE_FIELDS],
    )
