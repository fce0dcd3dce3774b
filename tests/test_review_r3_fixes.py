"""Regression pins for the round-3 review findings: bloom probe
strictness and line-dedup key injectivity."""

import numpy as np
import pytest


def test_probe_matrix_whitespace_values_fall_back():
    from dqc_spark.snapshot import _probe_matrix, _probe_positions

    # 32-char value containing spaces: bytes.fromhex would skip them and
    # misalign every later value's 16-byte slice
    vals = ["a" * 30 + "  ", "b" * 32]
    mat = _probe_matrix(np.array(vals), 4096, 4)
    for row, v in zip(mat, vals):
        assert list(row) == _probe_positions(v, 4096, 4)


def test_line_dedup_key_injective(spark):
    # ('a\x00b', T) vs ('a', 'b\x00'+T): the old concat_ws('\x00', k, t)
    # key collided deterministically and dropped one distinct document
    from dqc_spark.pipeline import curate

    # SINGLE-line gate-passing text: the corpus line-dedup stage must
    # not cross-remove shared lines ('b\x00'+T is a different line), so
    # only the __ldk keying distinguishes the two scenarios.  The text
    # comes from the pagesgen model (newlines squashed) so the
    # perplexity gate passes — arbitrary English does not.
    from dqc_spark.pagesgen import generate_pages_local
    from dqc_spark.pipeline_oracle import oracle_labels

    local = generate_pages_local(40)
    kept_text = " ".join(
        next(
            r["text"] for r, g in zip(local, oracle_labels(local)) if g["keep"]
        ).split("\n")
    )
    collide = [("a\x00b", kept_text), ("a", "b\x00" + kept_text)]
    control = [("k1", kept_text), ("k2", "b\x00" + kept_text)]

    def run(rows):
        df = spark.createDataFrame(rows, "key string, text string")
        return curate(
            df, key_col="key", text_col="text",
            near_dup_threshold=None, domain_quota=None,
            line_dedup_min_len=10,
        ).count()

    n_control = run(control)
    assert n_control >= 2  # gates keep both texts (guard vacuousness)
    assert run(collide) == n_control  # collision-shaped keys drop nothing


# ---------------------------------------------------------------------------
# round-3 session-2 review findings
# ---------------------------------------------------------------------------


def test_pack_first_fit_null_tokens_rejected(spark):
    from dqc_spark.sampling import pack_first_fit

    df = spark.createDataFrame(
        [("s", "k1", 10), ("s", "k2", None)],
        "source string, url string, n_tok long")
    with pytest.raises(Exception, match="NULL token count"):
        pack_first_fit(df, "source", "url", "n_tok", budget=100).count()


def test_curate_line_dedup_unit_validated_up_front(spark):
    from dqc_spark.pipeline import curate

    df = spark.createDataFrame([("k", "text")], "key string, text string")
    with pytest.raises(ValueError, match="line_dedup_unit"):
        curate(df, key_col="key", line_dedup_unit="word")
    # paragraph unit with the dedup stage DISABLED must not silently
    # no-op
    with pytest.raises(ValueError, match="no effect"):
        curate(df, key_col="key", line_dedup_unit="paragraph")
