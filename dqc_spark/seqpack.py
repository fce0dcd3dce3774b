"""GPT-style fixed-length sequence packing.

What an autoregressive training job actually consumes is not documents
but a single token stream: documents concatenated in a deterministic
order with an EOS separator, chopped into fixed ``seq_len`` windows
("sequences"), documents crossing window boundaries freely.  This
module computes that layout as metadata — per document, its absolute
offset in the stream and the sequence windows it lands in; per
(sequence, document), the exact slice to take — WITHOUT materializing
tokens.  A loader then assembles sequence ``s`` by streaming the
manifest's rows for ``s``.

This complements ``sampling.pack_greedy``/``pack_first_fit``: FFD packs
whole documents into capacity bins (no document ever splits — the
fine-tuning / instruction-data shape); this packer splits documents
across fixed windows with zero padding waste (the pre-training shape).

Scale shape: the global order + the exclusive token prefix-sum both
come out of ONE narrow range shuffle (`ordering.global_enumerate` — a
(md5, key, count) projection; document text never moves), the span
arithmetic is pure Catalyst integer division, and the manifest explode
fans out ~(total_tokens / seq_len + n_docs) rows of five integers.
There is no global window and no driver state beyond one (count, sum)
pair per partition.

Cross-engine contract: token counts use the shared whitespace rule
(`textstats.whitespace_token_count` — existing DuckDB spelling), the
order is (md5(text), key), and every output is integer arithmetic —
raw-bit comparable (entry_ext ``pack_fixed_sequences`` runs the full
differential; reference repo has no packer — this serves the §2.5
training-data brief).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dqc_spark.ordering import content_order_key, global_enumerate
from dqc_spark.textstats import whitespace_token_count

__all__ = ["pack_sequences", "sequence_manifest"]


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    key_col: str = "doc_id",
    text_col: str = "text",
    eos_tokens: int = 1,
    tokens_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-document span in the packed token stream: (key, n_total,
    tok_start, seq_first, seq_last, n_seqs).

    ``n_total`` counts the document's tokens plus ``eos_tokens``
    separator tokens; ``tok_start`` is the exclusive prefix-sum of
    ``n_total`` in the global content order (md5(text), key) — stable
    across re-runs and cluster sizes, like `ordering.assign_shards`.
    ``seq_first``/``seq_last`` are the first/last ``seq_len`` windows
    the document touches.  Zero-token documents (possible only with
    ``eos_tokens=0``) occupy no window: NULL seq range, ``n_seqs`` 0.

    Pass ``tokens_col`` to pack by a real tokenizer's per-document
    counts instead of the whitespace rule.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    if eos_tokens < 0:
        raise ValueError("eos_tokens must be >= 0")
    toks = (F.col(tokens_col) if tokens_col is not None
            else whitespace_token_count(F.col(text_col)))
    # NULL text (or a NULL tokens_col value) must count as 0 tokens,
    # not poison n_total to NULL: an un-coalesced NULL doc would lose
    # its EOS slot here and — under legacy sizeOfNull configs where
    # size(NULL) is -1 — feed a NEGATIVE value into the global prefix
    # sum, shifting every later document's tok_start
    src = (df
           .withColumn("__okey", content_order_key(text_col))
           .withColumn("n_total",
                       (F.coalesce(toks, F.lit(0))
                        + F.lit(eos_tokens)).cast("long")))
    spans = global_enumerate(
        src, ["__okey"], key_col, value_col="n_total",
        num_partitions=num_partitions, offset_col="tok_start")
    seq_first = F.floor(F.col("tok_start") / seq_len)
    seq_last = F.floor((F.col("tok_start") + F.col("n_total") - 1) / seq_len)
    nonempty = F.col("n_total") > 0
    return spans.select(
        F.col(key_col),
        F.col("n_total"),
        F.col("tok_start"),
        F.when(nonempty, seq_first).alias("seq_first"),
        F.when(nonempty, seq_last).alias("seq_last"),
        F.when(nonempty, seq_last - seq_first + 1)
        .otherwise(F.lit(0)).cast("long").alias("n_seqs"),
    )


def sequence_manifest(
    df: DataFrame,
    seq_len: int,
    key_col: str = "doc_id",
    text_col: str = "text",
    eos_tokens: int = 1,
    tokens_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """The loader's assembly table: one row per (sequence, document)
    intersection — (seq_id, key, offset_in_seq, doc_from, n_tok) where
    sequence ``seq_id`` takes the document's tokens
    ``[doc_from, doc_from + n_tok)`` (EOS tokens counted at the tail)
    and writes them at ``offset_in_seq``.  Every sequence except the
    stream's last sums to exactly ``seq_len`` — zero padding waste.

    The explode is guarded to non-empty spans: Spark's ``sequence(a,
    b)`` DESCENDS when a > b (it does not return empty), so an
    unguarded empty document would fabricate phantom windows.
    """
    spans = pack_sequences(
        df, seq_len, key_col=key_col, text_col=text_col,
        eos_tokens=eos_tokens, tokens_col=tokens_col,
        num_partitions=num_partitions)
    exploded = (
        spans.filter(F.col("n_total") > 0)
        .select(
            F.col(key_col), "n_total", "tok_start",
            F.explode(F.sequence("seq_first", "seq_last")).alias("seq_id"))
    )
    win_start = F.col("seq_id") * seq_len
    take_from = F.greatest(F.col("tok_start"), win_start)
    take_to = F.least(F.col("tok_start") + F.col("n_total"),
                      win_start + seq_len)
    return exploded.select(
        F.col("seq_id"),
        F.col(key_col),
        (take_from - win_start).alias("offset_in_seq"),
        (take_from - F.col("tok_start")).alias("doc_from"),
        (take_to - take_from).alias("n_tok"),
    )
