"""Corpus sampling and sequence packing for training-data pipelines.

- stratified_sample: deterministic k-per-stratum sampling by hash order —
  the data-mixing primitive (sample K docs per source/language/quality
  bucket, reproducibly, with no RNG state to ship to executors).
- pack_sequences: GPT-style sequence packing metadata — concatenate the
  corpus in id order and cut at a fixed token budget; each doc learns which
  training sequence its first token lands in and at what offset. Docs may
  span sequence boundaries (that IS the GPT-2/3 packing semantics; padding
  -free batches). The global running offset is a DISTRIBUTED prefix sum:
  block subtotals -> tiny block-level cumsum -> broadcast back + in-block
  window, so no stage ever windows the full corpus in one partition.

Everything is pure column expressions — no UDFs, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stratified_sample(df: DataFrame, strata_col: str, k: int) -> DataFrame:
    """Keep the k rows per stratum with the lowest md5(doc_id) — a uniform,
    deterministic, engine-portable pseudo-random draw (md5 hex order is
    identical everywhere; no seed state, so a resumed job re-draws the
    same sample). Adds sample_rank (1..k within stratum).

    ONE shuffle on the strata col; hot strata (a dominant language at
    crawl scale) are bounded by the same top-k window Spark turns into
    partial per-map-task sorts."""
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
    )


def pack_sequences(docs: DataFrame, budget: int = 256, block_size: int = 1024) -> DataFrame:
    """(doc_id, n_tokens, offset, seq_id, seq_offset, n_seqs_spanned):
    where each doc lands when the corpus is concatenated in id order and cut
    into `budget`-token training sequences.

    Distributed prefix sum over the id ordering: docs are bucketed into
    id-range blocks (floor(doc_id / block_size)), per-block token subtotals
    are cumsummed with a window over the BLOCK table (thousands of rows,
    not the corpus — the only single-partition step), the block prefix
    broadcasts back, and the within-block running sum is a window
    partitioned BY block, which parallelizes. At 10^12 docs the block
    table is ~10^9 rows — raise block_size so it stays window-able, or
    recurse the same trick one level; the per-doc stages never change."""
    n_toks = F.size(F.split("text", r"\s+"))
    base = docs.select(
        "doc_id",
        n_toks.cast("long").alias("n_tokens"),
        F.floor(F.col("doc_id") / block_size).alias("_blk"),
    )
    blocks = base.groupBy("_blk").agg(F.sum("n_tokens").alias("_blk_toks"))
    w_blk = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    prefix = blocks.select(
        "_blk", F.coalesce(F.sum("_blk_toks").over(w_blk), F.lit(0)).alias("_blk_prefix")
    )
    w_in = (
        Window.partitionBy("_blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        base.join(F.broadcast(prefix), "_blk")
        .withColumn(
            "offset",
            F.col("_blk_prefix") + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)),
        )
        .drop("_blk", "_blk_prefix")
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "offset",
        F.floor(F.col("offset") / budget).cast("long").alias("seq_id"),
        (F.col("offset") % budget).cast("long").alias("seq_offset"),
        # ceil((seq_offset + n_tokens)/budget); n_tokens >= 1 always here
        # (split('') yields one empty token), so no zero-span branch
        (F.floor((F.col("offset") % budget + F.col("n_tokens") - 1) / budget) + 1)
        .cast("long")
        .alias("n_seqs_spanned"),
    )
