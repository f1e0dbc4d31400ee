"""Training-shard assignment and writing: cut the packed corpus into
fixed-token-budget shards — the step that turns a deduped, packed corpus
into the files a trainer actually streams (operates on the BASELINE.json
input_hint table ``(doc_id, tokens, n_tok, source)``).

Shard id = global token start offset // shard_tokens, built on the same
distributed prefix sum as :mod:`packing` (data-derived range buckets ->
local cumsum -> driver prefix of per-bucket totals; no single-reducer
window, one full-data exchange total).  A
sequence straddling a budget boundary belongs to the shard its FIRST
token falls in, so real shard sizes are ``shard_tokens`` +- one max
sequence length — the standard Megatron-style snap, documented contract.

The writer partitions by shard (``partitionBy("shard")``): each shard is
an independent set of files a trainer node can claim, and the write
parallelism is the upstream partitioning, not the shard count.  The
manifest (one row per shard: sequence count, token count, doc range) is
the unit of resume/verification — the same role the fan-out manifest
plays for routed sinks (plans/manifest.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ulp_spark.operators.packing import global_cumsum
from ulp_spark.session import seam

SHARD_TOKENS = 1 << 20  # ~1M tokens per shard


def shard_assign(
    df: DataFrame, order_col: str = "doc_id", len_col: str = "n_tok",
    shard_tokens: int = SHARD_TOKENS,
) -> DataFrame:
    """Adds ``tok_offset`` (global start) and ``shard`` to every sequence."""
    out = global_cumsum(df, order_col, len_col, out_col="tok_offset")
    return out.withColumn(
        "shard", F.floor(F.col("tok_offset") / shard_tokens).cast("bigint"))


def _manifest_agg(assigned: DataFrame, order_col: str, len_col: str
                  ) -> DataFrame:
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum(F.col(len_col).cast("bigint")).alias("n_tokens"),
        F.min(order_col).alias("first_doc"),
        F.max(order_col).alias("last_doc"),
    )


def shard_manifest(
    df: DataFrame, order_col: str = "doc_id", len_col: str = "n_tok",
    shard_tokens: int = SHARD_TOKENS,
) -> DataFrame:
    """One row per shard: (shard, n_seqs, n_tokens, first_doc, last_doc)."""
    return _manifest_agg(shard_assign(df, order_col, len_col, shard_tokens),
                         order_col, len_col)


def shard_manifest_sql(
    table: str, order_col: str = "doc_id", len_col: str = "n_tok",
    shard_tokens: int = SHARD_TOKENS,
) -> str:
    """DuckDB twin (plain window cumsum — single node by design)."""
    return f"""
    WITH c AS (
      SELECT {order_col}, {len_col},
             (sum({len_col}) OVER (ORDER BY {order_col})
              - {len_col})::BIGINT AS tok_offset
      FROM {table}
    )
    SELECT CAST(floor(tok_offset / {shard_tokens}) AS BIGINT) AS shard,
           count(*)::BIGINT AS n_seqs,
           sum({len_col})::BIGINT AS n_tokens,
           min({order_col}) AS first_doc,
           max({order_col}) AS last_doc
    FROM c GROUP BY shard
    """


def write_shards(
    df: DataFrame, path: str, order_col: str = "doc_id",
    len_col: str = "n_tok", shard_tokens: int = SHARD_TOKENS,
    max_records_per_file: int = 1_000_000,
    verify: bool = False,
) -> DataFrame:
    """Write the corpus as shard-partitioned parquet; returns the manifest.

    ``maxRecordsPerFile`` bounds individual file sizes inside a shard
    directory (file-size hygiene at 100 TB: a trainer wants many
    mid-sized files per shard, not one monolith per task).

    The input is seam-materialized once at entry, so it is evaluated
    exactly once: the prefix sum's pre-passes (row count, boundary
    sample, per-bucket totals), the partitioned write and the manifest
    aggregate all read that one stored copy instead of each rebuilding a
    lazy input (for a packed corpus: the packing UDF, the id join and the
    token-payload groupBy).  The manifest aggregate reads only its narrow
    columns from that copy, so no second copy of the token arrays is
    stored, and it comes from the same assignment that was written, not
    from a re-read of the output.  ``verify=True`` additionally re-reads
    the written output with the written schema (``shard`` stays bigint,
    and an empty corpus reads back as empty) and raises if its manifest
    differs — a post-write audit that pays the second scan only when
    asked.
    """
    df = seam(df)
    assigned = shard_assign(df, order_col, len_col, shard_tokens)
    (
        assigned.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("shard")
        .parquet(path)
    )
    manifest = _manifest_agg(assigned, order_col, len_col)
    if verify:
        written = df.sparkSession.read.schema(assigned.schema).parquet(path)
        audit = _manifest_agg(written, order_col, len_col)
        diff = manifest.exceptAll(audit).union(audit.exceptAll(manifest))
        bad = diff.limit(1).collect()
        if bad:
            raise RuntimeError(
                f"write_shards verify failed: manifest/output mismatch, "
                f"first diff row {bad[0].asDict()}")
    return manifest


# --------------------------------------------------------------------------
# Data-loader resume: where does training step S restart in the shards?
# --------------------------------------------------------------------------

def resume_position(
    manifest: DataFrame, global_step: int, batch_size: int,
) -> DataFrame:
    """Given the shard manifest and a trainer checkpoint at
    ``global_step`` with global ``batch_size``, compute where the data
    loader resumes: a trainer consuming sequences in shard order has
    eaten ``global_step * batch_size`` sequences (wrapping at epoch
    boundaries), so the resume point is the shard whose cumulative
    sequence range contains the within-epoch consumed count, plus the
    skip offset inside that shard — the skip-to-offset contract every
    deterministic-resume loader (Megatron/torchdata style) needs.

    Returns ONE row: (epochs_done, consumed_in_epoch, resume_shard,
    skip_seqs, total_seqs).  Empty manifest -> empty result (a trainer
    with no data has no position).

    Scale shape: the manifest is METADATA-scale — one row per shard,
    bounded by corpus_tokens / shard_tokens — so the ordered cumulative
    sum over it is a deliberate small-table window, not a corpus-scale
    SinglePartition wedge (same judgment as the fan-out manifest); the
    corpus itself is never touched.
    """
    if global_step < 0 or batch_size <= 0:
        raise ValueError("global_step must be >= 0, batch_size > 0")
    from pyspark.sql import Window

    consumed = global_step * batch_size
    w = (Window.orderBy("shard")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = manifest.select(
        "shard", "n_seqs",
        F.coalesce(F.sum("n_seqs").over(w), F.lit(0)).alias("cum_prev"),
        F.sum("n_seqs").over(
            Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)).alias("total"),
    )
    in_epoch = F.lit(consumed) % F.col("total")
    return (
        cum.filter((F.col("cum_prev") <= in_epoch)
                   & (in_epoch < F.col("cum_prev") + F.col("n_seqs")))
        .select(
            F.expr(f"CAST({consumed} AS BIGINT) DIV total")
            .alias("epochs_done"),
            in_epoch.cast("bigint").alias("consumed_in_epoch"),
            F.col("shard").alias("resume_shard"),
            (in_epoch - F.col("cum_prev")).cast("bigint").alias("skip_seqs"),
            F.col("total").cast("bigint").alias("total_seqs"),
        )
    )


def resume_position_sql(
    manifest_table: str, global_step: int, batch_size: int,
) -> str:
    """DuckDB twin over the same manifest relation."""
    consumed = global_step * batch_size
    return f"""
    WITH c AS (
      SELECT shard, n_seqs,
             (sum(n_seqs) OVER (ORDER BY shard) - n_seqs)::BIGINT AS cum_prev,
             (sum(n_seqs) OVER ())::BIGINT AS total
      FROM {manifest_table}
    )
    SELECT ({consumed} // total)::BIGINT AS epochs_done,
           ({consumed} % total)::BIGINT AS consumed_in_epoch,
           shard AS resume_shard,
           ({consumed} % total - cum_prev)::BIGINT AS skip_seqs,
           total AS total_seqs
    FROM c
    WHERE cum_prev <= {consumed} % total
      AND {consumed} % total < cum_prev + n_seqs
    """
