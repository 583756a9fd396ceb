"""Extraction job pipeline: scan → bucket-aligned repartition → mapInArrow → sink.

The physical plan this produces (SURVEY.md §3.4):

    Scan (Iceberg in prod, parquet here; column-pruned to doc_id, spans)
      → Exchange hashpartitioning(part_bucket, slice, width)  -- the ONLY shuffle
      → MapInArrow (extract kernel, fused per-doc merge)
      → sink (partitionBy(part_bucket) write; dynamic partition overwrite)

``width`` is derived, not configured (``repartition_for_bucketed_write``):
as many tasks as the cores, or as the pending input bytes need at
``spark.sql.files.maxPartitionBytes`` per task, and never more than the
``(bucket, slice)`` write groups. Every Python task pays a fixed start-up
cost, so the stage pays it once per core instead of once per bucket.

The single exchange serves BOTH jobs a 100 TB run needs from it:

* **Skew**: document cost is heavy-tailed (hot multi-span docs — corpus
  mirrors this). AQE cannot split a single row, so documents are spread
  explicitly; the ``slice`` key (``pmod(xxhash64(doc_id),
  files_per_bucket)``) spreads hot documents within a bucket exactly as
  the generic ``(doc_id, salt)`` repartition did. Deterministic — a
  resumed run lands documents in identical tasks. Arrow batch rows stay
  capped so one batch of hot docs cannot blow Python-worker memory. With
  thousands of docs per task the heavy tail averages out; bench.py
  measures this on the skewed corpus rather than assuming it.
* **Sink alignment**: a ``partitionBy`` write from unaligned tasks emits
  one file per (task, bucket) pair — a tasks×buckets small-file storm
  whose serialized commit anti-scales. Aligning the exchange to
  ``(part_bucket, slice)`` bounds each wave to ~files_per_bucket files
  per bucket (``repartition_for_bucketed_write``) — a group never spans
  two tasks, however many groups one task holds; compact.py binpacks
  multi-wave accumulation after resumes.

``repartition_for_extract`` (generic doc_id+salt spread) remains for
non-bucketed consumers of the kernels (ad-hoc queries, summaries sinks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from deed_ocr_spark.extract import (
    DOC_SUMMARY_DDL,
    SPANS_OUT_DDL,
    extract_doc_summaries_batches_arrow,
    extract_spans_batches_arrow,
)

SALT_N = 64


def with_partition_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Deterministic bucket for checkpoint/resume (state.py): a pure
    function of doc_id, so re-runs assign identical buckets."""
    return df.withColumn(
        "part_bucket", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")
    )


def repartition_for_extract(df: DataFrame, n_partitions: int) -> DataFrame:
    """Explicit skew-breaking exchange on (doc_id, salt)."""
    salted = df.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(SALT_N)).cast("int")
    )
    return salted.repartition(n_partitions, "doc_id", "salt").drop("salt")


def repartition_for_bucketed_write(
    df: DataFrame, n_buckets: int, files_per_bucket: int, pending_buckets: int
) -> DataFrame:
    """Bucket-aligned skew-breaking exchange for a ``partitionBy(
    part_bucket)`` sink. A partitioned write WITHOUT alignment emits one
    file per (task, bucket) pair — a tasks×buckets small-file storm whose
    commit cost anti-scales (measured: 32 tasks × 64 buckets = 2 048
    files for one wave). Shuffling on ``(part_bucket, slice)`` instead of
    ``(doc_id, salt)`` costs the same single exchange but bounds the wave
    to ~``files_per_bucket`` files per bucket, however many tasks share
    the buckets: a (bucket, slice) group never spans two tasks. ``slice``
    is a pure function of doc_id, so placement stays deterministic across
    resumed runs, and slicing within a bucket spreads hot documents
    exactly like the generic salt did. ``df`` must already carry
    ``part_bucket`` and hold only the ``pending_buckets`` buckets to write.

    The task count is ``min(pending_buckets × files_per_bucket,
    max(defaultParallelism, ceil(pending bytes /
    spark.sql.files.maxPartitionBytes)))``: as wide as the cores (or as
    the input bytes need), never wider than the write groups. Every Python
    task pays a fixed start-up cost whatever it holds, so one task per
    bucket made a 5 000-doc run pay it 32 times on 4 cores. Pending bytes
    are ``df``'s plan size statistic (no job runs; a filter's statistic is
    its child's, so it is scaled by ``pending_buckets / n_buckets``). A
    file scan gives real bytes; an input without file statistics (a
    generated ``range → mapInPandas`` corpus) is sized from default type
    widths, which under-reads its spans, so the cores set the width."""
    files_per_bucket = max(1, files_per_bucket)
    spark = df.sparkSession
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    by_bytes = -(-size * pending_buckets // (n_buckets * max_bytes))
    width = min(
        pending_buckets * files_per_bucket,
        max(spark.sparkContext.defaultParallelism, by_bytes),
    )
    # slice hash must be DECORRELATED from part_bucket's: with the same
    # xxhash64(doc_id), slice = hash mod k is a pure function of
    # bucket = hash mod n whenever k divides n, collapsing every bucket
    # to one slice. Hashing the tuple (doc_id, 1) draws an independent
    # value (still a pure function of doc_id — deterministic on resume).
    sliced = df.withColumn(
        "_slice",
        F.pmod(F.xxhash64(F.col("doc_id"), F.lit(1)), F.lit(files_per_bucket)).cast(
            "int"
        ),
    )
    return sliced.repartition(width, "part_bucket", "_slice").drop("_slice")


def extract_spans(df: DataFrame, n_partitions: int = 0) -> DataFrame:
    """Input (doc_id, spans) → output span rows (doc_id, order, kind, text,
    media_ref, src_kind, status). Column-prunes the scan explicitly.

    The kernel runs via ``mapInArrow``: the spans column is exploded
    columnar instead of being materialized as one Python dict per span
    during Arrow→pandas conversion."""
    src = df.select("doc_id", "spans")
    if n_partitions > 0:
        src = repartition_for_extract(src, n_partitions)
    return src.mapInArrow(extract_spans_batches_arrow, SPANS_OUT_DDL)


def extract_summaries(df: DataFrame, n_partitions: int = 0) -> DataFrame:
    """Input (doc_id, spans) → one summary row per document (extraction +
    reference merge fused in a single Arrow pass; no span shuffle)."""
    src = df.select("doc_id", "spans")
    if n_partitions > 0:
        src = repartition_for_extract(src, n_partitions)
    return src.mapInArrow(extract_doc_summaries_batches_arrow, DOC_SUMMARY_DDL)


def partition_metrics(spans_out: DataFrame) -> DataFrame:
    """Per-bucket extraction metrics for the state table — the analog of
    the reference's token/page counters (workflow.py:189-193,
    retry_helper.py:25-34): pages parsed, spans emitted, OCR regions.
    ``retryable_errors`` mirrors the reference's per-PDF
    ``retry_needed = any(retry_recommended)`` (workflow.py:297-302)."""
    from deed_ocr_spark.kernels.mergeops import RETRYABLE

    retryable_kinds = sorted(k for k, v in RETRYABLE.items() if v)
    return spans_out.groupBy("part_bucket").agg(
        F.countDistinct("doc_id").alias("docs"),
        F.count(F.lit(1)).alias("spans_emitted"),
        F.sum(F.when(F.col("src_kind") == "pdf_page", 1).otherwise(0)).alias(
            "pages_parsed"
        ),
        F.sum(F.when(F.col("src_kind") == "ocr_region", 1).otherwise(0)).alias(
            "ocr_regions"
        ),
        F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("span_errors"),
        F.sum(F.when(F.col("status").isin(retryable_kinds), 1).otherwise(0)).alias(
            "retryable_errors"
        ),
        # a representative non-ok status for the bucket, '' when clean
        # (deterministic lexicographic max — P9 ledger analog)
        F.coalesce(
            F.max(F.when(F.col("status") != "ok", F.col("status"))), F.lit("")
        ).alias("error_kind"),
    )
