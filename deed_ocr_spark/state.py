"""Checkpoint/state table with exactly-once resume and retry escalation.

Models the reference's retry ledger (error_summary.json written at
/root/reference/deed_ocr/workflow.py:371-385, scanned by
utils/retry_helper.py:15-111, resume candidates at :186-222, escalated
retries with max_retries/delay at :224-349) as a table — the canonical
Spark idiom (SURVEY.md §2.8):

* the input is bucketed by ``pmod(xxhash64(doc_id), n_buckets)`` — a pure
  function of doc_id, so buckets are stable across runs;
* output spans are written ``partitionBy(part_bucket)`` with *dynamic
  partition overwrite* — re-extracting a bucket atomically replaces its
  files (kernels are pure ⇒ idempotent), never duplicates;
* the state table commits AFTER the data write (data-before-state
  ordering ⇒ a crash between the two re-runs the bucket, which is safe);
* resume consults the LATEST ledger row per bucket: ``done`` and
  ``failed`` are terminal, ``needs_retry`` re-runs with an incremented
  attempt counter; a bucket whose errors are all non-retryable, or whose
  attempts reach ``max_attempts``, lands in ``failed`` instead of looping
  forever (retry_helper.py:224-349 escalation semantics);
* ``n_buckets`` is persisted in every ledger row — resuming with a
  different bucketing against the same state dir fails fast instead of
  silently duplicating documents under a new partitioning.

The input is assumed snapshot-stable across resume attempts (on a real
catalog you pin the Iceberg snapshot id in ``lineage``): a bucket marked
``done`` is never rescanned, so documents appended to the input after the
first attempt belong to a NEW run — continuously-growing corpora take the
streaming path (streaming.py) instead.

Storage is parquet here (the sandbox has no Iceberg catalog jars); the
layout and commit protocol are Iceberg-shaped: swapping the writes to
``writeTo(...).overwritePartitions()`` on a real catalog is mechanical.
"""

from __future__ import annotations

import os
import time
from typing import Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from deed_ocr_spark import __version__
from deed_ocr_spark.extract import SPANS_OUT_DDL
from deed_ocr_spark.job import (
    extract_spans,
    partition_metrics,
    repartition_for_bucketed_write,
    with_partition_bucket,
)

STATE_SCHEMA_DDL = (
    "run_id string, part_bucket int, status string, attempts int, docs bigint, "
    "spans_emitted bigint, pages_parsed bigint, ocr_regions bigint, "
    "span_errors bigint, retryable_errors bigint, error_kind string, "
    "n_buckets int, lineage string, committed_at double"
)

_STATE_COLUMNS = [f.split()[0] for f in STATE_SCHEMA_DDL.split(", ")]

# Reference escalation ceiling: utils/retry_helper.py:224-349 retries a
# failed PDF with max_retries=5 before giving up.
MAX_ATTEMPTS = 5


def read_state(spark: SparkSession, state_dir: str) -> Optional[DataFrame]:
    # cheap existence probe first: avoids the JVM logging a PATH_NOT_FOUND
    # stack trace on every first run (local paths; remote URIs fall through
    # to the try/except)
    if "://" not in state_dir and not os.path.exists(state_dir):
        return None
    try:
        return spark.read.parquet(state_dir)
    except AnalysisException as exc:
        # Only a genuinely-missing ledger means "first run". Any other
        # analysis/IO error (corrupt files, permissions, unreadable schema)
        # must propagate: treating it as first-run would silently re-run
        # every bucket and append a duplicate ledger generation.
        msg = str(exc)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def latest_state(state: DataFrame) -> DataFrame:
    """One row per bucket: the highest-attempt (latest) ledger entry.
    ``attempts`` is monotone per bucket across runs, so it orders history
    without relying on wall-clock timestamps."""
    w = Window.partitionBy("part_bucket").orderBy(
        F.col("attempts").desc(), F.col("committed_at").desc()
    )
    return state.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1).drop("_rk")


def done_buckets(spark: SparkSession, state_dir: str) -> Optional[DataFrame]:
    state = read_state(spark, state_dir)
    if state is None:
        return None
    return (
        latest_state(state)
        .filter(F.col("status") == "done")
        .select("part_bucket")
        .distinct()
    )


def _check_n_buckets(state: DataFrame, state_dir: str, n_buckets: int) -> None:
    ledger = [r["n_buckets"] for r in state.select("n_buckets").distinct().collect()]
    if ledger and set(ledger) != {n_buckets}:
        raise ValueError(
            f"state ledger at {state_dir} was written with "
            f"n_buckets={sorted(set(ledger))} but this run requested "
            f"n_buckets={n_buckets}; resuming under a different bucketing "
            "would duplicate documents — use the ledger's value or a fresh "
            "state/out location"
        )


def _read_written_buckets(
    spark: SparkSession, out_dir: str, pending_ids: list
) -> DataFrame:
    """Scan exactly this run's output buckets for the metrics re-read.

    The naive ``read.parquet(out_dir).filter(isin(pending))`` is row-correct
    but LISTS the entire output table to build its file index before the
    partition filter prunes — O(total buckets) driver-side listing on every
    resume. Passing the pending bucket directories explicitly (with
    ``basePath`` so ``part_bucket`` stays a partition column) keeps the
    listing O(this run's buckets): resuming 3 buckets of 100 000 lists 3
    directories. Buckets that held no documents produce no directory —
    they are skipped here and get their ledger row via the left join +
    fillna(0) in the caller.

    The pruned path engages only on POSITIVE evidence that the write
    landed on the driver's local filesystem: no URI scheme AND at least
    one pending bucket directory actually present locally. Everything
    else — object-store URIs, scheme-less paths on a cluster whose
    default filesystem is not the driver's local one (where an os.path
    probe sees nothing even though data exists), and the no-local-dirs
    case — goes through Spark's own filesystem resolution: the
    full-listing read filtered to the pending buckets, with a missing /
    empty table mapping to a typed empty frame (so genuinely-empty
    pending buckets still ledger correctly). The only way to reach the
    pruned path wrongly would be a local directory tree that shadows a
    remote one at the same scheme-less path with matching bucket names —
    a layout collision, not a plausible deployment. An Iceberg catalog
    would make this a snapshot read instead."""
    if "://" not in out_dir:
        dirs = [
            d
            for b in pending_ids
            if os.path.isdir(d := os.path.join(out_dir, f"part_bucket={b}"))
        ]
        if dirs:
            return spark.read.option("basePath", out_dir).parquet(*dirs)
    try:
        return spark.read.parquet(out_dir).filter(
            F.col("part_bucket").isin(pending_ids)
        )
    except AnalysisException as exc:
        # ONLY the no-files cases (every pending bucket held zero
        # documents, or first run over an empty input) map to a typed
        # empty frame — the caller's left join + fillna(0) turns it into
        # per-bucket done rows. Any other analysis failure (corrupt or
        # foreign files in out_dir, schema-resolution errors) must
        # propagate: swallowing it would ledger just-written buckets as
        # done with docs=0 and real span_errors would never escalate.
        msg = str(exc)
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return spark.createDataFrame(
                [], SPANS_OUT_DDL + ", part_bucket int"
            )
        raise


def run_extraction_job(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    state_dir: str,
    run_id: str,
    n_buckets: int = 32,
    n_partitions: int = 0,
    lineage: str = "",
    only_buckets: Optional[list] = None,
    max_attempts: int = MAX_ATTEMPTS,
) -> dict:
    """Run (or resume) the extraction job. Returns job counters.

    ``only_buckets`` exists for fault-injection tests: it truncates the run
    after a subset of buckets, simulating a mid-job crash.
    """
    bucketed = with_partition_bucket(input_df.select("doc_id", "spans"), n_buckets)

    # Pending = buckets with no terminal ledger row. The ledger is tiny
    # (≤ a few rows per bucket) so the latest-row resolution collects to the
    # driver; the input-side restriction stays a partition filter (never a
    # collect of doc ids).
    state = read_state(spark, state_dir)
    prev = {}
    if state is not None:
        _check_n_buckets(state, state_dir, n_buckets)
        prev = {r["part_bucket"]: r for r in latest_state(state).collect()}
    pending_ids, attempt_of = [], {}
    for b in range(n_buckets):
        if only_buckets is not None and b not in only_buckets:
            continue
        row = prev.get(b)
        if row is None:
            pending_ids.append(b)
            attempt_of[b] = 1
        elif row["status"] == "needs_retry":
            pending_ids.append(b)
            attempt_of[b] = row["attempts"] + 1
        # 'done' and 'failed' are terminal: never re-scheduled
    if not pending_ids:
        return _job_counters(spark, state_dir)
    pending = bucketed.filter(F.col("part_bucket").isin(pending_ids))

    # ONE exchange, aligned to the sink: shuffle the kernel input on
    # (part_bucket, slice) so each bucket's output lands in a bounded
    # number of files instead of one per (task, bucket) pair — the
    # partitioned-write small-file storm whose commit cost anti-scales
    # (job.repartition_for_bucketed_write). ``n_partitions`` sets the
    # total task-count target; slices within a bucket spread hot docs
    # exactly like the generic doc_id salt did.
    files_per_bucket = max(1, round(n_partitions / n_buckets)) if n_partitions else 1
    pending = repartition_for_bucketed_write(pending, n_buckets, files_per_bucket)

    # Bucket is recomputed from doc_id after the kernel (pure function —
    # cheaper than carrying it through the Arrow channel, and no join).
    spans_out = with_partition_bucket(extract_spans(pending), n_buckets)

    # 1) data commit: dynamic overwrite replaces exactly the re-run buckets
    t_write0 = time.time()
    (
        spans_out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_bucket")
        .parquet(out_dir)
    )
    t_write = time.time() - t_write0

    # 2) state commit (after data): per-bucket metrics ledger. The re-read
    t_ledger0 = time.time()
    # is partition-PRUNED to the buckets this run wrote (at 100 TB a full
    # output re-scan here would dwarf the job; a pruned one is O(this run's
    # output) — df.observe() can't replace it because the ledger needs
    # per-bucket metrics, not global ones); buckets that held no documents
    # still get a done row so resume never re-schedules them.
    written = _read_written_buckets(spark, out_dir, pending_ids)
    attempts_df = spark.createDataFrame(
        [(b, attempt_of[b]) for b in pending_ids], "part_bucket int, attempts int"
    )
    # Status ladder (retry_helper.py:224-349): clean → done; errors but
    # nothing retryable → failed; retryable errors with attempts left →
    # needs_retry; escalation exhausted → failed. Data is written in every
    # case (keep-going discipline) — status only governs re-scheduling.
    status = (
        F.when(F.col("span_errors") == 0, "done")
        .when(F.col("retryable_errors") == 0, "failed")
        .when(F.col("attempts") >= max_attempts, "failed")
        .otherwise("needs_retry")
    )
    metrics = (
        attempts_df.join(partition_metrics(written), "part_bucket", "left")
        .fillna(
            0,
            [
                "docs",
                "spans_emitted",
                "pages_parsed",
                "ocr_regions",
                "span_errors",
                "retryable_errors",
            ],
        )
        .fillna("", ["error_kind"])
        .withColumns(
            {
                "run_id": F.lit(run_id),
                "status": status,
                "n_buckets": F.lit(n_buckets),
                "lineage": F.lit(lineage or f"code={__version__}"),
                "committed_at": F.lit(time.time()),
            }
        )
    )
    metrics.select(*_STATE_COLUMNS).write.mode("append").parquet(state_dir)
    t_ledger = time.time() - t_ledger0

    # Per-phase wall times, surfaced for ops/scaling analysis: phase 1 is
    # the single data job (scan/generate → exchange → kernel → partitioned
    # write + its commit), phase 2 the metrics re-read + ledger append
    # (captured BEFORE the counters aggregation below, which scans the
    # whole append-only ledger and grows with its history).
    counters = _job_counters(spark, state_dir)
    counters["wall_write_sec"] = round(t_write, 2)
    counters["wall_ledger_sec"] = round(t_ledger, 2)
    return counters


def _job_counters(spark: SparkSession, state_dir: str) -> dict:
    # Counters over the LATEST row per bucket only — retried buckets appear
    # multiple times in the append-only ledger and must not double-count.
    latest = latest_state(spark.read.parquet(state_dir))
    row = latest.agg(
        F.sum(F.when(F.col("status") == "done", 1).otherwise(0)).alias("buckets_done"),
        F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias(
            "buckets_failed"
        ),
        F.sum(F.when(F.col("status") == "needs_retry", 1).otherwise(0)).alias(
            "buckets_retrying"
        ),
        F.sum("docs").alias("docs"),
        F.sum("spans_emitted").alias("spans"),
    ).collect()[0]
    return {
        "buckets_done": row["buckets_done"] or 0,
        "buckets_failed": row["buckets_failed"] or 0,
        "buckets_retrying": row["buckets_retrying"] or 0,
        "docs": row["docs"],
        "spans": row["spans"],
    }
