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
* the ledger is read ONCE per run, on the driver: one collect with
  ``STATE_SCHEMA_DDL`` pinned (no inference job). The n_buckets check,
  latest-row-per-bucket, the pending set and the returned counters are all
  resolved in Python from that snapshot, and the new ledger rows come from
  one collect of per-bucket metrics — a no-op resume is one Spark job;
* resume consults the LATEST ledger row per bucket: ``done`` and
  ``failed`` are terminal, ``needs_retry`` re-runs with an incremented
  attempt counter; a bucket whose errors are all non-retryable, or whose
  attempts reach ``max_attempts``, lands in ``failed`` instead of looping
  forever (retry_helper.py:224-349 escalation semantics);
* ``n_buckets`` is persisted in every ledger row — resuming with a
  different bucketing against the same state dir fails fast instead of
  silently duplicating documents under a new partitioning;
* a ledger row that lacks a column the plan reads (null under the pinned
  schema: a foreign or truncated ledger file) raises rather than
  re-running or skipping buckets.

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
from pyspark.sql import DataFrame, SparkSession, functions as F

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
# every column the resume plan and the counters read: never null in rows
# this job writes
_PLAN_COLUMNS = (
    "part_bucket", "status", "attempts", "docs", "spans_emitted", "n_buckets",
    "committed_at",
)
_WRITTEN_DDL = SPANS_OUT_DDL + ", part_bucket int"
# job.partition_metrics' counts: zero for a bucket that held no documents
_METRIC_COLUMNS = (
    "docs", "spans_emitted", "pages_parsed", "ocr_regions", "span_errors",
    "retryable_errors",
)

# Reference escalation ceiling: utils/retry_helper.py:224-349 retries a
# failed PDF with max_retries=5 before giving up.
MAX_ATTEMPTS = 5


def read_state(spark: SparkSession, state_dir: str) -> Optional[list]:
    """The whole ledger as driver rows: one scan with ``STATE_SCHEMA_DDL``
    pinned (no schema-inference job) and one collect, or None when there is
    no ledger yet. The ledger holds a few rows per bucket, so every resume
    decision is made from this one snapshot in Python.

    A pinned schema reads a column a file lacks as nulls, so a row missing
    any column the resume plan reads raises instead of silently
    re-running or skipping buckets."""
    # cheap existence probe first: avoids the JVM logging a PATH_NOT_FOUND
    # stack trace on every first run (local paths; remote URIs fall through
    # to the try/except)
    if "://" not in state_dir and not os.path.exists(state_dir):
        return None
    try:
        rows = spark.read.schema(STATE_SCHEMA_DDL).parquet(state_dir).collect()
    except AnalysisException as exc:
        # Only a genuinely-missing ledger means "first run". Any other
        # analysis/IO error (corrupt files, permissions, unreadable schema)
        # must propagate: treating it as first-run would silently re-run
        # every bucket and append a duplicate ledger generation.
        msg = str(exc)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise
    lacking = sorted({c for r in rows for c in _PLAN_COLUMNS if r[c] is None})
    if lacking:
        raise ValueError(
            f"state ledger at {state_dir} has rows without {lacking}; it was "
            "not written by this job, and resuming from it could re-run or "
            "skip buckets — repair it or use a fresh state/out location"
        )
    return rows


def latest_rows(rows: list) -> dict:
    """One row per bucket: the highest-attempt (latest) ledger entry.
    ``attempts`` is monotone per bucket across runs, so it orders history
    without relying on wall-clock timestamps."""
    latest = {}
    for r in rows:
        cur = latest.get(r["part_bucket"])
        if cur is None or (r["attempts"], r["committed_at"]) > (
            cur["attempts"],
            cur["committed_at"],
        ):
            latest[r["part_bucket"]] = r
    return latest


def _counters(latest: dict) -> dict:
    # Counters over the LATEST row per bucket only — retried buckets appear
    # multiple times in the append-only ledger and must not double-count.
    status = [r["status"] for r in latest.values()]
    return {
        "buckets_done": status.count("done"),
        "buckets_failed": status.count("failed"),
        "buckets_retrying": status.count("needs_retry"),
        "docs": sum(r["docs"] for r in latest.values()),
        "spans": sum(r["spans_emitted"] for r in latest.values()),
    }


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
    they are skipped here and get a zero-metrics ledger row in the
    caller.

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
            # this run's own dynamic overwrite just replaced these dirs, so
            # their schema is known: pinning it skips an inference job
            return (
                spark.read.schema(_WRITTEN_DDL)
                .option("basePath", out_dir)
                .parquet(*dirs)
            )
    try:
        return spark.read.parquet(out_dir).filter(
            F.col("part_bucket").isin(pending_ids)
        )
    except AnalysisException as exc:
        # ONLY the no-files cases (every pending bucket held zero
        # documents, or first run over an empty input) map to a typed
        # empty frame — the caller ledgers those buckets as done with zero
        # metrics. Any other analysis failure (corrupt or
        # foreign files in out_dir, schema-resolution errors) must
        # propagate: swallowing it would ledger just-written buckets as
        # done with docs=0 and real span_errors would never escalate.
        msg = str(exc)
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return spark.createDataFrame([], _WRITTEN_DDL)
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
    # Pending = buckets with no terminal ledger row, resolved in Python from
    # one ledger snapshot; the input-side restriction stays a partition
    # filter (never a collect of doc ids).
    rows = read_state(spark, state_dir) or []
    ledger_buckets = {r["n_buckets"] for r in rows}
    if ledger_buckets and ledger_buckets != {n_buckets}:
        raise ValueError(
            f"state ledger at {state_dir} was written with "
            f"n_buckets={sorted(ledger_buckets)} but this run requested "
            f"n_buckets={n_buckets}; resuming under a different bucketing "
            "would duplicate documents — use the ledger's value or a fresh "
            "state/out location"
        )
    latest = latest_rows(rows)
    attempt_of = {}
    for b in range(n_buckets):
        if only_buckets is not None and b not in only_buckets:
            continue
        row = latest.get(b)
        if row is None:
            attempt_of[b] = 1
        elif row["status"] == "needs_retry":
            attempt_of[b] = row["attempts"] + 1
        # 'done' and 'failed' are terminal: never re-scheduled
    pending_ids = list(attempt_of)
    if not pending_ids:
        return _counters(latest)
    bucketed = with_partition_bucket(input_df.select("doc_id", "spans"), n_buckets)
    pending = bucketed.filter(F.col("part_bucket").isin(pending_ids))

    # ONE exchange, aligned to the sink: shuffle the kernel input on
    # (part_bucket, slice) so each bucket's output lands in a bounded
    # number of files instead of one per (task, bucket) pair — the
    # partitioned-write small-file storm whose commit cost anti-scales
    # (job.repartition_for_bucketed_write). ``n_partitions`` sets the
    # slices per bucket (its ratio to ``n_buckets``); slices within a
    # bucket spread hot docs exactly like the generic doc_id salt did. The
    # stage is as wide as the cores or the input bytes need, never one
    # task per bucket.
    files_per_bucket = max(1, round(n_partitions / n_buckets)) if n_partitions else 1
    pending = repartition_for_bucketed_write(
        pending, n_buckets, files_per_bucket, len(pending_ids)
    )

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
    # is partition-PRUNED to the buckets this run wrote (at 100 TB a full
    # output re-scan here would dwarf the job; a pruned one is O(this run's
    # output) — df.observe() can't replace it because the ledger needs
    # per-bucket metrics, not global ones); buckets that held no documents
    # still get a done row (zero metrics) so resume never re-schedules them.
    t_ledger0 = time.time()
    metrics = {
        r["part_bucket"]: r.asDict()
        for r in partition_metrics(
            _read_written_buckets(spark, out_dir, pending_ids)
        ).collect()
    }
    committed_at = time.time()
    new_rows = []
    for b in pending_ids:
        row = {c: 0 for c in _METRIC_COLUMNS}
        row["error_kind"] = ""
        row.update(metrics.get(b, {}))
        row.update(
            run_id=run_id,
            part_bucket=b,
            attempts=attempt_of[b],
            status=_status(row, attempt_of[b], max_attempts),
            n_buckets=n_buckets,
            lineage=lineage or f"code={__version__}",
            committed_at=committed_at,
        )
        new_rows.append(row)
    (
        spark.createDataFrame(
            [tuple(r[c] for c in _STATE_COLUMNS) for r in new_rows], STATE_SCHEMA_DDL
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(state_dir)
    )
    t_ledger = time.time() - t_ledger0

    # Per-phase wall times, surfaced for ops/scaling analysis: phase 1 is
    # the single data job (scan/generate → exchange → kernel → partitioned
    # write + its commit), phase 2 the metrics re-read + ledger append. The
    # counters come from the snapshot plus the new rows, which are each
    # pending bucket's latest entry.
    latest.update((r["part_bucket"], r) for r in new_rows)
    counters = _counters(latest)
    counters["wall_write_sec"] = round(t_write, 2)
    counters["wall_ledger_sec"] = round(t_ledger, 2)
    return counters


def _status(metrics: dict, attempts: int, max_attempts: int) -> str:
    """Status ladder (retry_helper.py:224-349): clean → done; errors but
    nothing retryable → failed; retryable errors with attempts left →
    needs_retry; escalation exhausted → failed. Data is written in every
    case (keep-going discipline) — status only governs re-scheduling."""
    if metrics["span_errors"] == 0:
        return "done"
    if metrics["retryable_errors"] == 0 or attempts >= max_attempts:
        return "failed"
    return "needs_retry"
