"""Checkpoint/resume tests (SURVEY.md §5.2-5).

Simulates a mid-job crash (run truncated to a bucket subset), resumes, and
asserts: no duplicate spans, full-output equality with a single-shot run,
and state-ledger monotonicity — the reference's retry semantics
(/root/reference/deed_ocr/utils/retry_helper.py:186-222) as anti-join.
"""

import os

import pytest
from pyspark.sql import functions as F

from deed_ocr_spark.corpus import corpus_df
from deed_ocr_spark.state import latest_rows, read_state, run_extraction_job

N_DOCS = 80
N_BUCKETS = 8


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "out"), str(tmp_path / "state")


def _collect_spans(spark, out_dir):
    return sorted(
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in spark.read.parquet(out_dir).collect()
    )


def test_crash_resume_exactly_once(spark, dirs, tmp_path):
    out_dir, state_dir = dirs
    df = corpus_df(spark, N_DOCS, seed=7, n_partitions=4)

    # Run 1 "crashes" after 3 of 8 buckets.
    run_extraction_job(
        spark, df, out_dir, state_dir, run_id="r1",
        n_buckets=N_BUCKETS, only_buckets=[0, 1, 2],
    )
    latest = latest_rows(read_state(spark, state_dir))
    assert sorted(b for b, r in latest.items() if r["status"] == "done") == [0, 1, 2]
    partial = _collect_spans(spark, out_dir)
    assert partial  # something committed

    # Run 2 resumes: processes only pending buckets.
    stats = run_extraction_job(
        spark, df, out_dir, state_dir, run_id="r2", n_buckets=N_BUCKETS
    )
    assert stats["buckets_done"] == N_BUCKETS
    resumed = _collect_spans(spark, out_dir)

    # Single-shot reference run into a fresh location.
    out2, state2 = str(tmp_path / "out2"), str(tmp_path / "state2")
    run_extraction_job(spark, df, out2, state2, run_id="solo", n_buckets=N_BUCKETS)
    solo = _collect_spans(spark, out2)

    assert resumed == solo  # no dupes, no gaps
    # ledger monotone: every bucket done exactly once, r1 rows not rewritten
    state = spark.read.parquet(state_dir)
    per_bucket = state.filter(F.col("status") == "done").groupBy("part_bucket").count()
    assert all(r["count"] == 1 for r in per_bucket.collect())
    assert state.filter(F.col("run_id") == "r1").count() == 3
    assert state.filter(F.col("run_id") == "r2").count() == N_BUCKETS - 3


def test_rerun_after_done_is_noop(spark, dirs):
    out_dir, state_dir = dirs
    df = corpus_df(spark, 20, seed=9, n_partitions=2)
    run_extraction_job(spark, df, out_dir, state_dir, run_id="a", n_buckets=4)
    before = _collect_spans(spark, out_dir)
    run_extraction_job(spark, df, out_dir, state_dir, run_id="b", n_buckets=4)
    after = _collect_spans(spark, out_dir)
    assert before == after
    state = spark.read.parquet(state_dir)
    assert state.filter(F.col("run_id") == "b").count() == 0  # nothing pending


def _fault_corpus(spark, messages):
    """Tiny input with one poisoned doc per message (span kind ``fault``
    raises inside the kernel with the span text as the error), plus clean
    docs — the reference's mocked-API-failure pattern, but through a real
    Spark job."""
    rows = []
    for i, msg in enumerate(messages):
        rows.append(
            (
                f"poison-{i}",
                [
                    {"kind": "text", "text": "clean span", "media_ref": "", "offset": 0},
                    {"kind": "fault", "text": msg, "media_ref": "", "offset": 20},
                ],
            )
        )
    for i in range(6):
        rows.append(
            (
                f"clean-{i}",
                [{"kind": "text", "text": f"doc {i}", "media_ref": "", "offset": 0}],
            )
        )
    return spark.createDataFrame(
        rows,
        "doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )


def _bucket_of(spark, doc_id, n_buckets):
    return (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(doc_id)), F.lit(n_buckets)).cast("int"))
        .collect()[0][0]
    )


def test_retry_escalation_poisoned_bucket(spark, dirs):
    """A bucket with retryable errors re-runs with an attempt counter and
    lands in 'failed' after max_attempts instead of looping forever
    (retry_helper.py:224-349); non-retryable errors fail immediately."""
    out_dir, state_dir = dirs
    # 'timeout' is retryable; 'blocked by safety' (content_filter) is not
    df = _fault_corpus(spark, ["Read timed out", "blocked by safety settings"])
    n_buckets = 8
    b_retry = _bucket_of(spark, "poison-0", n_buckets)
    b_fatal = _bucket_of(spark, "poison-1", n_buckets)
    assert b_retry != b_fatal  # fixture invariant (doc ids chosen apart)

    stats1 = run_extraction_job(
        spark, df, out_dir, state_dir, run_id="r1",
        n_buckets=n_buckets, max_attempts=3,
    )
    state = spark.read.parquet(state_dir)
    row_retry = state.filter(F.col("part_bucket") == b_retry).collect()[0]
    row_fatal = state.filter(F.col("part_bucket") == b_fatal).collect()[0]
    assert row_retry["status"] == "needs_retry" and row_retry["attempts"] == 1
    assert row_fatal["status"] == "failed" and row_fatal["attempts"] == 1
    assert row_fatal["retryable_errors"] == 0 and row_fatal["span_errors"] == 1
    assert stats1["buckets_retrying"] == 1 and stats1["buckets_failed"] == 1

    # deterministic kernels ⇒ the retryable bucket keeps failing; each rerun
    # increments attempts until the ceiling flips it to failed
    run_extraction_job(spark, df, out_dir, state_dir, run_id="r2",
                       n_buckets=n_buckets, max_attempts=3)
    run_extraction_job(spark, df, out_dir, state_dir, run_id="r3",
                       n_buckets=n_buckets, max_attempts=3)
    state = spark.read.parquet(state_dir)
    hist = sorted(
        (r["attempts"], r["status"])
        for r in state.filter(F.col("part_bucket") == b_retry).collect()
    )
    assert hist == [(1, "needs_retry"), (2, "needs_retry"), (3, "failed")]

    # terminal: a further run schedules nothing new for either poison bucket
    stats4 = run_extraction_job(spark, df, out_dir, state_dir, run_id="r4",
                                n_buckets=n_buckets, max_attempts=3)
    assert stats4["buckets_retrying"] == 0
    assert stats4["buckets_failed"] == 2
    assert spark.read.parquet(state_dir).filter(F.col("run_id") == "r4").count() == 0

    # keep-going: the poisoned docs' data IS in the output, error spans
    # carry the taxonomy status (workflow.py:262-282 discipline)
    out = spark.read.parquet(out_dir)
    assert out.filter(F.col("doc_id") == "poison-0").count() == 2
    assert (
        out.filter((F.col("doc_id") == "poison-0") & (F.col("status") == "timeout")).count()
        == 1
    )


def test_n_buckets_mismatch_fails_fast(spark, dirs):
    out_dir, state_dir = dirs
    df = corpus_df(spark, 20, seed=9, n_partitions=2)
    run_extraction_job(spark, df, out_dir, state_dir, run_id="a", n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        run_extraction_job(spark, df, out_dir, state_dir, run_id="b", n_buckets=8)


def test_corrupt_state_propagates(spark, tmp_path):
    """A broken ledger must NOT be treated as first-run (that would re-run
    everything and append a duplicate ledger generation)."""
    from deed_ocr_spark.state import read_state

    state_dir = tmp_path / "state"
    state_dir.mkdir()
    (state_dir / "part-00000.parquet").write_bytes(b"not parquet at all")
    with pytest.raises(Exception):
        read_state(spark, str(state_dir))
    # while a genuinely-missing dir is still a clean first run
    assert read_state(spark, str(tmp_path / "nope")) is None


def test_metrics_ledger_counts(spark, dirs):
    out_dir, state_dir = dirs
    df = corpus_df(spark, 30, seed=11, n_partitions=2)
    stats = run_extraction_job(spark, df, out_dir, state_dir, run_id="m", n_buckets=4)
    assert stats["docs"] == 30
    out = spark.read.parquet(out_dir)
    assert stats["spans"] == out.count()
    state = spark.read.parquet(state_dir)
    row = state.agg(
        F.sum("pages_parsed").alias("p"), F.sum("ocr_regions").alias("o")
    ).collect()[0]
    assert row["p"] == out.filter(F.col("src_kind") == "pdf_page").count()
    assert row["o"] == out.filter(F.col("src_kind") == "ocr_region").count()


def test_resume_leaves_session_overwrite_mode_alone(spark, dirs):
    """The bucket write asks for dynamic partition overwrite per write, not
    on the session: a caller's ``static`` setting survives a run plus a
    partial re-run, and the re-run replaces only the buckets it wrote."""
    key = "spark.sql.sources.partitionOverwriteMode"
    out_dir, state_dir = dirs
    prior = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        df = corpus_df(spark, N_DOCS, seed=7, n_partitions=4)
        run_extraction_job(
            spark, df, out_dir, state_dir, run_id="r1",
            n_buckets=N_BUCKETS, only_buckets=[0, 1, 2],
        )

        def listing():
            return {
                d: sorted(os.listdir(os.path.join(out_dir, d)))
                for d in os.listdir(out_dir)
                if d.startswith("part_bucket=")
            }

        first = listing()
        assert sorted(first) == [f"part_bucket={b}" for b in (0, 1, 2)]
        run_extraction_job(
            spark, df, out_dir, state_dir, run_id="r2", n_buckets=N_BUCKETS
        )
        assert spark.conf.get(key) == "static"
        after = listing()
        assert sorted(after) == sorted(
            f"part_bucket={b}" for b in range(N_BUCKETS)
        )
        # r1's buckets keep their exact files: r2 replaced only its own
        assert {d: after[d] for d in first} == first
    finally:
        spark.conf.set(key, prior)


@pytest.mark.parametrize("column", ["n_buckets", "status"])
def test_ledger_missing_column_fails_loud(spark, dirs, column):
    """The ledger is read with its schema pinned, so a file that lacks a
    column reads as nulls. A resume must raise on it, neither re-running
    every bucket (null status is not 'done') nor skipping any."""
    import pyarrow.parquet as pq

    out_dir, state_dir = dirs
    df = corpus_df(spark, 20, seed=9, n_partitions=2)
    run_extraction_job(spark, df, out_dir, state_dir, run_id="a", n_buckets=4)
    (ledger,) = [f for f in os.listdir(state_dir) if f.endswith(".parquet")]
    path = os.path.join(state_dir, ledger)
    pq.write_table(pq.read_table(path).drop_columns([column]), path)
    os.remove(os.path.join(state_dir, f".{ledger}.crc"))  # stale checksum
    before = _collect_spans(spark, out_dir)

    with pytest.raises(ValueError, match=column):
        run_extraction_job(spark, df, out_dir, state_dir, run_id="b", n_buckets=4)
    assert _collect_spans(spark, out_dir) == before
    assert os.listdir(state_dir).count(ledger) == 1
    assert len([f for f in os.listdir(state_dir) if f.endswith(".parquet")]) == 1
