"""The metrics re-read lists only the buckets the run wrote.

run_extraction_job's state commit re-reads this run's output to compute
per-bucket metrics. `_read_written_buckets` must (a) return exactly the
same rows as the naive full-listing + partition-filter read, (b) back the
frame ONLY with files under the pending buckets' directories (the
O(pending) listing property — resuming 3 buckets of 100k must not list
the other 99 997), and (c) degrade to an empty, correctly-typed frame
when no pending bucket produced output (empty buckets still get their
ledger row with zero metrics from the caller).
"""

import pytest

from deed_ocr_spark.corpus import corpus_df
from deed_ocr_spark.state import _read_written_buckets, run_extraction_job


@pytest.fixture()
def written(spark, tmp_path):
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    df = corpus_df(spark, 60, seed=11, n_partitions=4)
    run_extraction_job(spark, df, out, state, run_id="w", n_buckets=8)
    return out


def test_rows_match_full_filtered_read(spark, written):
    from pyspark.sql import functions as F

    pending = [1, 3, 5]
    pruned = _read_written_buckets(spark, written, pending)
    naive = spark.read.parquet(written).filter(
        F.col("part_bucket").isin(pending)
    )
    key = lambda r: (r["doc_id"], r["order"])
    assert sorted(map(key, pruned.collect())) == sorted(map(key, naive.collect()))
    # part_bucket survives as a real (partition) column with int values
    assert {r["part_bucket"] for r in pruned.select("part_bucket").distinct().collect()} <= set(pending)


def test_listing_is_bounded_to_pending_dirs(spark, written):
    pending = [2, 6]
    pruned = _read_written_buckets(spark, written, pending)
    files = pruned.inputFiles()
    assert files, "pending buckets should hold data at this corpus size"
    for f in files:
        assert "part_bucket=2" in f or "part_bucket=6" in f, f


def test_no_written_dirs_yields_typed_empty_frame(spark, tmp_path):
    # the data write always creates out_dir before the re-read; "no pending
    # bucket wrote output" means the dir exists but holds no bucket dirs
    out = tmp_path / "out_no_buckets"
    out.mkdir()
    df = _read_written_buckets(spark, str(out), [0, 1])
    assert df.count() == 0
    assert "part_bucket" in df.columns and "doc_id" in df.columns


def test_foreign_schema_failure_propagates(spark, tmp_path):
    """An analysis failure that is NOT the no-files case — e.g. foreign
    parquet in out_dir whose schema lacks part_bucket — must raise, not
    map to the typed empty frame: swallowing it would ledger just-written
    buckets as done with docs=0 and span_errors that never escalate."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    out = tmp_path / "out_foreign"
    out.mkdir()
    pq.write_table(pa.table({"something_else": [1, 2]}), out / "x.parquet")
    with pytest.raises(AnalysisException):
        _read_written_buckets(spark, str(out), [0, 1])


def test_empty_bucket_still_gets_done_ledger_row(spark, tmp_path):
    """A bucket with no documents writes no directory but must land a
    terminal 'done' ledger row so resume never re-schedules it."""
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    # 3 docs into 64 buckets → most buckets empty
    df = corpus_df(spark, 3, seed=5, n_partitions=1)
    stats = run_extraction_job(
        spark, df, out, state, run_id="sparse", n_buckets=64
    )
    assert stats["buckets_done"] == 64
    assert stats["buckets_retrying"] == 0 and stats["buckets_failed"] == 0
