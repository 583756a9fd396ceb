"""Job-count budgets: Spark jobs per public operation, as ceilings.

Wall time on a shared box is noisy; the number of jobs an operation
launches is exact, and each job costs a fixed scheduling round trip
whatever it holds. Each ceiling is the count measured when it was set,
with AQE on as shipped (AQE runs every shuffle stage as its own job).
Lower a ceiling when a change earns it; never raise one to let a change
pass.
"""

import uuid

from deed_ocr_spark.corpus import corpus_df
from deed_ocr_spark.state import run_extraction_job

N_BUCKETS = 32

# scan → exchange (map-stage job), kernel + partitioned write, metrics
# re-read (three jobs: the distinct-docs aggregate shuffles twice), ledger
# append
FULL_RUN_JOBS = 6
# one pinned-schema collect of the ledger
NOOP_RESUME_JOBS = 1


def _jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` launched on this thread)."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "job budget")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_extraction_job_budget(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    corpus_df(spark, 400, seed=3, n_partitions=4).write.parquet(corpus)
    df = spark.read.parquet(corpus)
    out, state = str(tmp_path / "out"), str(tmp_path / "state")

    def job(run_id):
        return run_extraction_job(spark, df, out, state, run_id, n_buckets=N_BUCKETS)

    full, jobs = _jobs(spark, lambda: job("full"))
    assert full["buckets_done"] == N_BUCKETS and full["docs"] == 400
    assert jobs <= FULL_RUN_JOBS, jobs

    again, jobs = _jobs(spark, lambda: job("noop"))
    assert again == {k: v for k, v in full.items() if not k.startswith("wall_")}
    assert jobs <= NOOP_RESUME_JOBS, jobs
