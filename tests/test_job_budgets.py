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


# connected_components: the canonical-edge checkpoint (map stage +
# result), then per star round its three exchanges plus the checkpoint's
# result stage, then the read's centre distinct (map stage + result)
def components_jobs(rounds: int) -> int:
    return 4 * rounds + 4


# 30 disjoint edges converge in 2 rounds
DISJOINT_EDGES_JOBS = 12
# update_components with additions only: the delta checkpoint, no
# wounded-cluster work, connected_components over the contracted graph
MERGE_ONLY_UPDATE_JOBS = 24
# ensure_dup_pairs_table on the window a caller just took the delta of:
# the delta is read back, only the merged table is written
PAIRS_TABLE_AFTER_DELTA_JOBS = 4


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a bigint, doc_b bigint")


def test_components_round_budget(spark):
    from deed_ocr_spark.queries.components import connected_components

    chain = _edges(spark, [(i, i + 1) for i in range(511)])
    stats = {}
    rows, jobs = _jobs(
        spark, lambda: connected_components(chain, stats=stats).collect()
    )
    assert stats["rounds"] == 10
    assert len(rows) == 512 and {r["component"] for r in rows} == {0}
    assert jobs <= components_jobs(stats["rounds"]), jobs

    disjoint = _edges(spark, [(2 * i, 2 * i + 1) for i in range(30)])
    rows, jobs = _jobs(spark, lambda: connected_components(disjoint).collect())
    assert {(r["doc_id"], r["component"]) for r in rows} == {
        (n, n - n % 2) for n in range(60)
    }
    assert jobs <= DISJOINT_EDGES_JOBS, jobs


def test_merge_only_update_budget(spark):
    from deed_ocr_spark.queries.components import update_components

    old = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5), (6, 5)], "doc_id bigint, component bigint"
    )
    added = [(2, 9), (5, 9)]
    current = _edges(spark, [(1, 2), (5, 6)] + added)
    none = _edges(spark, [(0, 0)]).limit(0)
    rows, jobs = _jobs(
        spark,
        lambda: update_components(
            old, current, _edges(spark, added), none
        ).collect(),
    )
    assert {(r["doc_id"], r["component"]) for r in rows} == {
        (1, 1), (2, 1), (5, 1), (6, 1), (9, 1)
    }
    assert jobs <= MERGE_ONLY_UPDATE_JOBS, jobs


def test_pairs_table_after_delta_budget(spark, tmp_path, monkeypatch):
    import deed_ocr_spark.signatures as sig
    from tests.test_pair_delta import _pair_set, _write_docs

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    _write_docs(spark, sf, 0, 60, 2, "overwrite")
    sig.ensure_dup_pairs_table(spark, sf)
    snap = sig.processed_parts(spark, sf, sig.WINNOW_FPS)
    _write_docs(spark, sf, 60, 90, 1, "append")
    added, _retracted = sig.winnow_dup_pairs_delta(spark, sf, snap)
    assert _pair_set(added)

    ver, jobs = _jobs(spark, lambda: sig.ensure_dup_pairs_table(spark, sf))
    assert jobs <= PAIRS_TABLE_AFTER_DELTA_JOBS, jobs
    assert _pair_set(sig.read_signature_table(spark, ver)) == _pair_set(
        sig._pairs_full_df(spark, sf, 64)
    )


def test_bench_leaves_plan_without_jobs(spark):
    """Building a bench leaf's plan launches no Spark job once its tables
    are known to the session: no schema inference, no sizing action. The
    leaf list is bench.py's own."""
    import bench
    from deed_ocr_spark.queries import QUERIES
    from deed_ocr_spark.queries.textpipe import d6b_simhash_fast
    from tests.test_queries_oracle import SF_DIR as sf

    queries = {**QUERIES, "d6b_simhash_fast": d6b_simhash_fast}
    for name in bench.BENCH_QUERIES:
        queries[name](spark, sf)
    jobs = {
        name: _jobs(spark, lambda: queries[name](spark, sf))[1]
        for name in bench.BENCH_QUERIES
    }
    assert jobs == dict.fromkeys(bench.BENCH_QUERIES, 0), jobs
