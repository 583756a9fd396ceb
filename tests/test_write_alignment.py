"""Bucket-aligned sink writes (job.repartition_for_bucketed_write).

A ``partitionBy(part_bucket)`` write without alignment emits one file per
(task, bucket) pair — the small-file storm whose commit cost anti-scales.
The job aligns its single exchange to the sink instead: these tests pin
the per-bucket file bound (1 file per wave by default, ``files_per_bucket``
with a task-count target), output equality across alignments, and that
resume keeps the bound.
"""

import os
from collections import Counter

from deed_ocr_spark.corpus import corpus_df
from deed_ocr_spark.state import run_extraction_job

N_DOCS = 120
N_BUCKETS = 8


def _files_per_bucket(out_dir):
    counts = {}
    for name in os.listdir(out_dir):
        if name.startswith("part_bucket="):
            b = int(name.split("=", 1)[1])
            counts[b] = sum(
                1
                for f in os.listdir(os.path.join(out_dir, name))
                if f.endswith(".parquet")
            )
    return counts


def _rows(spark, out_dir):
    return sorted(
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in spark.read.parquet(out_dir).collect()
    )


def test_one_file_per_bucket_by_default(spark, tmp_path):
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    df = corpus_df(spark, N_DOCS, seed=23, n_partitions=6)
    run_extraction_job(spark, df, out, state, run_id="w1", n_buckets=N_BUCKETS)
    counts = _files_per_bucket(out)
    assert counts and all(c == 1 for c in counts.values()), counts


def test_task_target_bounds_files_and_preserves_rows(spark, tmp_path):
    out1, state1 = str(tmp_path / "o1"), str(tmp_path / "s1")
    out2, state2 = str(tmp_path / "o2"), str(tmp_path / "s2")
    df = corpus_df(spark, N_DOCS, seed=29, n_partitions=6)
    run_extraction_job(spark, df, out1, state1, run_id="a", n_buckets=N_BUCKETS)
    # n_partitions=16 over 8 buckets → 2 slices per bucket → ≤2 files each
    run_extraction_job(
        spark, df, out2, state2, run_id="b", n_buckets=N_BUCKETS, n_partitions=16
    )
    counts = _files_per_bucket(out2)
    assert counts and all(1 <= c <= 2 for c in counts.values()), counts
    assert _rows(spark, out1) == _rows(spark, out2)


def test_resume_keeps_per_bucket_bound(spark, tmp_path):
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    df = corpus_df(spark, N_DOCS, seed=31, n_partitions=6)
    run_extraction_job(
        spark, df, out, state, run_id="r1", n_buckets=N_BUCKETS,
        only_buckets=[0, 1, 2],
    )
    run_extraction_job(spark, df, out, state, run_id="r2", n_buckets=N_BUCKETS)
    counts = _files_per_bucket(out)
    assert counts and all(c == 1 for c in counts.values()), counts


def _kernel_stage_tasks(spark, fn):
    """Run ``fn``; return the task counts of the stages it ran that read a
    shuffle AND wrote output: the kernel + partitioned-write stage."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(spark._jvm.double, 0)
    no_status = spark._jvm.java.util.ArrayList()

    def stages():  # newest first
        return store.stageList(None, False, False, no_quantiles, no_status)

    before = stages()
    last = before.apply(0).stageId() if before.size() else -1
    fn()
    seq, tasks = stages(), []
    for i in range(seq.size()):
        st = seq.apply(i)
        if st.stageId() <= last:
            break
        if st.shuffleReadRecords() > 0 and st.outputRecords() > 0:
            tasks.append(st.numTasks())
    return tasks


def _task_of_bucket(out_dir):
    """bucket → partition id of the task that wrote its single file (the
    ``part-NNNNN`` number of a Spark output file)."""
    owner = {}
    for name in os.listdir(out_dir):
        if name.startswith("part_bucket="):
            (f,) = [
                f
                for f in os.listdir(os.path.join(out_dir, name))
                if f.endswith(".parquet")
            ]
            owner[int(name.split("=", 1)[1])] = int(f.split("-")[1])
    return owner


def test_derived_width_keeps_one_file_per_bucket(spark, tmp_path):
    """The kernel stage is as wide as the cores, not one task per bucket,
    and every bucket still lands in exactly one task and one file, on a
    full run and on a 3-bucket resume."""
    cores = spark.sparkContext.defaultParallelism
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    df = corpus_df(spark, N_DOCS, seed=37, n_partitions=6)

    def run(run_id, only=None):
        return lambda: run_extraction_job(
            spark, df, out, state, run_id=run_id, n_buckets=N_BUCKETS,
            only_buckets=only,
        )

    (first,) = _kernel_stage_tasks(spark, run("r1", [0, 1, 2, 3, 4]))
    assert first <= min(5, cores), first
    (resume,) = _kernel_stage_tasks(spark, run("r2"))
    assert resume <= min(3, cores), resume
    counts = _files_per_bucket(out)
    assert counts == {b: 1 for b in range(N_BUCKETS)}, counts

    full_out, full_state = str(tmp_path / "full"), str(tmp_path / "fstate")
    (full,) = _kernel_stage_tasks(
        spark,
        lambda: run_extraction_job(
            spark, df, full_out, full_state, run_id="f", n_buckets=N_BUCKETS
        ),
    )
    assert full <= min(N_BUCKETS, cores), full
    assert _files_per_bucket(full_out) == {b: 1 for b in range(N_BUCKETS)}
    assert _rows(spark, out) == _rows(spark, full_out)
    # hashing (part_bucket, slice) onto 4 tasks is uneven: the largest
    # task holds 3 of the 8 buckets (share 0.375; 32 buckets hash 6/8/8/10)
    per_task = sorted(Counter(_task_of_bucket(full_out).values()).values())
    assert per_task == [1, 2, 2, 3], per_task


def test_input_bytes_widen_the_kernel_stage(spark, tmp_path):
    """Past the cores, the width follows the pending input bytes at
    ``spark.sql.files.maxPartitionBytes`` per task (taken from the scan's
    size statistics), still capped at one task per bucket and still one
    file per bucket."""
    cores = spark.sparkContext.defaultParallelism
    corpus = str(tmp_path / "corpus")
    corpus_df(spark, N_DOCS, seed=41, n_partitions=2).write.parquet(corpus)
    size = sum(
        os.path.getsize(os.path.join(corpus, f))
        for f in os.listdir(corpus)
        if f.endswith(".parquet")
    )
    df = spark.read.parquet(corpus)
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    # about 3 × N_BUCKETS tasks' worth of bytes: the groups cap the width
    spark.conf.set(key, str(max(1, size // (3 * N_BUCKETS))))
    try:
        (width,) = _kernel_stage_tasks(
            spark,
            lambda: run_extraction_job(
                spark, df, out, state, run_id="b", n_buckets=N_BUCKETS
            ),
        )
    finally:
        spark.conf.set(key, saved)
    assert cores < N_BUCKETS, "needs more buckets than cores"
    assert width == N_BUCKETS, width
    assert _files_per_bucket(out) == {b: 1 for b in range(N_BUCKETS)}
