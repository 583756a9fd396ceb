"""extract_job: the batch extraction job, end to end.

Set-up builds the skewed interleaved corpus as parquet from
``corpus.corpus_df(seed)`` (about 1.5% hot documents of 40-120 spans).
Each iteration then runs, waiting for each result:

1. ``job.extract_summaries(...)`` written as parquet;
2. ``state.run_extraction_job`` into fresh out and state dirs (32 buckets);
3. the same job again against the completed ledger: a no-op resume.

One warm-up iteration runs before the measured ones: the first job in a
fresh JVM costs about twice a warm one (class loading, JIT, first writes).

Kernels, the Arrow boundary, the single exchange, the partitioned write and
the ledger commit do nearly all the work; no signature tables, almost no
joins.
"""

from __future__ import annotations

import random
import shutil

from perfbench.digest import rows_digest
from perfbench.stats import median
from perfbench.workloads.common import (
    PY_METRICS,
    Run,
    closed_loop,
    dir_size,
    engine_totals,
    kernel_seconds,
    medians,
    op_spans,
    repeated_setup,
    setup_seconds,
    sql_sum,
    start_session,
)

N_DOCS = 5000
TINY_DOCS = 300
N_BUCKETS = 32
GOLDEN_SAMPLE = 100
SPAN_COLS = ("doc_id", "order", "kind", "text", "media_ref", "src_kind")
SUMMARY_COLS = ("doc_id", "n_pages", "n_spans", "n_media", "combined_chars",
                "legal_description_block", "trs", "details_json")



def run(run: Run) -> dict:
    from deed_ocr_spark.corpus import corpus_df
    from deed_ocr_spark.job import extract_summaries
    from deed_ocr_spark.state import run_extraction_job

    spark, start_s, boot_s = start_session(run)
    n_docs = TINY_DOCS if run.tiny else N_DOCS

    def prepare(k: int) -> None:
        corpus_df(spark, n_docs, seed=run.seed).write.mode("overwrite").parquet(
            run.path(f"corpus{k}")
        )

    prep = repeated_setup(run, prepare)
    corpus = run.path("corpus0")
    input_df = spark.read.parquet(corpus)

    def body(i: int) -> dict:
        d = run.path(f"iter{i}")

        def job(run_id: str):
            return run_extraction_job(
                spark, input_df, f"{d}/out", f"{d}/state", run_id, n_buckets=N_BUCKETS
            )

        _, summ_s = run.op(
            "extract", "summaries_write",
            lambda: extract_summaries(input_df).write.mode("overwrite").parquet(
                f"{d}/summaries"
            ),
            sql=True,
        )
        counters, job_s = run.op(
            "state", "run_extraction_job", lambda: job(f"run{i}"), sql=True
        )
        run.check(
            "job_counters",
            counters["docs"] == n_docs and counters["buckets_done"] == N_BUCKETS,
            str(counters),
        )
        ledger_rows = spark.read.parquet(f"{d}/state").count()
        again, resume_s = run.op(
            "state", "resume_noop", lambda: job(f"run{i}-resume")
        )
        stable = {k: v for k, v in counters.items() if not k.startswith("wall_")}
        run.check(
            "resume_noop",
            again == stable
            and spark.read.parquet(f"{d}/state").count() == ledger_rows,
            f"{again} vs {stable}",
        )
        files, size = dir_size(f"{d}/out")
        if i > 0:  # keep only the latest iteration's outputs
            shutil.rmtree(run.path(f"iter{i - 1}"), ignore_errors=True)
        return {
            "i": i, "dir": d, "counters": counters, "files": files, "bytes": size,
            "summ_s": summ_s, "job_s": job_s, "resume_s": resume_s,
            "iter_s": summ_s + job_s + resume_s,
        }

    iters = closed_loop(run, body, warmup=1)
    _golden_checks(run, spark, n_docs, iters[-1]["dir"])

    samples = {
        "iter_s": [r["iter_s"] for r in iters],
        "extract_docs_per_s": [n_docs / r["job_s"] for r in iters],
        "summaries_docs_per_s": [n_docs / r["summ_s"] for r in iters],
        "resume_noop_s": [r["resume_s"] for r in iters],
    }
    out = {
        "e2e": {
            "setup_s": setup_seconds(start_s, boot_s, prep),
            "iter_s": median(samples["iter_s"]),
        },
        "samples": samples,
        "units": {"extract_docs_per_s": "docs/s", "summaries_docs_per_s": "docs/s",
                  "resume_noop_s": "s"},
        "size": f"{n_docs} docs, {N_BUCKETS} buckets",
    }
    if run.tracer.enabled:
        layers = _layers(run, iters, corpus, n_docs)
        layers.update({
            "session.start_s": start_s,
            "session.worker_boot_s": boot_s,
            "corpus.gen_s": median(prep),
            **{f"steps.{k}": median(samples[k]) for k in out["units"]},
        })
        out["layers"] = layers
    return out


def _golden_checks(run: Run, spark, n_docs: int, d: str) -> None:
    """Spans and summaries of a seeded sample of documents equal the
    single-process golden executor over the same generated documents."""
    from pyspark.sql import functions as F

    from deed_ocr_spark.corpus import doc_id_for, gen_doc
    from deed_ocr_spark.golden import doc_summary, extract_doc

    rng = random.Random(run.seed)
    ids = [doc_id_for(i) for i in rng.sample(range(n_docs), min(GOLDEN_SAMPLE, n_docs))]
    docs = {doc_id: gen_doc(doc_id, run.seed)["spans"] for doc_id in ids}

    want = [(doc_id, *span) for doc_id, spans in docs.items() for span in extract_doc(spans)]
    got = (
        spark.read.parquet(f"{d}/out").filter(F.col("doc_id").isin(ids))
        .select(*SPAN_COLS).collect()
    )
    run.check(
        "spans_equal_golden",
        rows_digest(got, SPAN_COLS) == rows_digest(want, SPAN_COLS),
        f"{len(got)} spark rows vs {len(want)} golden rows",
    )

    want = []
    for doc_id, spans in docs.items():
        s = doc_summary(spans)
        want.append((doc_id, *(s[c] for c in SUMMARY_COLS[1:])))
    got = (
        spark.read.parquet(f"{d}/summaries").filter(F.col("doc_id").isin(ids))
        .select(*SUMMARY_COLS).collect()
    )
    run.check(
        "summaries_equal_golden",
        rows_digest(got, SUMMARY_COLS) == rows_digest(want, SUMMARY_COLS),
        f"{len(got)} spark rows vs {len(want)} golden rows",
    )


def _layers(run: Run, iters: list, corpus: str, n_docs: int) -> dict:
    import pyarrow.parquet as pq

    tracer = run.tracer
    per_iter = []
    for r in iters:
        spans = op_spans(tracer, r["i"])
        (job_span,) = [s for s in spans if s.name == "run_extraction_job"]
        kernel = tracer.kernel_stage(job_span)
        row = {name: sql_sum(spans, "MapIn", m) for m, name in PY_METRICS.items()}
        row.update({
            "job.shuffle_bytes": job_span.engine["shuffle_bytes"],
            "job.shuffle_write_s": job_span.engine["shuffle_write_s"],
            "state.write_s": r["counters"]["wall_write_sec"],
            "state.ledger_s": r["counters"]["wall_ledger_sec"],
            "state.files_written": r["files"],
            "state.output_bytes": r["bytes"],
            "state.resume_plan_s": r["resume_s"],
            **engine_totals(tracer, r["i"]),
        })
        if kernel is not None and kernel["durations"]:
            row["job.tasks"] = kernel["tasks"]
            row["job.task_skew"] = max(kernel["durations"]) / median(kernel["durations"])
        per_iter.append(row)
    layers = medians(per_iter)

    # L0 on the corpus parquet, with Spark's Arrow batch size
    batches = pq.read_table(corpus, columns=["doc_id", "spans"]).to_batches(1024)
    spans_s, summ_s = kernel_seconds(batches)
    py_total = layers["extract.python_total_s"]
    layers["kernels.spans_docs_per_s"] = n_docs / spans_s
    layers["kernels.summaries_docs_per_s"] = n_docs / summ_s
    layers["extract.kernel_share"] = (spans_s + summ_s) / py_total if py_total else 0.0
    return layers
