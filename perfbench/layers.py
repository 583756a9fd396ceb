"""Per-layer metrics of the traced run, and the end-to-end metric each one
is predicted to move.

Every workload's traced run emits every metric listed here. A layer the
workload never calls reports 0 (no time spent, no bytes, no calls), and a
ratio whose base is 0 reports 0; the README says which workloads exercise
which layer.

``METRICS`` gives each metric's unit, which direction is better, and the
end-to-end metrics it is predicted to move, as ``(benchmark metric,
workload, workload-level name)``. The benchmark metric is one of
BENCHMARK.json's ``end_to_end`` (``setup_s``, ``iter_s``,
``peak_rss_mb``); the workload-level name is the finer metric the workload
prints in its summary (``extract_docs_per_s`` and so on).
"""

from __future__ import annotations

# bench.py's leaf list: its BENCH_QUERIES plus the x1 flagship it times
# separately (a test keeps this equal to the frozen harness).
LEAVES = (
    "x1_extract_spans",
    "x4_doc_details",
    "a4_pricing_summary",
    "j2_join_agg",
    "j1_range_join",
    "w2_topk_per_group",
    "d1_dedup_exact",
    "d6_simhash",
    "d6b_simhash_fast",
    "d7_ngram_jaccard_pairs",
    "d8_minhash_sig",
    "d9_minhash_band_pairs",
    "d13_winnow_dup_pairs",
    "e1_cosine_topk",
    "p7_watermark_clean",
)

WORKLOADS = ("extract_job", "curation_cycle", "query_mix")

_ALL = tuple(("setup_s", w, "setup_s") for w in WORKLOADS)
_X_DOCS = ("iter_s", "extract_job", "extract_docs_per_s")
_X_SUMM = ("iter_s", "extract_job", "summaries_docs_per_s")
_X_RESUME = ("iter_s", "extract_job", "resume_noop_s")
_C_FULL = ("iter_s", "curation_cycle", "curation_full_s")
_C_INCR = ("iter_s", "curation_cycle", "curation_incr_s")
_Q_PASS = ("iter_s", "query_mix", "query_pass_s")

# name -> (unit, better, moves)
METRICS = {
    "session.start_s": ("s", "lower", _ALL),
    "session.worker_boot_s": ("s", "lower", _ALL),
    "corpus.gen_s": ("s", "lower", (("setup_s", "extract_job", "setup_s"),)),
    "kernels.spans_docs_per_s": ("docs/s", "higher", (_X_DOCS,)),
    "kernels.summaries_docs_per_s": ("docs/s", "higher", (_X_SUMM,)),
    "kernels.winnow_docs_per_s": ("docs/s", "higher", (_C_FULL,)),
    "extract.python_total_s": ("s", "lower", (_X_DOCS, _X_SUMM)),
    "extract.python_boot_s": ("s", "lower", (_X_DOCS, _X_SUMM)),
    "extract.python_init_s": ("s", "lower", (_X_DOCS, _X_SUMM)),
    "extract.arrow_bytes_sent": ("bytes", "lower", (_X_DOCS, _X_SUMM)),
    "extract.arrow_bytes_received": ("bytes", "lower", (_X_DOCS, _X_SUMM)),
    "extract.kernel_share": ("ratio", "higher", (_X_DOCS, _X_SUMM)),
    "job.shuffle_bytes": ("bytes", "lower", (_X_DOCS,)),
    "job.shuffle_write_s": ("s", "lower", (_X_DOCS,)),
    "job.tasks": ("count", "lower", (_X_DOCS,)),
    "job.task_skew": ("ratio", "lower", (_X_DOCS,)),
    "state.write_s": ("s", "lower", (_X_DOCS,)),
    "state.ledger_s": ("s", "lower", (_X_DOCS,)),
    "state.files_written": ("count", "lower", (_X_DOCS,)),
    "state.output_bytes": ("bytes", "lower", (_X_DOCS,)),
    "state.resume_plan_s": ("s", "lower", (_X_RESUME,)),
    "signatures.shingles_build_s": ("s", "lower", (_C_FULL,)),
    "signatures.winnow_build_s": ("s", "lower", (_C_FULL,)),
    "signatures.mirror_build_s": ("s", "lower", (_C_FULL,)),
    "signatures.pairs_table_s": ("s", "lower", (_C_FULL,)),
    "signatures.append_s": ("s", "lower", (_C_INCR,)),
    "signatures.pairs_delta_s": ("s", "lower", (_C_INCR,)),
    "signatures.pairs_table_delta_s": ("s", "lower", (_C_INCR,)),
    "signatures.bytes_written": ("bytes", "lower", (_C_FULL, _C_INCR)),
    "signatures.files_written": ("count", "lower", (_C_FULL, _C_INCR)),
    "signatures.incr_over_full": ("ratio", "lower", (_C_FULL, _C_INCR)),
    "signatures.mirror_setup_s": ("s", "lower", (("setup_s", "query_mix", "setup_s"),)),
    "components.cluster_s": ("s", "lower", (_C_FULL,)),
    "components.update_s": ("s", "lower", (_C_INCR,)),
    **{
        f"queries.{leaf}.{part}": ("s", "lower", (_Q_PASS,))
        for leaf in LEAVES
        for part in ("plan_s", "exec_s")
    },
    **{
        f"engine.{name}": (unit, "lower", tuple(("iter_s", w, "iter_s") for w in WORKLOADS))
        for name, unit in (
            ("jobs", "count"),
            ("tasks", "count"),
            ("executor_run_s", "s"),
            ("executor_cpu_s", "s"),
            ("gc_s", "s"),
            ("shuffle_bytes", "bytes"),
            ("spill_bytes", "bytes"),
        )
    },
    # the workload-level end-to-end metrics, as measured in the traced run
    "steps.extract_docs_per_s": ("docs/s", "higher", (_X_DOCS,)),
    "steps.summaries_docs_per_s": ("docs/s", "higher", (_X_SUMM,)),
    "steps.resume_noop_s": ("s", "lower", (_X_RESUME,)),
    "steps.curation_full_s": ("s", "lower", (_C_FULL,)),
    "steps.curation_incr_s": ("s", "lower", (_C_INCR,)),
    "steps.query_pass_s": ("s", "lower", (_Q_PASS,)),
    # what tracing itself costs: the tracer's own reads, per set-up and
    # per iteration, and the traced run's peak memory
    "overhead.setup_s": ("s", "lower", _ALL),
    "overhead.iter_s": ("s", "lower", tuple(("iter_s", w, "iter_s") for w in WORKLOADS)),
    "traced.peak_rss_mb": ("MiB", "lower", tuple(("peak_rss_mb", w, "peak_rss_mb") for w in WORKLOADS)),
}


def complete(values: dict) -> dict:
    """Every metric in METRICS, from ``values`` or 0 when the workload did
    not exercise it; raises on a name METRICS does not define."""
    unknown = set(values) - set(METRICS)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, (unit, _better, _moves) in METRICS.items()
    }
