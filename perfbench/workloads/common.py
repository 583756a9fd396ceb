"""What every workload shares: the run record, timed operations and
correctness checks, the closed loop, and the session set-up."""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass

from perfbench.stats import median
from perfbench.trace import Tracer

# Repeated input preparations per run; set-up time reports their median.
SETUP_REPEATS = 3

# SQL metric of a Python map operator (MapInArrow / MapInPandas) ->
# per-layer name
PY_METRICS = {
    "time to run Python workers": "extract.python_total_s",
    "time to start Python workers": "extract.python_boot_s",
    "time to initialize Python workers": "extract.python_init_s",
    "data sent to Python workers": "extract.arrow_bytes_sent",
    "data returned from Python workers": "extract.arrow_bytes_received",
}


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    tiny: bool
    work: str
    cpus: int
    tracer: Tracer
    spark: object = None
    # tracer time (status-store reads) during set-up and per iteration
    setup_tracer_s: float = 0.0
    iter_tracer_s: tuple = ()
    attempted: int = 0
    failed: int = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, layer: str, name: str, fn, sql: bool = False):
        """Run one operation under a span; returns (result, wall seconds).
        An operation that raises counts as failed and re-raises."""
        self.attempted += 1
        with self.tracer.span(layer, name, sql=sql) as sp:
            try:
                result = fn()
            except Exception:
                self.failed += 1
                print(f"perfbench: operation {layer}.{name} raised:", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                raise
        return result, sp.wall

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """One untimed correctness gate; a failed gate counts as a failed
        operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check {name} FAILED {detail}", file=sys.stderr)
        return ok


def closed_loop(run: Run, body, warmup: int = 0) -> list:
    """One client, each call waiting for its result. Runs ``warmup``
    iterations first (first Python-worker imports, JIT compilation, file
    listings), then ``body(i)`` until ``run.seconds`` have passed, at least
    once. ``body`` returns a dict holding ``iter_s``, the summed wall time
    of its timed operations (untimed checks between them are excluded).
    Returns the dicts of the measured iterations that completed, and
    records the time the tracer spent reading status stores before the
    loop and in each measured iteration."""
    results, tracer_s = [], []
    run.setup_tracer_s = run.tracer.self_s
    i, t_end = 0, None
    while True:
        if i == warmup:
            t_end = time.perf_counter() + run.seconds
        run.tracer.iteration = i
        res = None
        traced0 = run.tracer.self_s
        with run.tracer.span("workload", "warmup" if i < warmup else "iteration"):
            try:
                res = body(i)
            except Exception:  # already counted and printed by Run.op
                pass
        if res is not None and i >= warmup:
            tracer_s.append(run.tracer.self_s - traced0)
            results.append(res)
        i += 1
        if t_end is not None and time.perf_counter() >= t_end:
            break
    run.tracer.iteration = None
    run.iter_tracer_s = tuple(tracer_s)
    if not results:
        raise RuntimeError(f"{run.workload}: no measured iteration completed")
    return results


def start_session(run: Run):
    """The library's session factory on local[cpus], then one trivial
    Python-UDF job per core that imports the library, so Python worker
    start-up is paid here, not in the first timed iteration. Returns
    (spark, start seconds, worker boot seconds)."""
    from deed_ocr_spark.session import get_spark

    with run.tracer.span("session", "start") as sp:
        spark = get_spark(
            f"perfbench-{run.workload}",
            master=f"local[{run.cpus}]",
            shuffle_partitions=run.cpus,
        )
    start_s = sp.wall
    run.spark = spark
    spark.sparkContext.setLogLevel("ERROR")
    run.tracer.attach(spark)
    with run.tracer.span("session", "worker_boot") as sp:
        spark.range(0, 64, 1, run.cpus).mapInArrow(_import_library, "id long").count()
    return spark, start_s, sp.wall


def _import_library(batches):
    """Python-worker side of the boot job: load the library's kernels, as
    the first task of any job would."""
    import deed_ocr_spark.extract  # noqa: F401

    yield from batches


def repeated_setup(run: Run, prepare) -> list:
    """Call ``prepare(k)`` SETUP_REPEATS times (each into fresh locations)
    under ``corpus``-layer spans; returns the per-repeat seconds."""
    walls = []
    for k in range(SETUP_REPEATS):
        with run.tracer.span("corpus", "prepare") as sp:
            prepare(k)
        walls.append(sp.wall)
    return walls


def setup_seconds(start_s: float, boot_s: float, prep_walls: list) -> float:
    return start_s + boot_s + median(prep_walls)


def op_spans(tracer: Tracer, iteration: int) -> list:
    """The operation spans of one iteration (children of its span)."""
    return [
        s for s in tracer.spans
        if s.iteration == iteration and s.layer != "workload"
    ]


def engine_totals(tracer: Tracer, iteration: int) -> dict:
    """Engine work of one iteration's operations, as ``engine.*`` values;
    jobs run by the untimed checks between operations are not counted."""
    keys = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "shuffle_bytes", "spill_bytes")
    out = dict.fromkeys(keys, 0.0)
    for s in op_spans(tracer, iteration):
        for k in keys:
            out[k] += s.engine.get(k, 0.0)
    return {f"engine.{k}": v for k, v in out.items()}


def sql_sum(spans, node_part: str, metric: str) -> float:
    """Sum of one SQL metric over the plan nodes whose name contains
    ``node_part``, across ``spans``."""
    return sum(
        v for s in spans for node, name, v in s.sql
        if node_part in node and name == metric
    )


def medians(rows: list) -> dict:
    """Per-key median over a list of {metric: value} dicts."""
    keys = {k for r in rows for k in r}
    return {k: median([r[k] for r in rows if k in r]) for k in keys}


def dir_size(path: str) -> tuple:
    """(data files, bytes) under ``path``, ignoring hidden and _ files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def kernel_seconds(batches: list) -> tuple:
    """L0: seconds of the spans and of the summaries mapInArrow kernel over
    ``batches``, each called directly in this process, no Spark."""
    from deed_ocr_spark.extract import (
        extract_doc_summaries_batches_arrow,
        extract_spans_batches_arrow,
    )

    secs = []
    for kernel in (extract_spans_batches_arrow, extract_doc_summaries_batches_arrow):
        t0 = time.perf_counter()
        for _ in kernel(iter(batches)):
            pass
        secs.append(time.perf_counter() - t0)
    return tuple(secs)


def winnow_docs_per_s(texts: list) -> float:
    """L0: the winnowing kernel over ``texts`` in Arrow-batch-sized chunks,
    with the winnow_fps family's k=16, w=8, in this process, no Spark."""
    from deed_ocr_spark.kernels.fingerprint import winnow_arrays_many

    t0 = time.perf_counter()
    for lo in range(0, len(texts), 1024):
        winnow_arrays_many(texts[lo:lo + 1024], k=16, w=8)
    return len(texts) / (time.perf_counter() - t0)
