"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout: the library (``deed_ocr_spark/``) must
sit beside ``perfbench/``; without it the command exits with code 2.

Standard output ends with a human-readable summary (every end-to-end metric
by name and unit, plus the workload's own finer metrics and the failed
share of operations) followed, as the last line, by one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are BENCHMARK.json's end-to-end metrics; with
``--trace 1`` they are its per-layer metrics, read from spans and Spark's
status stores.

Everything the run writes (corpora, tables, signature cache, Spark local
and temp dirs) lives under ``.perfbench_work/`` in the checkout and is
removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("extract_job", "curation_cycle", "query_mix")
DRIVER_MEMORY = "2g"


def _isolate(work: str, cpus: int) -> None:
    """Point every location Spark, its Python workers and the library write
    to at ``work``, and let workers import the library from any cwd."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    env["SPARK_GRAFT_SIG_CACHE"] = os.path.join(work, "sigcache")
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    # no JVM (Spark's launcher or Spark itself) keeps perf data in the system temp dir
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in (
            "--conf", f"spark.local.dir={local}",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            # the heap is committed and touched up front, so the JVM's RSS
            # is the configured heap whatever the GC timing, and peak RSS
            # moves with memory outside it (Python workers, this process, non-heap)
            "--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "pyspark-shell",
        )
    )


def _shutdown(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for
    every process below this one (JVM, Python workers) to end."""
    from perfbench.rss import tree_pids

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 60
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _summary(name: str, args, cpus: int, out: dict, metrics: dict, run) -> list:
    from perfbench.stats import describe

    lines = [f"perfbench {name}  seed={args.seed}  cpus={cpus}  "
             f"trace={args.trace}  {out['size']}"]
    if args.trace == 0:
        for key, m in metrics.items():
            if key in out["samples"]:
                lines.append(f"  {key:<24}{describe(out['samples'][key], m['unit'])}")
            else:
                lines.append(f"  {key:<24}{m['value']:.6g} {m['unit']}")
        for key, unit in out["units"].items():
            lines.append(f"  {key:<24}{describe(out['samples'][key], unit)}")
    frac = run.failed / run.attempted if run.attempted else 0.0
    lines.append(f"  {'ops_failed_frac':<24}{frac:.6g} ({run.failed} of {run.attempted} operations)")
    return lines


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs, for the benchmark's own smoke tests")
    p.add_argument("--spans", help="also write the recorded spans as JSON here")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "deed_ocr_spark", "__init__.py")):
        print(f"perfbench: no deed_ocr_spark package in {ROOT}; run from the "
              "root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers
    from perfbench.rss import PeakRss
    from perfbench.stats import median
    from perfbench.trace import Tracer
    from perfbench.workloads.common import Run

    module = importlib.import_module(f"perfbench.workloads.{args.workload}")
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    _isolate(work, cpus)
    sampler = PeakRss(os.getpid()).start()
    run = Run(args.workload, args.seed, args.seconds, args.tiny, work, cpus,
              Tracer(enabled=bool(args.trace)))
    try:
        out = module.run(run)
    finally:
        sampler.stop()
        if run.spark is not None:
            _shutdown(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)

    if args.trace:
        values = dict(out["layers"])
        values["overhead.setup_s"] = run.setup_tracer_s
        values["overhead.iter_s"] = median(run.iter_tracer_s)
        values["traced.peak_rss_mb"] = sampler.peak_mb
        metrics = layers.complete(values)
    else:
        metrics = {
            "setup_s": {"value": out["e2e"]["setup_s"], "unit": "s"},
            "iter_s": {"value": out["e2e"]["iter_s"], "unit": "s"},
            "peak_rss_mb": {"value": sampler.peak_mb, "unit": "MiB"},
        }
    if args.spans:
        with open(args.spans, "w") as f:
            json.dump(run.tracer.to_json(), f)
    for line in _summary(args.workload, args, cpus, out, metrics, run):
        print(line)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
