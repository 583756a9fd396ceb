"""query_mix: the read side, one warm shared session.

Set-up writes a seed-generated table tier (``perfbench.datagen.write_tier``)
and builds the signature families and bucketed mirrors the dedup leaves
read. The warm-up pass collects every leaf, checks the 11 oracle-backed
ones against DuckDB running the registered ``oracle_sql()`` text, and
records each leaf's row count. Each measured pass then runs the 15
``bench.py`` leaves in an order permuted by the seed, timing
``fn(spark, sf)`` (plan building) and ``.count()`` (execution) apart, and
checks each row count against the warm-up pass.

Per-query fixed overhead (plan building, file listing, job scheduling,
Python worker reuse) and Spark operators dominate; kernels run only in x1
and x4.
"""

from __future__ import annotations

import os
import random

from perfbench import datagen
from perfbench.digest import rows_digest
from perfbench.layers import LEAVES
from perfbench.stats import median
from perfbench.workloads.common import (
    PY_METRICS,
    Run,
    closed_loop,
    engine_totals,
    kernel_seconds,
    medians,
    op_spans,
    repeated_setup,
    setup_seconds,
    sql_sum,
    start_session,
    winnow_docs_per_s,
)

TIER_SF = 0.01
TINY_SF = 0.001
KERNEL_LEAVES = ("x1_extract_spans", "x4_doc_details")


def _queries() -> dict:
    from deed_ocr_spark.queries import QUERIES
    from deed_ocr_spark.queries.textpipe import d6b_simhash_fast

    return {**QUERIES, "d6b_simhash_fast": d6b_simhash_fast}


def _build_signatures(spark, tier: str) -> None:
    """The tables bench.py materializes before timing its leaves."""
    from deed_ocr_spark.signatures import (
        BANDS,
        SHINGLES,
        WINNOW_FPS,
        ensure_bucketed_signature_table,
        ensure_signature_table,
    )

    for fam in (SHINGLES, WINNOW_FPS):
        ensure_signature_table(spark, tier, fam)
    for fam, key in ((WINNOW_FPS, "fp"), (BANDS, "band"), (SHINGLES, "doc_id")):
        ensure_bucketed_signature_table(spark, tier, fam, key=key)


def run(run: Run) -> dict:
    spark, start_s, boot_s = start_session(run)
    sf = TINY_SF if run.tiny else TIER_SF
    queries = _queries()

    def tier(k: int) -> str:
        # the directory name is the scale factor, as for the testdata tiers:
        # x1/x4 size their generated corpus from it
        return run.path(f"tier{k}", f"sf{sf:g}")

    gen = repeated_setup(run, lambda k: datagen.write_tier(tier(k), sf, run.seed))
    sf_dir = tier(0)
    # built once per run, over the tier the passes read
    with run.tracer.span("signatures", "mirror_setup") as sp:
        _build_signatures(spark, sf_dir)
    mirror_s = sp.wall
    rows = {}

    def body(i: int) -> dict:
        if i == 0:  # the warm-up pass is the correctness pass
            return _check_pass(run, spark, queries, sf_dir, rows)
        order = list(LEAVES)
        random.Random(run.seed * 7919 + i).shuffle(order)
        plan, exe = {}, {}
        for leaf in order:
            df, plan[leaf] = run.op("queries", f"{leaf}.plan", lambda: queries[leaf](spark, sf_dir))
            n, exe[leaf] = run.op("queries", f"{leaf}.exec", df.count, sql=leaf in KERNEL_LEAVES)
            run.check(f"{leaf}.rows_stable", n == rows.get(leaf), f"{n} vs {rows.get(leaf)}")
        return {"i": i, "plan": plan, "exec": exe,
                "iter_s": sum(plan.values()) + sum(exe.values())}

    iters = closed_loop(run, body, warmup=1)
    out = {
        "e2e": {
            "setup_s": setup_seconds(start_s, boot_s, gen) + mirror_s,
            "iter_s": median([r["iter_s"] for r in iters]),
        },
        "samples": {"iter_s": [r["iter_s"] for r in iters],
                    "query_pass_s": [r["iter_s"] for r in iters]},
        "units": {"query_pass_s": "s"},
        "size": f"generated tier sf{sf:g}, {len(LEAVES)} leaves",
    }
    if run.tracer.enabled:
        layers = _layers(run, iters, sf_dir)
        layers.update({
            "session.start_s": start_s,
            "session.worker_boot_s": boot_s,
            "corpus.gen_s": median(gen),
            "signatures.mirror_setup_s": mirror_s,
        })
        out["layers"] = layers
    return out


def _check_pass(run: Run, spark, queries: dict, sf_dir: str, rows: dict) -> dict:
    """Collect every leaf once, recording its row count in ``rows``;
    oracle-backed leaves must equal DuckDB (same columns, row count and
    order-insensitive value hash). Returns the pass as an iteration."""
    import duckdb

    from deed_ocr_spark.queries import ORACLES

    con = duckdb.connect(config={"temp_directory": run.path("duckdb_tmp")})
    try:
        for name in datagen.TIER_TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
            )
        plan, exe = {}, {}
        for leaf in LEAVES:
            df, plan[leaf] = run.op("queries", f"{leaf}.plan", lambda: queries[leaf](spark, sf_dir))
            got, exe[leaf] = run.op("queries", f"{leaf}.collect", df.collect)
            rows[leaf] = len(got)
            if leaf not in ORACLES:
                continue
            res = con.execute(ORACLES[leaf])
            cols = [d[0] for d in res.description]
            want = res.fetchall()
            run.check(
                f"{leaf}.oracle",
                sorted(cols) == sorted(df.columns)
                and len(got) == len(want)
                and rows_digest(got, df.columns) == rows_digest(want, cols),
                f"{len(got)} spark rows vs {len(want)} duckdb rows",
            )
    finally:
        con.close()
    return {"i": 0, "plan": plan, "exec": exe,
            "iter_s": sum(plan.values()) + sum(exe.values())}


def _kernel_rates(sf_dir: str) -> tuple:
    """L0 on the inputs x1/x4 and d13 see: the spans and summaries kernels
    over the corpus x1/x4 generate for this tier, and the winnowing kernel
    over the tier's documents. Returns (spans, summaries, winnow) docs/s
    and the kernel-alone seconds of one x1 + x4 execution."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from deed_ocr_spark.corpus import gen_docs_pandas
    # the leaves' own corpus sizing, so L0 sees exactly their documents
    from deed_ocr_spark.queries.extraction import CORPUS_SEED, _corpus_size

    n = _corpus_size(sf_dir)
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span_t))])
    table = pa.Table.from_pandas(gen_docs_pandas(range(n), CORPUS_SEED),
                                 schema=schema, preserve_index=False)
    spans_s, summ_s = kernel_seconds(table.to_batches(1024))
    texts = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                          columns=["text"]).column("text").to_pylist()
    return n / spans_s, n / summ_s, winnow_docs_per_s(texts), spans_s + summ_s


def _layers(run: Run, iters: list, sf_dir: str) -> dict:
    per_iter = []
    for r in iters:
        spans = op_spans(run.tracer, r["i"])
        kernel_spans = [s for s in spans if s.name in {f"{k}.exec" for k in KERNEL_LEAVES}]
        row = {f"queries.{leaf}.plan_s": v for leaf, v in r["plan"].items()}
        row.update({f"queries.{leaf}.exec_s": v for leaf, v in r["exec"].items()})
        row.update({name: sql_sum(kernel_spans, "MapIn", m) for m, name in PY_METRICS.items()})
        row["steps.query_pass_s"] = r["iter_s"]
        row.update(engine_totals(run.tracer, r["i"]))
        per_iter.append(row)
    layers = medians(per_iter)
    spans_rate, summ_rate, winnow_rate, kernel_s = _kernel_rates(sf_dir)
    py_total = layers["extract.python_total_s"]
    layers.update({
        "kernels.spans_docs_per_s": spans_rate,
        "kernels.summaries_docs_per_s": summ_rate,
        "kernels.winnow_docs_per_s": winnow_rate,
        "extract.kernel_share": kernel_s / py_total if py_total else 0.0,
    })
    return layers
