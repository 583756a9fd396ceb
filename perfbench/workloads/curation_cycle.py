"""curation_cycle: day-2 dedup maintenance on a growing corpus.

Each iteration works on its own seed-generated ``documents``-shaped corpus
(planted ~1% near-duplicate twins, see ``perfbench.datagen``) and its own
private signature cache, and times two halves:

* full: ``ensure_signature_table`` (shingles, winnow_fps) → fp-bucketed
  mirror → ``ensure_dup_pairs_table`` → ``connected_components``;
* incremental: +10% lands as new part files (untimed) →
  ``ensure_signature_table`` on both families (append path) →
  ``winnow_dup_pairs_delta`` → the pairs table through the delta →
  ``update_components``.

Durable-table writes and Spark shuffles and joins dominate; no extraction
kernels run. The incremental half uses the same signature layer as an
append rather than a build, so a change that helps one and costs the other
shows in ``signatures.incr_over_full``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from perfbench import datagen
from perfbench.digest import frame_digest, rows_digest
from perfbench.stats import median
from perfbench.workloads.common import (
    Run,
    closed_loop,
    engine_totals,
    medians,
    op_spans,
    repeated_setup,
    setup_seconds,
    sql_sum,
    start_session,
    winnow_docs_per_s,
)

N_DOCS = 3000
TINY_DOCS = 600
APPEND_FRAC = 0.10
BASE_PARTS = 8

FULL_OPS = {
    "shingles_build": "signatures.shingles_build_s",
    "winnow_build": "signatures.winnow_build_s",
    "mirror_build": "signatures.mirror_build_s",
    "pairs_table": "signatures.pairs_table_s",
    "cluster": "components.cluster_s",
}
INCR_OPS = {
    "append": "signatures.append_s",
    "pairs_delta": "signatures.pairs_delta_s",
    "pairs_table_delta": "signatures.pairs_table_delta_s",
    "update": "components.update_s",
}


def _expected_labels(hi: int) -> list:
    """(doc_id, component) for every planted twin pair below ``hi``: the
    twin and its predecessor form one cluster labelled by the smaller id."""
    twins = np.arange(datagen.TWIN_REM, hi, datagen.TWIN_MOD)
    return [(int(t - 1), int(t - 1)) for t in twins] + [(int(t), int(t - 1)) for t in twins]


def run(run: Run) -> dict:
    from deed_ocr_spark.queries.components import connected_components, update_components
    from deed_ocr_spark.signatures import (
        SHINGLES,
        WINNOW_FPS,
        ensure_bucketed_signature_table,
        ensure_dup_pairs_table,
        ensure_signature_table,
        processed_parts,
        read_signature_table,
        winnow_dup_pairs_delta,
    )

    spark, start_s, boot_s = start_session(run)
    n = TINY_DOCS if run.tiny else N_DOCS
    n_app = int(n * APPEND_FRAC)

    def corpus(i: int) -> str:
        return run.path(f"cycle{i}", "corpus")

    def land_base(i: int) -> None:
        datagen.write_documents(corpus(i), 0, n, BASE_PARTS, run.seed)

    # set-up lands the base corpora of the first iterations
    prep = repeated_setup(run, land_base)

    def labels(df) -> list:
        return [tuple(r) for r in df.select("doc_id", "component").collect()]

    def body(i: int) -> dict:
        base = corpus(i)
        if not os.path.isdir(base):
            land_base(i)
        os.environ["SPARK_GRAFT_SIG_CACHE"] = run.path(f"cycle{i}", "sigcache")
        walls = {}

        def op(layer, name, fn):
            result, walls[name] = run.op(layer, name, fn, sql=layer == "signatures")
            return result

        op("signatures", "shingles_build", lambda: ensure_signature_table(spark, base, SHINGLES))
        snap = op("signatures", "winnow_build", lambda: (
            ensure_signature_table(spark, base, WINNOW_FPS),
            processed_parts(spark, base, WINNOW_FPS),
        ))[1]
        op("signatures", "mirror_build",
           lambda: ensure_bucketed_signature_table(spark, base, WINNOW_FPS, key="fp"))
        pairs_v = op("signatures", "pairs_table", lambda: ensure_dup_pairs_table(spark, base))
        comp = op("components", "cluster", lambda: connected_components(
            read_signature_table(spark, pairs_v)).localCheckpoint(eager=True))
        run.check("pairs_full", read_signature_table(spark, pairs_v).count()
                  == datagen.planted_twins(0, n))
        want = rows_digest(_expected_labels(n), ("doc_id", "component"))
        run.check("clusters_full", rows_digest(labels(comp), ("doc_id", "component")) == want)

        datagen.write_documents(base, n, n + n_app, 1, run.seed, first_part=BASE_PARTS)

        op("signatures", "append", lambda: (
            ensure_signature_table(spark, base, SHINGLES),
            ensure_signature_table(spark, base, WINNOW_FPS),
        ))

        def delta():
            added, retracted = winnow_dup_pairs_delta(spark, base, snap)
            return added, retracted, added.count(), retracted.count()

        added, retracted, n_added, n_retracted = op("signatures", "pairs_delta", delta)
        run.check("pairs_delta", (n_added, n_retracted) == (datagen.planted_twins(n, n + n_app), 0),
                  f"added {n_added} retracted {n_retracted}")
        pairs_v2 = op("signatures", "pairs_table_delta", lambda: ensure_dup_pairs_table(spark, base))
        updated = op("components", "update", lambda: update_components(
            comp, read_signature_table(spark, pairs_v2), added, retracted
        ).localCheckpoint(eager=True))
        run.check("pairs_incremental", read_signature_table(spark, pairs_v2).count()
                  == datagen.planted_twins(0, n + n_app))
        want = rows_digest(_expected_labels(n + n_app), ("doc_id", "component"))
        run.check("clusters_incremental",
                  rows_digest(labels(updated), ("doc_id", "component")) == want)

        if i > 0:  # keep only the latest cycle's tables
            shutil.rmtree(run.path(f"cycle{i - 1}"), ignore_errors=True)
        full = sum(walls[k] for k in FULL_OPS)
        incr = sum(walls[k] for k in INCR_OPS)
        return {"i": i, "walls": walls, "full_s": full, "incr_s": incr,
                "iter_s": full + incr, "base": base}

    iters = closed_loop(run, body)
    _fresh_build_check(run, spark, iters[-1]["base"], n + n_app)

    out = {
        "e2e": {
            "setup_s": setup_seconds(start_s, boot_s, prep),
            "iter_s": median([r["iter_s"] for r in iters]),
        },
        "samples": {
            "iter_s": [r["iter_s"] for r in iters],
            "curation_full_s": [r["full_s"] for r in iters],
            "curation_incr_s": [r["incr_s"] for r in iters],
        },
        "units": {"curation_full_s": "s", "curation_incr_s": "s"},
        "size": f"{n} docs + {n_app} appended",
    }
    if run.tracer.enabled:
        out["layers"] = _layers(run, iters, n, start_s, boot_s, prep)
    return out


def _fresh_build_check(run: Run, spark, base: str, n_total: int) -> None:
    """The incrementally maintained winnow table equals one built from
    scratch over the same documents landed at another path."""
    from deed_ocr_spark.signatures import WINNOW_FPS, ensure_signature_table, read_signature_table

    fresh = run.path("fresh")
    datagen.write_documents(fresh, 0, n_total, BASE_PARTS, run.seed)
    incr = frame_digest(read_signature_table(spark, ensure_signature_table(spark, base, WINNOW_FPS)))
    ref = frame_digest(read_signature_table(spark, ensure_signature_table(spark, fresh, WINNOW_FPS)))
    run.check("incremental_equals_fresh", incr == ref, f"{incr} vs {ref}")


def _texts(corpus: str, n_docs: int) -> list:
    import pyarrow.parquet as pq

    path = os.path.join(corpus, "documents.parquet")
    return pq.read_table(path, columns=["text"]).column("text").to_pylist()[:n_docs]


def _layers(run: Run, iters: list, n: int, start_s, boot_s, prep) -> dict:
    per_iter = []
    for r in iters:
        spans = op_spans(run.tracer, r["i"])
        sig = [s for s in spans if s.layer == "signatures"]
        row = {name: r["walls"][op] for op, name in {**FULL_OPS, **INCR_OPS}.items()}
        row.update({
            "signatures.bytes_written": sql_sum(sig, "", "written output"),
            "signatures.files_written": sql_sum(sig, "", "number of written files"),
            "signatures.incr_over_full": r["incr_s"] / r["full_s"],
            "steps.curation_full_s": r["full_s"],
            "steps.curation_incr_s": r["incr_s"],
            **engine_totals(run.tracer, r["i"]),
        })
        per_iter.append(row)
    layers = medians(per_iter)
    layers.update({
        "session.start_s": start_s,
        "session.worker_boot_s": boot_s,
        "corpus.gen_s": median(prep),
        "kernels.winnow_docs_per_s": winnow_docs_per_s(_texts(iters[-1]["base"], n)),
    })
    return layers
