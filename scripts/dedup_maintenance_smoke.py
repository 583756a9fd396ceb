"""Dedup-signature maintenance cycle at smoke scale (10^6 docs).

Demonstrates — with wall-clock numbers, not just unit tests — the day-2
story the signature tables exist for: a corpus that grows by a landed
partition costs ONE pass over that partition, while every dedup
maintenance query keeps reading narrow signature tables (and their
bucketed mirrors) instead of the document text.

Cycle measured:

 1. full build     — shingles + winnow_fps families over the base corpus
 2. bucketed mirror— fp-bucketed winnow mirror + dup-pairs query; then the
                     DURABLE pairs table (ensure_dup_pairs_table) persists
                     the pair graph
 3. append         — +10% of the corpus lands as NEW parquet part files
 4. incremental    — ensure_signature_table processes ONLY the new parts;
                     then winnow_dup_pairs_delta computes the PAIR delta
                     from add-dir row provenance (|new| × corpus join)
                     with an exact expected answer; then the durable pairs
                     table is maintained THROUGH that delta (old ∪ added −
                     retracted over the small stored table)
 5. fresh rebuild  — same 110% corpus built from scratch at another path
 6. equality       — incremental table == fresh table (count + aggregate
                     hash over every column), dup pairs identical whether
                     read from the version dir or its bucketed mirror,
                     AND equal to the durable pairs table
 7. clusters       — connected components over the DURABLE pairs table
                     (graph cost only — no pair re-derivation); planted
                     twins are disjoint, so expected clusters are exact

Corpus: deterministic synthetic (doc_id, text, lang, source, n_chars)
rows in the shape of the driver's ``documents`` table — text is a pure
integer-hash function of (seed, content_id, position) rendered as
base-26 words, so any two runs produce byte-identical corpora with no
RNG state. Docs with ``doc_id % 100 == 7`` reuse the previous doc's content
with a one-word mutation: planted near-duplicates the winnowing pipeline
must find (~1% of all docs ⇒ dup-pair count scales with corpus size).

Run (takes a few minutes at the default 10^6):

    python scripts/dedup_maintenance_smoke.py --docs 1000000

Prints one JSON line with phase timings and the equality verdicts.
"""

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager
from typing import Iterator

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DOC_WORDS = 48
WORD_LEN = 8  # 8 base-26 letters per word → ~430 chars/doc


def _texts_for(ids: np.ndarray, seed: int) -> list:
    """Deterministic text per doc id — vectorized integer hashing, no RNG.

    Each word is WORD_LEN base-26 letters carved out of a splitmix64-style
    avalanche of (seed, content_id, position), so every 8-char word is
    effectively uniform over 26^8 (~2*10^11) — and the 16-char k-grams the
    winnowing pipeline actually hashes (k=16 spans parts of two adjacent
    words plus the separator) are drawn from a strictly larger space: at
    10^6-doc scale the expected count of COINCIDENTALLY shared k-grams
    across the corpus is <<1, and (with the 64-bit fingerprint hash) the
    dup pairs the pipeline reports are exactly the planted twins. (Earlier drafts used a
    small word vocabulary; its repeated word-adjacency k-grams made chance
    pairs grow quadratically with corpus size — measured, hence this
    shape. Realistic high-df boilerplate and the df-cap behavior it
    exercises are covered by the textpipe unit tests; this smoke isolates
    MAINTENANCE cost and correctness.)

    content_id collapses each ``% 100 == 7`` doc onto its predecessor, so
    the pair shares all words; the twin then gets its last word replaced —
    a near-dup with one long verbatim overlap, which winnowing must recall
    per its k+w-1 contract."""
    is_twin = (ids % 100) == 7
    content = ids - is_twin.astype(np.int64)
    pos = np.arange(DOC_WORDS, dtype=np.uint64)
    # splitmix64-ish avalanche over (seed, content_id, position)
    x = (
        content.astype(np.uint64)[:, None] * np.uint64(0x9E3779B97F4A7C15)
        + pos[None, :] * np.uint64(0xBF58476D1CE4E5B9)
        + np.uint64(seed)
    )
    x ^= x >> np.uint64(30)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    # twins differ from their base in the LAST word only
    x[is_twin, -1] ^= np.uint64(0xDEADBEEFCAFEF00D)
    # (n_docs, DOC_WORDS, WORD_LEN+1) ascii buffer: letters + separators
    n = len(ids)
    buf = np.empty((n, DOC_WORDS, WORD_LEN + 1), dtype=np.uint8)
    buf[:, :, WORD_LEN] = 0x20  # space after every word
    v = x.copy()
    for j in range(WORD_LEN):
        buf[:, :, j] = (v % np.uint64(26)).astype(np.uint8) + 0x61
        v //= np.uint64(26)
    flat = buf.reshape(n, -1)[:, :-1]  # drop the trailing space
    return [row.tobytes().decode("ascii") for row in flat]


def write_corpus(spark, path: str, lo: int, hi: int, parts: int, seed: int,
                 mode: str) -> None:
    """Land docs [lo, hi) as ``parts`` parquet files under
    <path>/documents.parquet. mode='append' adds NEW part files — the
    landed-partition shape incremental maintenance keys on."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy()
            texts = _texts_for(ids, seed)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "text": texts,
                    "lang": np.where(ids % 17 == 0, "es", "en"),
                    "source": np.where(ids % 3 == 0, "county", "scan"),
                    "n_chars": [len(t) for t in texts],
                }
            )

    df = (
        spark.range(lo, hi)
        .repartition(parts)
        .mapInPandas(
            gen,
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )
    )
    df.write.mode(mode).parquet(os.path.join(path, "documents.parquet"))


def _digest(df):
    """(row_count, order-independent aggregate hash over every column).
    Empty frames digest to (0, 0) — bit_xor over zero rows is NULL."""
    from pyspark.sql import functions as F

    df = df.withColumn(
        "__rh", F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    )
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(__rh)").alias("h"),
    ).collect()[0]
    return int(agg["n"]), int(agg["h"]) if agg["h"] is not None else 0


def _table_digest(spark, version_dir: str):
    from deed_ocr_spark.signatures import read_signature_table

    return _digest(read_signature_table(spark, version_dir))


def _pairs_digest(spark, pairs_df):
    return _digest(pairs_df)


# winnow_dup_pairs_delta picks its corpus-side reduction from the new
# add-dirs' bytes against the session's autoBroadcastJoinThreshold: 1g
# keeps any append this smoke lands (tens of MB at the default 10^6 docs)
# on the broadcast route; -1 (broadcasting disabled) forces the
# fp-bucketed mirror route
ROUTE_THRESHOLDS = {"broadcast": "1g", "mirror": "-1"}


@contextmanager
def _delta_route(spark, route: str):
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, ROUTE_THRESHOLDS[route])
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--docs", type=int, default=1_000_000)
    p.add_argument("--append-frac", type=float, default=0.10)
    p.add_argument("--parts", type=int, default=64)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--work", default="/tmp/dedup_maint_smoke")
    p.add_argument("--cpus", type=int, default=0)
    p.add_argument(
        "--routes",
        action="store_true",
        help="also time the delta's broadcast vs fp-bucketed-mirror "
        "reduction routes separately (round-6 measured point)",
    )
    p.add_argument("--keep", action="store_true",
                   help="keep the work dir (default: removed at exit)")
    args = p.parse_args(argv)

    cpus = args.cpus or len(os.sched_getaffinity(0))
    shutil.rmtree(args.work, ignore_errors=True)
    os.makedirs(args.work)
    # signature families for the smoke corpora live (and die) with the
    # work dir — never in the user's real ~/.cache
    os.environ["SPARK_GRAFT_SIG_CACHE"] = os.path.join(args.work, "sigcache")

    from pyspark.sql import SparkSession

    from deed_ocr_spark.signatures import (
        SHINGLES,
        WINNOW_FPS,
        ensure_bucketed_signature_table,
        ensure_signature_table,
        processed_parts,
        read_signature_table,
        winnow_dup_pairs_delta,
    )
    from deed_ocr_spark.queries.textpipe import winnow_dup_pairs_from

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dedup-maintenance-smoke")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    n, n_app = args.docs, int(args.docs * args.append_frac)
    base_dir = os.path.join(args.work, "corpus")
    ref_dir = os.path.join(args.work, "corpus-ref")
    out = {"docs": n, "append_docs": n_app, "cpus": cpus}

    t0 = time.monotonic()
    write_corpus(spark, base_dir, 0, n, args.parts, args.seed, "overwrite")
    out["gen_base_sec"] = round(time.monotonic() - t0, 2)

    # 1. full build over the base corpus
    t0 = time.monotonic()
    ensure_signature_table(spark, base_dir, SHINGLES)
    out["full_shingles_sec"] = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    ver_base = ensure_signature_table(spark, base_dir, WINNOW_FPS)
    out["full_winnow_sec"] = round(time.monotonic() - t0, 2)
    snap = processed_parts(spark, base_dir, WINNOW_FPS)

    # 2. bucketed mirror + dup pairs (the maintenance query itself)
    t0 = time.monotonic()
    # shared size-derived default (auto_signature_buckets): passing an
    # explicit cpus-derived count here made this mirror's generation
    # differ from the one the delta's mirror route resolves, so the two
    # callers alternately DROPPED and rebuilt each other's full-corpus
    # mirror (round-6 ADVICE #4)
    name = ensure_bucketed_signature_table(
        spark, base_dir, WINNOW_FPS, key="fp"
    )
    out["bucketed_mirror_sec"] = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    n_pairs_b, h_pairs_b = _pairs_digest(
        spark, winnow_dup_pairs_from(spark.table(name).select("doc_id", "fp"))
    )
    out["pairs_bucketed_sec"] = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    n_pairs_p, h_pairs_p = _pairs_digest(
        spark,
        winnow_dup_pairs_from(
            read_signature_table(spark, ver_base).select("doc_id", "fp")
        ),
    )
    out["pairs_plain_sec"] = round(time.monotonic() - t0, 2)
    out["pairs_base"] = n_pairs_p
    # with 64-bit fingerprints and the 26^8 k-gram space, the reported
    # pairs must be EXACTLY the planted twins — nothing else shares a
    # >=k+w-1 substring, and chance fp collisions are <<1 at this scale
    out["pairs_base_expected"] = len(range(7, n, 100))
    out["pairs_routes_identical"] = (n_pairs_b, h_pairs_b) == (
        n_pairs_p,
        h_pairs_p,
    )

    # 2b. durable pairs table: persist the pair GRAPH so downstream
    # consumers (components, keep-lists) never re-derive it (round-6)
    from deed_ocr_spark.signatures import ensure_dup_pairs_table

    t0 = time.monotonic()
    pairs_ver_base = ensure_dup_pairs_table(spark, base_dir)
    out["pairs_table_build_sec"] = round(time.monotonic() - t0, 2)

    # 2c. baseline cluster labels (input to the incremental phase 7b)
    from deed_ocr_spark.queries.components import (
        connected_components,
        update_components,
    )

    t0 = time.monotonic()
    comp_base = connected_components(
        read_signature_table(spark, pairs_ver_base)
    ).localCheckpoint(eager=True)
    out["components_base_sec"] = round(time.monotonic() - t0, 2)

    # 3. a day's partition lands: +10% as NEW part files
    t0 = time.monotonic()
    write_corpus(
        spark, base_dir, n, n + n_app,
        max(1, int(args.parts * args.append_frac)), args.seed, "append",
    )
    out["gen_append_sec"] = round(time.monotonic() - t0, 2)

    # 4. incremental maintenance: one pass over the new parts only
    t0 = time.monotonic()
    ensure_signature_table(spark, base_dir, SHINGLES)
    out["incr_shingles_sec"] = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    ver_incr = ensure_signature_table(spark, base_dir, WINNOW_FPS)
    out["incr_winnow_sec"] = round(time.monotonic() - t0, 2)
    out["incr_over_full"] = round(
        (out["incr_shingles_sec"] + out["incr_winnow_sec"])
        / max(out["full_shingles_sec"] + out["full_winnow_sec"], 1e-9),
        3,
    )

    # 4b. incremental PAIR maintenance: delta pairs via add-dir row
    # provenance — |new| × corpus instead of corpus × corpus. Planted
    # twins are confined to the appended range, so the expectation is
    # exact: added == the new range's twins, nothing retracted (no
    # df-cap crossing in this collision-free corpus).
    # route pinned to broadcast so pairs_delta_sec keeps the meaning it
    # had in earlier rounds (at the session's default threshold this
    # append size would take the mirror path and pay a one-time
    # post-append mirror rebuild inside the timed window); the mirror
    # route is timed separately under --routes with that rebuild excluded
    t0 = time.monotonic()
    with _delta_route(spark, "broadcast"):
        added_df, retracted_df = winnow_dup_pairs_delta(spark, base_dir, snap)
        n_added, n_retracted = added_df.count(), retracted_df.count()
    out["pairs_delta_sec"] = round(time.monotonic() - t0, 2)
    out["pairs_added"] = n_added
    out["pairs_retracted"] = n_retracted
    out["pairs_delta_ok"] = (
        n_added == len(range(7, n + n_app, 100)) - len(range(7, n, 100))
        and n_retracted == 0
    )

    # 4b-routes. measured point between the broadcast and full-recompute
    # regimes: the same delta window through each reduction route (the
    # fp-bucketed mirror is the mid-size-append path — corpus side never
    # exchanged; the mirror itself was built in phase 2, so this times
    # the query, not the mirror build)
    if args.routes:
        # refresh the post-append mirror OUTSIDE the timed window (the
        # state-keyed token changed when the add dir landed; the rebuild
        # is a one-time table cost, not part of the delta query)
        t0 = time.monotonic()
        ensure_bucketed_signature_table(spark, base_dir, WINNOW_FPS, key="fp")
        out["mirror_refresh_sec"] = round(time.monotonic() - t0, 2)
        import deed_ocr_spark.signatures as sig

        for route in ("broadcast", "mirror"):
            # forget the in-process delta of this window (phase 4's frames
            # stay readable): a read-back would time no route at all
            sig._pair_delta_memo = None
            t0 = time.monotonic()
            with _delta_route(spark, route):
                a_r, r_r = winnow_dup_pairs_delta(spark, base_dir, snap)
                n_a, n_r = a_r.count(), r_r.count()
            out[f"pairs_delta_{route}_sec"] = round(time.monotonic() - t0, 2)
            out[f"pairs_delta_{route}_ok"] = (n_a, n_r) == (
                n_added,
                n_retracted,
            )

    # 4c. durable pairs table maintained THROUGH the delta: a fresh
    # version written as old ∪ added − retracted over the small stored
    # table — no corpus-scale pair recompute; the delta of this window is
    # read back from phase 4's in-process result, not recomputed
    t0 = time.monotonic()
    pairs_ver_incr = ensure_dup_pairs_table(spark, base_dir)
    out["pairs_table_delta_sec"] = round(time.monotonic() - t0, 2)
    out["pairs_table_new_version"] = pairs_ver_incr != pairs_ver_base

    # 5. fresh 110% rebuild at a different corpus path
    write_corpus(spark, ref_dir, 0, n + n_app, args.parts + max(
        1, int(args.parts * args.append_frac)), args.seed, "overwrite")
    t0 = time.monotonic()
    ver_ref = ensure_signature_table(spark, ref_dir, WINNOW_FPS)
    out["fresh_winnow_sec"] = round(time.monotonic() - t0, 2)

    # 6. equality: incremental == fresh, table rows and dup pairs
    out["winnow_digest_incr"] = _table_digest(spark, ver_incr)
    out["winnow_digest_fresh"] = _table_digest(spark, ver_ref)
    out["table_identical"] = (
        out["winnow_digest_incr"] == out["winnow_digest_fresh"]
    )
    d_incr = _pairs_digest(
        spark,
        winnow_dup_pairs_from(
            read_signature_table(spark, ver_incr).select("doc_id", "fp")
        ),
    )
    d_ref = _pairs_digest(
        spark,
        winnow_dup_pairs_from(
            read_signature_table(spark, ver_ref).select("doc_id", "fp")
        ),
    )
    out["pairs_after_append"] = d_incr[0]
    out["pairs_after_expected"] = len(range(7, n + n_app, 100))
    out["pairs_identical"] = d_incr == d_ref
    # the delta-maintained durable table must equal the recomputed pairs
    # (compare on (doc_a, doc_b): the durable table stores pair EXISTENCE
    # only — the delta cannot maintain shared_fps counts)
    d_incr_pairs = _pairs_digest(
        spark,
        winnow_dup_pairs_from(
            read_signature_table(spark, ver_incr).select("doc_id", "fp")
        ).select("doc_a", "doc_b"),
    )
    out["pairs_table_identical"] = (
        _pairs_digest(
            spark,
            read_signature_table(spark, pairs_ver_incr).select(
                "doc_a", "doc_b"
            ),
        )
        == d_incr_pairs
    )

    # 7. duplicate clusters: transitive closure over the DURABLE pair
    # table (components pays only for the graph, not its re-derivation —
    # before round 6 this phase re-ran the whole dup-pairs query inside
    # the first eager checkpoint, ~73 s of the 10⁶-doc smoke). Planted
    # twins are disjoint {i-1, i} pairs, so the expected answer is exact:
    # one 2-doc cluster per pair, component min == the base doc id.
    from pyspark.sql import functions as F

    t0 = time.monotonic()
    comp = connected_components(
        read_signature_table(spark, pairs_ver_incr)
    )
    agg = comp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("component").alias("n_clusters"),
        F.sum(
            F.when(F.col("component") == F.col("doc_id") - 1, 1)
            .when(F.col("component") == F.col("doc_id"), 1)
            .otherwise(0)
        ).alias("n_wellformed"),
    ).collect()[0]
    out["components_sec"] = round(time.monotonic() - t0, 2)
    out["clusters"] = int(agg["n_clusters"])
    out["clusters_ok"] = (
        int(agg["n_clusters"]) == out["pairs_after_expected"]
        and int(agg["n_docs"]) == 2 * out["pairs_after_expected"]
        and int(agg["n_wellformed"]) == int(agg["n_docs"])
    )

    # 7b. incremental labels: baseline labels + the pair delta, without
    # re-clustering — must match the full phase-7 resolution exactly
    t0 = time.monotonic()
    comp_incr = update_components(
        comp_base,
        read_signature_table(spark, pairs_ver_incr),
        added_df,
        retracted_df,
    )
    d_comp_incr = _digest(comp_incr)
    out["components_incr_sec"] = round(time.monotonic() - t0, 2)
    out["components_incr_identical"] = d_comp_incr == _digest(comp)

    ok = (
        out["table_identical"]
        and out["pairs_identical"]
        and out["pairs_routes_identical"]
        and out["pairs_base"] == out["pairs_base_expected"]
        and out["pairs_after_append"] == out["pairs_after_expected"]
        and out["pairs_delta_ok"]
        and out.get("pairs_delta_broadcast_ok", True)
        and out.get("pairs_delta_mirror_ok", True)
        and out["pairs_table_new_version"]
        and out["pairs_table_identical"]
        and out["clusters_ok"]
        and out["components_incr_identical"]
    )
    out["ok"] = ok
    print(json.dumps(out))
    spark.stop()
    if not args.keep:
        shutil.rmtree(args.work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
