"""Incremental component-label maintenance vs full re-resolution at scale.

Closes the round-6 claim left unmeasured at scale: ``update_components``
relabels under a bounded pair delta at DELTA-REACH cost, vs re-running
the full star-contraction over the corpus graph.

Topology: the adversarial chain forest of components_scale_smoke
(nodes 0..N-1, chains of length L). The delta is deterministic and
chain-aligned so its reach is exactly accountable:

* ADDED edges merge chain pairs: for merge-chain index c (spaced so no
  two merges touch), edge (c*L, (c+1)*L) joins two chains end-to-head.
* RETRACTED edges split chains in half: for split-chain index c, the
  middle edge (c*L + L//2, c*L + L//2 + 1) is removed.

Reach of the delta = (#splits x L) re-solved nodes + (#merges)
super-edges — proportional to the delta, never the corpus. The smoke
times (1) full connected_components(G') and (2) update_components(old
labels, G', added, retracted), and proves label equality with a
multiset digest (sum of xxhash64(doc_id, component) + counts); the
driver only ever sees scalars.

Run:  python scripts/components_incr_smoke.py --nodes 20000000 \
          --chain 512 --merges 1000 --splits 1000

Prints one JSON line with walls, rounds, digests, verdicts.
"""

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--nodes", type=int, default=20_000_000)
    p.add_argument("--chain", type=int, default=512)
    p.add_argument("--merges", type=int, default=1000)
    p.add_argument("--splits", type=int, default=1000)
    p.add_argument("--cpus", type=int, default=0)
    p.add_argument("--driver-mem", default="24g",
                   help="JVM heap for the local session; the 10^8-edge "
                        "tier holds ~2x10^8 checkpointed edge rows plus "
                        "the distinct-node aggregation concurrently and "
                        "wants 48g on a 128 GiB box")
    p.add_argument("--skip-full", action="store_true",
                   help="reuse a prior run's full-resolution wall; only "
                        "time the incremental path (old labels still "
                        "computed once as setup)")
    args = p.parse_args(argv)
    n, L = args.nodes, args.chain
    n_chains = n // L
    # merge sources sit at even spacing, splits offset so the two effects
    # never touch the same chain; each merge pairs chain c with c+1
    spacing = max(4, n_chains // max(args.merges + args.splits, 1) // 2 * 2)
    if args.merges * spacing + 2 > n_chains or args.splits * spacing + 3 > n_chains:
        p.error("delta larger than the chain population at this spacing")

    cpus = args.cpus or len(os.sched_getaffinity(0))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from deed_ocr_spark.queries.components import (
        connected_components,
        update_components,
    )

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("components-incr-smoke")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.driver.memory", args.driver_mem)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = (
        spark.range(n - 1)
        .filter(F.col("id") % L != L - 1)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )
    # merge-chain indices c: c = spacing*k;     edge (c*L, (c+1)*L)
    added = (
        spark.range(args.merges)
        .select((F.col("id") * spacing).alias("c"))
        .select(
            (F.col("c") * L).alias("doc_a"),
            ((F.col("c") + 1) * L).alias("doc_b"),
        )
    )
    # split-chain indices c: c = spacing*k + spacing//2 + 1 (never a merge
    # source or target); edge (c*L + L//2, c*L + L//2 + 1)
    split_c = F.col("id") * spacing + spacing // 2 + 1
    retracted = (
        spark.range(args.splits)
        .select(
            (split_c * L + L // 2).alias("doc_a"),
            (split_c * L + L // 2 + 1).alias("doc_b"),
        )
    )
    current = base.join(retracted, ["doc_a", "doc_b"], "left_anti").unionByName(
        added
    )

    def digest(labels):
        row = labels.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("component").alias("k"),
            F.sum(F.xxhash64("doc_id", "component").cast("decimal(38,0)"))
            .alias("h"),
        ).collect()[0]
        return {"n": row["n"], "k": row["k"], "h": str(row["h"])}

    out = {
        "nodes": n, "chain": L, "chains": n_chains,
        "merges": args.merges, "splits": args.splits,
        "spacing": spacing, "cpus": cpus,
    }

    spark.sparkContext.setJobDescription("incr-smoke: old labels (setup)")
    t0 = time.monotonic()
    stats_old: dict = {}
    old = connected_components(base, stats=stats_old)
    old_path = "/tmp/components_incr_smoke_old_labels"
    old.write.mode("overwrite").parquet(old_path)
    out["old_labels_setup_sec"] = round(time.monotonic() - t0, 2)
    out["old_rounds"] = stats_old.get("rounds")
    old_read = spark.read.parquet(old_path)

    if not args.skip_full:
        spark.sparkContext.setJobDescription("incr-smoke: FULL re-resolution")
        t0 = time.monotonic()
        stats_full: dict = {}
        full = connected_components(current, stats=stats_full)
        out["full_digest"] = digest(full)
        out["full_sec"] = round(time.monotonic() - t0, 2)
        out["full_rounds"] = stats_full.get("rounds")

    spark.sparkContext.setJobDescription("incr-smoke: INCREMENTAL update")
    t0 = time.monotonic()
    incr = update_components(old_read, current, added, retracted)
    out["incr_digest"] = digest(incr)
    out["incr_sec"] = round(time.monotonic() - t0, 2)

    # expected cluster count: chains - merges + splits (every merge joins
    # two chains, every split cuts one in two, sets disjoint by spacing),
    # plus the partial tail chain — only when it has an edge: a 1-node
    # remainder is isolated and absent from connected_components' domain
    exp_k = n_chains - args.merges + args.splits + (1 if n % L > 1 else 0)
    out["expected_clusters"] = exp_k
    out["verdict_equal"] = (
        "skip" if args.skip_full
        else ("PASS" if out["full_digest"] == out["incr_digest"] else "FAIL")
    )
    out["verdict_clusters"] = (
        "PASS" if out["incr_digest"]["k"] == exp_k else "FAIL"
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
