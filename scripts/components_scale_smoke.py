"""Connected components at scale on the adversarial topology.

Random duplicate graphs collapse to stars in 2-3 alternating rounds;
the depth case is LONG CHAINS (every doc similar only to its neighbor —
exactly what template drift produces in a crawl). This smoke builds a
pure chain forest, the structure is fully checkable with aggregates (no
driver-side collect of the graph):

* nodes 0..N-1, chains of length L: edge (i, i+1) whenever i % L != L-1
* expected components: ceil(N / L) (the last chain may be partial),
  component of node i == i - (i % L)

Everything is generated with Spark SQL expressions (no Python row work)
and verified the same way: the ONLY driver-side values are the per-round
convergence scalar inside the operator and the final three counts.

Run:  python scripts/components_scale_smoke.py --nodes 20000000 --chain 512

Quick A/B point on a 4-core machine (3x10^5 chain edges, 10 rounds, about
40 s):

      python scripts/components_scale_smoke.py --nodes 300000 --chain 512 \
          --driver-mem 4g

Prints one JSON line: sizes, convergence rounds, wall seconds, verdicts.
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
    p.add_argument("--cpus", type=int, default=0)
    p.add_argument("--driver-mem", default="24g",
                   help="JVM heap; the 10^8-edge tier wants 48g on a "
                        "128 GiB box (see BENCH.md round-7 note)")
    args = p.parse_args(argv)
    if args.chain < 2:
        p.error("--chain must be >= 2 (length-1 chains have no edges)")

    cpus = args.cpus or len(os.sched_getaffinity(0))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from deed_ocr_spark.queries.components import connected_components

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("components-scale-smoke")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.driver.memory", args.driver_mem)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    n, L = args.nodes, args.chain
    edges = (
        spark.range(n - 1)
        .filter(F.col("id") % L != L - 1)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    )

    stats: dict = {}
    t0 = time.monotonic()
    comp = connected_components(edges, stats=stats)
    agg = comp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("component").alias("n_clusters"),
        F.sum(
            (F.col("component") == F.col("doc_id") - F.col("doc_id") % L)
            .cast("long")
        ).alias("n_correct"),
    ).collect()[0]
    wall = round(time.monotonic() - t0, 2)

    # a trailing length-1 chain (n % L == 1) has no edge, and the operator
    # labels only nodes that appear in an edge — drop it from expectations
    n_eff = n - 1 if n % L == 1 else n
    out = {
        "nodes": n,
        "chain_len": L,
        "edges": (n - 1) - len(range(L - 1, n - 1, L)),
        "cpus": cpus,
        "rounds": stats["rounds"],
        "wall_sec": wall,
        "clusters": int(agg["n_clusters"]),
        "clusters_expected": -(-n_eff // L),
        "all_labels_correct": int(agg["n_correct"])
        == int(agg["n_docs"])
        == n_eff,
    }
    out["ok"] = (
        out["clusters"] == out["clusters_expected"]
        and out["all_labels_correct"]
    )
    print(json.dumps(out))
    spark.stop()
    return 0 if out["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
