"""Distributed connected components over duplicate-pair edges.

The dedup family emits PAIRS (d7 Jaccard, d9 LSH bands, d13 winnowing);
canonical corpus dedup needs their TRANSITIVE CLOSURE: near-dup is not
transitive, but a keep-one-per-cluster policy must treat A~B, B~C as one
cluster {A,B,C} or the keep-list double-keeps content (the greedy
drop-every-doc_b policy of d14 keeps every LOCAL-minimum doc — e.g.
edges B-C and A-C with A<B<C keep both A and B).

Algorithm: the alternating large-star / small-star method of Kiveris,
Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
MapReduce and Beyond" (SoCC 2014 — public paper). Both operations are
pure relational steps: symmetrize, then a per-node minimum taken as a
window (``min(v) over (partition by u)``) on an explicit repartition by
node id, so the minimum never needs a join back onto the edges. A round
is three exchanges, all on ``u`` at one width: large star, small star,
and the round's closing ``distinct``. The edge multiset shrinks
monotonically toward a star forest, and convergence takes O(log^2 n)
rounds on adversarial graphs (in practice a handful: near-dup clusters
are shallow). Nothing here collects edges to the driver — the loop's
only driver-side values are one (count, hash) scalar pair per round for
the fixpoint test, exactly the control-plane shape a 10^12-doc run
needs — and nothing writes session conf: each round's width is an
argument of its repartitions. Compare GraphFrames' connectedComponents,
which implements the same family of algorithms on top of the same
DataFrame operations.

Engine addition beyond the reference (its similarity self-dedup,
extractors/llm.py:195-217, dedups WITHIN one document's candidate list;
corpus-level clustering has no analog there). Tested against a Python
union-find oracle on adversarial graphs (chains, stars, cliques, random)
in tests/test_components.py; registered as d16_dup_components (round-6
swap for the agreement-tested d6b twin) with a recursive-CTE DuckDB
value oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

# Far above the O(log^2 n) bound for any feasible corpus (n = 10^12 =>
# log2(n) ~ 40); hitting it means a bug, not a big graph — so raise.
MAX_ROUNDS = 64

# Per-round shuffle sizing (round-5 VERDICT #4): every star operation
# shuffles on node id, and the edge multiset both starts huge (10^8+ pair
# edges on a crawl corpus) and SHRINKS monotonically — a fixed session
# default either makes multi-GB partitions early or thousands of empty
# ones late. Each round re-derives the partition count from the CURRENT
# edge count and passes it to its three ``repartition(n, "u")`` calls; a
# repartition by number is never coalesced by AQE, so the width is exact,
# and the session's ``spark.sql.shuffle.partitions`` is neither read nor
# written by a round. The canonical-edge distinct before the first round
# is sized the same way, from the input plan's edge estimate.
EDGES_PER_PARTITION = 2_000_000
MAX_ROUND_PARTITIONS = 4096


def _round_partitions(spark: SparkSession, n_edges: int) -> int:
    par = spark.sparkContext.defaultParallelism
    return max(
        par,
        min(
            MAX_ROUND_PARTITIONS,
            math.ceil(max(n_edges, 1) / EDGES_PER_PARTITION),
        ),
    )


def _planned_rows(df: DataFrame) -> int:
    """``df``'s row count as its optimized plan estimates it, with no
    job: the plan's row count when it has one, else its size over the
    row width. A plan without a size statistic (local data, a checkpoint
    of it) estimates 0, which sizes an exchange at the cores."""
    jspark = df.sparkSession._jsparkSession
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    if stats.rowCount().isDefined():
        return int(str(stats.rowCount().get()))
    size = int(str(stats.sizeInBytes()))
    if size >= jspark.sessionState().conf().defaultSizeInBytes():
        return 0
    return size // (8 + df._jdf.schema().defaultSize())


def _canonical_edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edges as (u, v), self-loops dropped. The
    distinct is the run's first exchange, over the unshrunk input, so it
    takes a round's width for the planned edge count rather than the
    session's ``spark.sql.shuffle.partitions``."""
    e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = e.filter(F.col("u") != F.col("v"))
    n = _round_partitions(e.sparkSession, _planned_rows(e))
    return e.repartition(n, "u").distinct()


def _edges_of(df: DataFrame, *ends) -> DataFrame:
    """(u, v) rows, one per (u, v) column pair in ``ends`` for every row
    of ``df``, in one pass: a union of projections would plan the input
    subtree twice (and, under a window, compute it twice)."""
    structs = (F.struct(u.alias("u"), v.alias("v")) for u, v in ends)
    return df.select(F.explode(F.array(*structs)).alias("e")).select(
        "e.u", "e.v"
    )


def _symmetrize(e: DataFrame) -> DataFrame:
    u, v = F.col("u"), F.col("v")
    return _edges_of(e, (u, v), (v, u))


def _large_star(sym: DataFrame, n_parts: int) -> DataFrame:
    """For every node u: attach each STRICTLY LARGER neighbor to
    m = min(neighborhood(u) + {u}). Keeps connectivity, only ever lowers
    labels (Kiveris et al. Thm 1). One exchange: the minimum is a window
    over the ``u`` partitioning; duplicates are left to the round's
    closing distinct."""
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        sym.repartition(n_parts, "u")
        .select("u", "v", m.alias("m"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(sym: DataFrame, n_parts: int) -> DataFrame:
    """For every node u: attach u and each SMALLER neighbor to the
    minimum m of those smaller neighbors. Two exchanges: the window on
    ``u``, then the closing distinct on the same ``u`` partitioning (a
    hash partitioning on ``u`` already clusters every (u, v) group)."""
    smaller = (
        sym.filter(F.col("v") < F.col("u"))
        .repartition(n_parts, "u")
        .select("u", "v", F.min("v").over(Window.partitionBy("u")).alias("m"))
    )
    moved = _edges_of(
        smaller, (F.col("v"), F.col("m")), (F.col("u"), F.col("m"))
    )
    return (
        moved.filter(F.col("u") != F.col("v"))
        .repartition(n_parts, "u")
        .distinct()
    )


def _release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of every localCheckpoint ``df`` reads (``df``
    itself when it is one), once they are superseded. They are
    NON-EVICTABLE (lineage is gone, so Spark pins them) and
    ``DataFrame.unpersist()`` is a no-op for them — the persistence lives
    on the underlying RDD of each LogicalRDD plan leaf, not in the
    CacheManager. Verified: the plan route drops the entry from
    getPersistentRDDs; without it a 10⁸-edge run accumulates every
    round's blocks and starves execution memory (UNABLE_TO_ACQUIRE_MEMORY
    — observed). Best-effort: if the internal accessor moves in a future
    Spark, blocks merely stay resident (the pre-round-6 behavior)."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except Exception:  # pragma: no cover — internal API drift
        pass


def _checkpoint_with_digest(e: DataFrame):
    """Materialize ``e`` (eager localCheckpoint) and return it with its
    (edge_count, order-free hash) — the per-round fixpoint scalar,
    observed by the checkpoint's own action instead of a second job."""
    obs = Observation()
    e = e.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(u, v))").alias("h"),
    ).localCheckpoint(eager=True)
    m = obs.get
    return e, (int(m["n"]), int(m["h"]) if m["h"] is not None else 0)


def connected_components(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b",
    stats: dict | None = None
) -> DataFrame:
    """(doc_id, component) for every node appearing in ``pairs``; the
    component label is the smallest doc_id in the component.

    Iterates large-star / small-star to a fixpoint, materializing with
    ``localCheckpoint`` after EVERY round (lineage otherwise stacks
    O(rounds) deep and the planner re-derives the whole chain every
    action; on a cluster with a configured checkpoint dir, ``checkpoint``
    is the fault-tolerant drop-in — GraphFrames does the same every few
    rounds). The checkpoint's own action also observes the round's
    (count, hash) digest, so a round costs one driver action.

    Fixpoint detection per round is sound because the alternation's
    potential function strictly decreases until the star forest is
    reached (Kiveris et al. Thm 2): an unchanged digest across one round
    is the fixpoint, not a cycle.

    Pass a dict as ``stats`` to receive {"rounds": int} for convergence
    telemetry (the scale smoke records it)."""
    e, prev = _checkpoint_with_digest(_canonical_edges(pairs, src, dst))
    spark = e.sparkSession
    rounds = 0
    while rounds < MAX_ROUNDS:
        # One round per checkpoint, never more: each star round
        # references its input ~4x and Catalyst shares no common
        # subtrees, so an unmaterialized k-round stride plans ~4^k
        # subtree copies; stride 2 measured slower than stride 1 at
        # 3.6k, 3x10^5, 2x10^7 and 10^8 edges (BENCH.md, CHANGES.md).
        n = _round_partitions(spark, prev[0])
        nxt = _small_star(_symmetrize(_large_star(_symmetrize(e), n)), n)
        e_next, cur = _checkpoint_with_digest(nxt)
        rounds += 1
        # e_next is materialized and never references e, so the
        # superseded round's pinned blocks are safe to drop
        _release_checkpoint(e)
        e = e_next
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ROUNDS} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds

    # the fixpoint edge set is a star forest of (member, center) edges
    # with u > v: every v is a center (its component's minimum), and
    # every center is some member's v
    members = e.select(F.col("u").alias("doc_id"), F.col("v").alias("component"))
    centers = e.select(F.col("v").alias("doc_id")).distinct()
    return members.union(
        centers.select("doc_id", F.col("doc_id").alias("component"))
    )


def dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters of the corpus: connected components over the
    DURABLE winnowing dup-pair table (signatures.ensure_dup_pairs_table —
    d13's min_shared=1 pair set, incrementally maintained via the pair
    delta). Cluster resolution pays only for the graph, never for
    re-deriving it from the corpus: before round 6 the first eager
    checkpoint re-ran the whole dup-pairs query (~73 s of the 10⁶-doc
    maintenance smoke); now it scans a tiny parquet table."""
    from deed_ocr_spark.signatures import (
        ensure_dup_pairs_table,
        read_signature_table,
    )

    pairs = read_signature_table(
        spark, ensure_dup_pairs_table(spark, sf_dir)
    )
    return connected_components(pairs)


def d16_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED components query: duplicate clusters over the n-gram
    Jaccard pairs (d7's registered bucketed form — row-identical to the
    portable pipeline its DuckDB oracle mirrors). d7's pair predicate is
    fully SQL-expressible, so this operator gets a real value oracle: the
    same pairs fed to a recursive-CTE transitive closure with min-label
    aggregation (textpipe's d7 SQL + reach CTE). The d13-based
    ``dup_components`` above stays the maintenance-pipeline form (its
    winnowing hash is engine-native, hence rows-only)."""
    from deed_ocr_spark.queries.textpipe import (
        d7b_ngram_jaccard_pairs_bucketed,
    )

    return connected_components(
        d7b_ngram_jaccard_pairs_bucketed(spark, sf_dir)
    )


# --- incremental label maintenance ---------------------------------------------
def update_components(
    old_labels: DataFrame,
    current_pairs: DataFrame,
    added: DataFrame,
    retracted: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Maintain (doc_id, component) labels under a pair DELTA instead of
    re-clustering the corpus: given labels for graph G and the
    (added, retracted) edge delta producing G' (``current_pairs`` —
    e.g. the freshly-maintained durable pairs table), return
    connected_components(G') — property-tested equal to the recompute.

    The day-2 economics: relabeling work is proportional to the DELTA's
    reach, never the corpus. Additions only ever MERGE clusters, so they
    are solved on a CONTRACTED graph whose nodes are old cluster labels
    (one super-edge per added pair). Retractions can SPLIT, but only the
    clusters that carried a retracted edge — and because components
    partition the graph (every surviving G' edge incident to an affected
    cluster stays inside affected clusters; cross-cluster edges in G' are
    exactly the additions), those clusters' node-level subgraphs are
    re-solved from ``current_pairs`` restricted to their nodes. Both
    reduced edge sets feed ONE star-contraction run; final labels
    compose: affected/new nodes take the reduced solution directly,
    unaffected nodes follow their old cluster's (possibly merged) label.
    Labels stay canonical (min doc id): an unaffected supernode's id IS
    its cluster minimum, so the reduced run's min-label is the true min
    of any merged cluster.

    Nodes that lose their last edge drop out of the result, matching
    connected_components' domain (nodes appearing in some pair).

    ``old_labels`` should arrive materialized (a table scan or a
    checkpointed frame): its lineage is evaluated a few times below, and
    re-running a full clustering per evaluation would defeat the point.
    The DELTA is checkpointed here exactly once, added and retracted
    edges together as one tagged frame — a caller passing the lazy
    |new|×corpus delta query must not pay that join per downstream
    action — and the same action counts the retracted edges. With none,
    no cluster is wounded: the affected-node set, its checkpoint and the
    ``current_pairs`` scan are skipped."""
    old = old_labels.select("doc_id", "component")
    delta, n_retracted = _checkpoint_delta(added, retracted, src, dst)
    add_e = delta.filter("added").select("u", "v")

    def contracted(e: DataFrame, rep: DataFrame) -> DataFrame:
        for side in ("u", "v"):
            e = (
                e.join(
                    rep.select(
                        F.col("doc_id").alias(side),
                        F.col("component").alias(f"_{side}"),
                    ),
                    side,
                    "left",
                )
                .withColumn(side, F.coalesce(f"_{side}", side))
                .drop(f"_{side}")
            )
        return e

    if n_retracted:
        # clusters wounded by a retraction → their full node sets re-solve
        retr_e = delta.filter(~F.col("added")).select("u", "v")
        wounded = (
            old.join(
                _symmetrize(retr_e).select(F.col("u").alias("doc_id")),
                "doc_id",
                "semi",
            )
            .select("component")
            .distinct()
        )
        aff_nodes = (
            old.join(wounded, "component", "semi")
            .select("doc_id")
            .localCheckpoint(eager=True)
        )
        # rep: the old cluster label of every unaffected node; affected
        # nodes and brand-new docs have no row (coalesce to the node)
        rep = old.join(aff_nodes, "doc_id", "left_anti")
        # raw projection, NO distinct: a pre-semi distinct would aggregate
        # the whole corpus-scale pair graph before the delta-sized
        # restriction (Catalyst cannot push a semi-join below an
        # Aggregate), and connected_components dedups its input anyway.
        # Components partition G: both endpoints of a non-added edge
        # incident to an affected cluster lie inside affected clusters, so
        # the u-side semi suffices.
        sub_e = current_pairs.select(
            F.col(src).alias("u"), F.col(dst).alias("v")
        ).join(aff_nodes.withColumnRenamed("doc_id", "u"), "u", "semi")
        reduced = contracted(add_e, rep).unionByName(sub_e)
    else:
        rep = old
        reduced = contracted(add_e, rep)
    labels_r = connected_components(
        reduced.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b"))
    )

    # the reduced graph's nodes are supernodes (old labels of unaffected
    # clusters, each a doc of rep), affected nodes and new docs — the last
    # two take their reduced label directly
    direct = labels_r.join(rep.select("doc_id"), "doc_id", "left_anti")
    merged = labels_r.select(
        F.col("doc_id").alias("component"),
        F.col("component").alias("_m"),
    )
    carried = (
        rep.join(merged, "component", "left")
        .select(
            "doc_id", F.coalesce("_m", "component").alias("component")
        )
    )
    return carried.unionByName(direct)


def _checkpoint_delta(
    added: DataFrame, retracted: DataFrame, src: str, dst: str
):
    """The edge delta as ONE eager checkpoint of (u, v, added) rows,
    self-loops dropped, and the number of retracted rows — observed by
    the checkpoint's own action."""

    def tagged(df: DataFrame, flag: bool) -> DataFrame:
        return df.select(
            F.col(src).alias("u"), F.col(dst).alias("v"),
            F.lit(flag).alias("added"),
        )

    obs = Observation()
    delta = (
        tagged(added, True)
        .unionByName(tagged(retracted, False))
        .filter(F.col("u") != F.col("v"))
        .observe(obs, F.count(F.when(~F.col("added"), 1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    return delta, int(obs.get["n"])


def dup_components_incremental(
    spark: SparkSession, sf_dir: str, old_labels: DataFrame,
    since: dict, max_df: int = 64,
) -> DataFrame:
    """Table-level composition: the durable pairs table brought current
    (ensure_dup_pairs_table) + the pair delta since ``since`` from the
    fingerprint table's add-dir provenance (signatures.winnow_dup_pairs_delta)
    + label maintenance (update_components). When the table's own delta
    window is this one, the delta call is served from the result the
    table's maintenance just computed, so the |new|×corpus join runs once.
    The table goes first: a delta taken first could be released by the
    table's maintenance computing a different window, and the labels
    still need it. ``since`` is the processed_parts snapshot
    ``old_labels`` was computed against; raises ValueError (run the full
    dup_components) when provenance is insufficient — including when a
    CONCURRENT append makes the table's window differ from this delta's:
    update_components' precondition is current_pairs == old ∪ added −
    retracted, and a silently different table would drop the concurrent
    docs' labels and merges with no error."""
    from deed_ocr_spark.signatures import (
        _read_manifest,
        ensure_dup_pairs_table,
        read_signature_table,
        winnow_dup_pairs_delta,
    )

    ver = ensure_dup_pairs_table(spark, sf_dir, max_df)
    window: dict = {}
    added, retracted = winnow_dup_pairs_delta(
        spark, sf_dir, since, max_df, window=window
    )
    if _read_manifest(ver) != window["parts"]:
        raise ValueError(
            "the durable pairs table and this label delta disagree on the "
            "window (a concurrent append landed a wider window) — "
            "recompute labels with the full dup_components"
        )
    pairs_now = read_signature_table(spark, ver)
    return update_components(old_labels, pairs_now, added, retracted)


# --- driver registry -----------------------------------------------------------
def _d16_oracle_sql() -> str:
    """Recursive-CTE components oracle: d7's pair SQL symmetrized, then
    transitive closure (UNION-dedup fixpoint) and min-label aggregation —
    feasible because the pair graph at oracle scale (sf0.001/sf0.01) is
    tiny; the Spark side is the O(log) star-contraction that scales."""
    from deed_ocr_spark.queries.textpipe import ORACLES as _T

    d7 = _T["d7_ngram_jaccard_pairs"]
    return f"""
        WITH RECURSIVE pairs AS ({d7}),
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION
          SELECT doc_b AS u, doc_a AS v FROM pairs
        ),
        reach(u, v) AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
          WHERE e.v <> r.u
        )
        SELECT u AS doc_id, least(u, min(v)) AS component
        FROM reach GROUP BY u
    """


QUERIES = {"d16_dup_components": d16_dup_components}
ORACLES = {"d16_dup_components": _d16_oracle_sql()}
