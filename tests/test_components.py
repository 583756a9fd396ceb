"""Connected-components operator vs a Python union-find oracle, and
incremental label maintenance vs a recompute."""

import random

import pytest
from deed_ocr_spark.queries.components import (
    connected_components,
    dup_components,
)

SF = "/root/testdata/sf0.001"


def _union_find(edges):
    """Oracle: {node: component-min} via path-compressed union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run(spark, edges, stats=None):
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    out = connected_components(df, stats=stats)
    return {r["doc_id"]: r["component"] for r in out.collect()}


def test_components_small_shapes(spark):
    # two chains, a star, a triangle, an isolated pair — in one graph
    edges = [
        (1, 2), (2, 3), (3, 4),          # chain -> {1,2,3,4}
        (10, 11), (10, 12), (10, 13),    # star centered high -> min 10
        (20, 21), (21, 22), (20, 22),    # triangle
        (30, 31),                        # pair
        (41, 40),                        # reversed pair
    ]
    assert _run(spark, edges) == _union_find(edges)


def test_components_local_minimum_bridges(spark):
    """The case greedy drop-doc_b gets wrong: B-C and A-C with A<B<C is
    ONE cluster; B is a local minimum but not the component min."""
    edges = [(2, 3), (1, 3)]
    got = _run(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1} == _union_find(edges)


def test_components_long_chain_converges(spark):
    """512-node chain: the adversarial depth case for label propagation;
    the alternating algorithm must converge well under MAX_ROUNDS. One
    star round per checkpoint takes exactly 10 rounds here; two rounds
    per checkpoint took 12, so a return to multi-round strides fails
    this pin."""
    edges = [(i, i + 1) for i in range(511)]
    stats = {}
    got = _run(spark, edges, stats)
    assert got == {n: 0 for n in range(512)}
    assert stats["rounds"] == 10


@pytest.mark.parametrize("seed,n,m", [(7, 200, 150), (8, 300, 420)])
def test_components_random_graphs_match_union_find(spark, seed, n, m):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(m)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _run(spark, edges) == _union_find(edges)


def test_components_string_ids(spark):
    df = spark.sql(
        "SELECT * FROM VALUES ('b','c'), ('a','c'), ('x','y') AS t(doc_a, doc_b)"
    )
    out = {r["doc_id"]: r["component"] for r in connected_components(df).collect()}
    assert out == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_components_plan_has_no_cartesian(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "doc_a bigint, doc_b bigint")
    out = connected_components(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_components_match_driver_pairs_oracle(spark):
    """Corpus-scale check at sf0.001: components over d13's actual pairs
    equal union-find of those same pairs."""
    from deed_ocr_spark.queries.textpipe import QUERIES

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["d13_winnow_dup_pairs"](spark, SF).collect()
    ]
    got = {
        r["doc_id"]: r["component"]
        for r in dup_components(spark, SF).collect()
    }
    assert got == _union_find(pairs)
    assert len(got) > 0, "sf0.001 corpus must contain at least one dup pair"


def test_d16_registered_with_oracle_and_matches_union_find(spark):
    """Round-6 registration lock: d16_dup_components sits in the 50-slot
    registry WITH a DuckDB oracle (the swap's whole point was raising the
    oracle-backed count), d6b is demoted but still importable, and d16's
    labels equal a union-find over the exact pairs it clusters."""
    from deed_ocr_spark.queries import ORACLES, QUERIES
    from deed_ocr_spark.queries.components import d16_dup_components
    from deed_ocr_spark.queries.textpipe import (
        d6b_simhash_fast,  # noqa: F401 — demoted, must stay importable
        d7b_ngram_jaccard_pairs_bucketed,
    )

    assert "d16_dup_components" in QUERIES and "d16_dup_components" in ORACLES
    assert "d6b_simhash_fast" not in QUERIES
    assert len(QUERIES) == 50
    sf = "/root/testdata/sf0.001"
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in d7b_ngram_jaccard_pairs_bucketed(spark, sf).collect()
    ]
    got = {
        r["doc_id"]: r["component"]
        for r in d16_dup_components(spark, sf).collect()
    }
    assert got == _union_find(pairs) and got


# --- incremental label maintenance (round 6) ------------------------------------
def _labels(df):
    return {r["doc_id"]: r["component"] for r in df.collect()}


def _edges(spark, pairs):
    return spark.createDataFrame(
        pairs or [(None, None)], "doc_a bigint, doc_b bigint"
    ).filter("doc_a is not null")


def _run_update(spark, old_edges, added, retracted):
    """update_components vs connected_components on the post-delta graph."""
    from deed_ocr_spark.queries.components import update_components

    cur = sorted((set(old_edges) | set(added)) - set(retracted))
    old_lab = _run(spark, old_edges)  # dict from union-find-checked helper
    old_df = spark.createDataFrame(
        list(old_lab.items()) or [(None, None)],
        "doc_id bigint, component bigint",
    ).filter("doc_id is not null")
    got = _labels(
        update_components(
            old_df,
            _edges(spark, cur),
            _edges(spark, added),
            _edges(spark, retracted),
        )
    )
    want = _union_find(cur)
    assert got == want, (old_edges, added, retracted, got, want)


def test_update_components_merges_only(spark):
    # two clusters {1,2} {5,6}, a new edge merges them through a new doc
    _run_update(spark, [(1, 2), (5, 6)], [(2, 9), (9, 5)], [])


def test_update_components_split(spark):
    # chain 1-2-3-4 loses its middle edge → two clusters
    _run_update(spark, [(1, 2), (2, 3), (3, 4)], [], [(2, 3)])


def test_update_components_split_and_merge(spark):
    _run_update(
        spark,
        [(1, 2), (2, 3), (10, 11)],
        [(3, 10)],
        [(1, 2)],
    )


def test_update_components_node_loses_all_edges(spark):
    # doc 2's only edge retracts → it must vanish from the labels
    _run_update(spark, [(1, 2), (5, 6)], [], [(1, 2)])


def test_update_components_noop_delta(spark):
    _run_update(spark, [(1, 2), (2, 3)], [], [])


@pytest.mark.parametrize("seed", [11, 12, 13, 14])
def test_update_components_random_property(spark, seed):
    rng = random.Random(seed)
    nodes = list(range(24))
    old = {
        tuple(sorted(rng.sample(nodes, 2))) for _ in range(rng.randrange(6, 18))
    }
    added = {
        tuple(sorted((rng.randrange(30), rng.randrange(30))))
        for _ in range(rng.randrange(0, 6))
    }
    added = {(a, b) for a, b in added if a != b} - old
    retracted = set(rng.sample(sorted(old), rng.randrange(0, len(old) // 2 + 1)))
    _run_update(spark, sorted(old), sorted(added), sorted(retracted))


def test_update_components_without_retraction_matches_recompute(spark):
    """A merge-only delta: labels equal connected_components(G'), and the
    current pair graph is never read — with nothing retracted no cluster
    is wounded, so there is nothing to re-solve from it."""
    from pyspark.sql import functions as F

    from deed_ocr_spark.queries.components import update_components

    old_edges = [(1, 2), (2, 3), (10, 11), (20, 21)]
    added = [(3, 10), (21, 30), (30, 31), (50, 51)]
    cur = old_edges + added
    old = connected_components(_edges(spark, old_edges)).localCheckpoint(
        eager=True
    )

    @F.udf("bigint")
    def unread(x):
        raise RuntimeError("current_pairs read on a merge-only delta")

    current = _edges(spark, cur).withColumn("doc_a", unread("doc_a"))
    got = _labels(
        update_components(
            old, current, _edges(spark, added), _edges(spark, [])
        )
    )
    assert got == _labels(connected_components(_edges(spark, cur)))


def test_update_components_with_retraction_matches_recompute(spark):
    """Retractions split two clusters while additions merge across them
    and bring in new docs: labels equal connected_components(G')."""
    from deed_ocr_spark.queries.components import update_components

    old_edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)]
    added = [(4, 10), (21, 40)]
    retracted = [(2, 3), (11, 12)]
    cur = sorted((set(old_edges) | set(added)) - set(retracted))
    old = connected_components(_edges(spark, old_edges)).localCheckpoint(
        eager=True
    )
    got = _labels(
        update_components(
            old,
            _edges(spark, cur),
            _edges(spark, added),
            _edges(spark, retracted),
        )
    )
    assert got == _labels(connected_components(_edges(spark, cur)))
    assert got[11] == 3 and got[40] == 20 and 12 not in got


def test_dup_components_incremental_matches_recompute(
    spark, tmp_path, monkeypatch
):
    """Table-level flow: labels at T0 + corpus append → incremental labels
    equal a full dup_components over the appended corpus."""
    import deed_ocr_spark.signatures as sig
    from deed_ocr_spark.queries.components import (
        dup_components,
        dup_components_incremental,
    )
    from tests.test_pair_delta import _write_docs

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    _write_docs(spark, sf, 0, 60, 2, "overwrite")
    snap = sig.processed_parts(spark, sf, sig.WINNOW_FPS)
    old_labels = dup_components(spark, sf).localCheckpoint(eager=True)
    _write_docs(spark, sf, 60, 90, 1, "append")
    got = _labels(dup_components_incremental(spark, sf, old_labels, snap))
    want = _labels(dup_components(spark, sf))
    assert got == want and got


def test_dup_components_incremental_single_delta_and_race_refusal(
    spark, tmp_path, monkeypatch
):
    """Round-6 second review: (a) the incremental flow computes the
    |new|×corpus delta (textpipe.winnow_pair_delta) exactly ONCE — the
    pairs table's maintenance computes it and the label delta reads the
    same in-process result back — and (b) a concurrent append that makes
    the pairs table's window differ from the label delta's raises instead
    of silently dropping the concurrent docs' labels."""
    import deed_ocr_spark.queries.textpipe as tp
    import deed_ocr_spark.signatures as sig
    from deed_ocr_spark.queries.components import (
        dup_components,
        dup_components_incremental,
    )
    from tests.test_pair_delta import _write_docs

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    _write_docs(spark, sf, 0, 60, 2, "overwrite")
    snap = sig.processed_parts(spark, sf, sig.WINNOW_FPS)
    old_labels = dup_components(spark, sf).localCheckpoint(eager=True)
    _write_docs(spark, sf, 60, 90, 1, "append")

    calls = {"n": 0}
    real_pair_delta = tp.winnow_pair_delta

    def counting(*a, **k):
        calls["n"] += 1
        return real_pair_delta(*a, **k)

    monkeypatch.setattr(tp, "winnow_pair_delta", counting)
    got = {
        r["doc_id"]: r["component"]
        for r in dup_components_incremental(spark, sf, old_labels, snap)
        .collect()
    }
    assert calls["n"] == 1, "the |new|×corpus delta must run once per window"
    assert got == {
        r["doc_id"]: r["component"]
        for r in dup_components(spark, sf).collect()
    }
    real_delta = sig.winnow_dup_pairs_delta

    # (b) the race: another append lands right after the pairs table's
    # maintenance took its delta — the label delta's window is wider than
    # the table's, labels must refuse
    snap2 = sig.processed_parts(spark, sf, sig.WINNOW_FPS)
    labels2 = dup_components(spark, sf).localCheckpoint(eager=True)
    _write_docs(spark, sf, 90, 120, 1, "append")

    def delta_then_concurrent_append(*a, **k):
        out = real_delta(*a, **k)
        _write_docs(spark, sf, 120, 150, 1, "append")
        return out

    monkeypatch.setattr(
        sig, "winnow_dup_pairs_delta", delta_then_concurrent_append
    )
    with pytest.raises(ValueError, match="wider window"):
        dup_components_incremental(spark, sf, labels2, snap2)


def test_release_checkpoint_frees_pinned_blocks(spark):
    """_release_checkpoint must actually drop a superseded
    localCheckpoint's RDD from the context's persistent set (round-6
    ADVICE): it reaches through private JVM accessors and silently no-ops
    on any exception, so a Spark-internal rename would otherwise
    reintroduce the observed 10^8-edge UNABLE_TO_ACQUIRE_MEMORY block
    accumulation with no test failing."""
    from deed_ocr_spark.queries.components import _release_checkpoint

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = n_persistent()
    df = spark.range(0, 1000).localCheckpoint(eager=True)
    assert n_persistent() == base + 1, "localCheckpoint must pin blocks"
    _release_checkpoint(df)
    assert n_persistent() == base, (
        "release was a no-op — the internal accessor path "
        "(queryExecution().analyzed() leaves' rdd()) has drifted"
    )
    # a frame derived from checkpoints releases every one it reads
    a = spark.range(0, 100).localCheckpoint(eager=True)
    b = spark.range(50, 150).localCheckpoint(eager=True)
    ids = {f._jdf.queryExecution().analyzed().rdd().id() for f in (a, b)}
    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    assert ids <= pinned()
    _release_checkpoint(a.join(b, "id").filter("id > 60"))
    assert not ids & pinned()


def _strided_labels(spark, edges, stride):
    """Reference loop: ``stride`` star rounds per materialization, fixpoint
    on the collected edge set, labels read off the star forest."""
    import deed_ocr_spark.queries.components as C

    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    e = C._canonical_edges(df, "doc_a", "doc_b").localCheckpoint(eager=True)
    prev = {(r["u"], r["v"]) for r in e.collect()}
    for _ in range(C.MAX_ROUNDS):
        for _ in range(stride):
            n = C._round_partitions(spark, len(prev))
            e = C._small_star(
                C._symmetrize(C._large_star(C._symmetrize(e), n)), n
            )
        e = e.localCheckpoint(eager=True)
        cur = {(r["u"], r["v"]) for r in e.collect()}
        if cur == prev:
            break
        prev = cur
    labels = {n: n for edge in edges for n in edge}
    labels.update(dict(cur))
    return labels


@pytest.mark.parametrize("stride", [1, 2])
def test_components_stride_rounds_identical_labels(spark, stride):
    """Adversarial chain + star + random edges in one graph: the
    one-round-per-checkpoint labels equal the union-find oracle and the
    fixpoint of the same round operators materialized every ``stride``
    rounds (the stride only moves where lineage is cut)."""
    rng = random.Random(1234)
    edges = (
        [(i, i + 1) for i in range(64)]              # depth
        + [(100, 100 + i) for i in range(1, 20)]     # star
        + [
            (rng.randrange(200, 260), rng.randrange(200, 260))
            for _ in range(80)
        ]
    )
    edges = [(a, b) for a, b in edges if a != b]
    got = _run(spark, edges)
    assert got == _union_find(edges)
    assert _strided_labels(spark, edges, stride) == got


def test_components_clique_collapse_and_chain(spark):
    """A clique collapses 190 -> 19 edges in its first rounds while a
    disjoint chain is still deepening: labels equal the union-find
    oracle."""
    clique = [(a, b) for a in range(20) for b in range(a + 1, 20)]
    chain = [(100 + i, 101 + i) for i in range(30)]
    edges = clique + chain
    assert _run(spark, edges) == _union_find(edges)


_PARTS = "spark.sql.shuffle.partitions"


@pytest.fixture()
def caller_parts(spark):
    """A caller's shuffle width that no round would pick, restored after."""
    prior = spark.conf.get(_PARTS)
    spark.conf.set(_PARTS, "13")
    yield "13"
    spark.conf.set(_PARTS, prior)


def _watch_rounds(spark, monkeypatch, caller_parts):
    """Wrap the per-round checkpoint: assert the session's shuffle width
    is the caller's at every checkpoint, and record each materialized
    frame's Exchange widths with the edge count it came from."""
    import re

    import deed_ocr_spark.queries.components as C

    seen = []
    real = C._checkpoint_with_digest

    def watched(e):
        assert spark.conf.get(_PARTS) == caller_parts
        plan = e._jdf.queryExecution().executedPlan().toString()
        out, digest = real(e)
        widths = [
            int(w) for w in re.findall(r"Exchange hashpartitioning\(.*?, (\d+)\)", plan)
        ]
        seen.append((widths, digest[0]))
        return out, digest

    monkeypatch.setattr(C, "_checkpoint_with_digest", watched)
    return seen


def _assert_round_widths(spark, seen):
    """The canonical-edge checkpoint runs one exchange, as wide as
    ``_round_partitions`` of the edges it holds, and every star round
    runs exactly three, each as wide as ``_round_partitions`` of the edge
    count the round started from."""
    from deed_ocr_spark.queries.components import _round_partitions

    assert len(seen) >= 2, seen
    widths0, n_edges = seen[0]
    assert widths0 == [_round_partitions(spark, n_edges)], seen
    for (_w0, n_in), (widths, _n) in zip(seen, seen[1:]):
        assert widths == [_round_partitions(spark, n_in)] * 3, seen


def test_components_restores_shuffle_partitions(
    spark, caller_parts, monkeypatch
):
    """connected_components never writes the session's shuffle width: the
    caller's value holds at every round and after the return, and each
    round's exchanges take their width from ``_round_partitions``."""
    seen = _watch_rounds(spark, monkeypatch, caller_parts)
    edges = [(i, i + 1) for i in range(16)]
    assert _run(spark, edges) == _union_find(edges)
    assert spark.conf.get(_PARTS) == caller_parts
    _assert_round_widths(spark, seen)
    assert seen[0][0][0] != int(caller_parts)
    assert seen[1][0][0] != int(caller_parts)


def test_components_restores_shuffle_partitions_on_raise(
    spark, caller_parts, monkeypatch
):
    """A loop that hits MAX_ROUNDS raises; the caller's shuffle width was
    never changed, and the one round it ran had the derived width."""
    import deed_ocr_spark.queries.components as C

    seen = _watch_rounds(spark, monkeypatch, caller_parts)
    monkeypatch.setattr(C, "MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        _run(spark, [(i, i + 1) for i in range(16)])
    assert spark.conf.get(_PARTS) == caller_parts
    _assert_round_widths(spark, seen)
    assert len(seen) == 2

