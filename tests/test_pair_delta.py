"""Incremental dup-pair maintenance: pairs(old+new) == pairs(old) ∪ added
− retracted, including df-cap crossings, at frame level and through the
signature table's add-dir provenance."""

import os
import random

import pytest

import deed_ocr_spark.signatures as sig
from deed_ocr_spark.queries.textpipe import (
    winnow_dup_pairs_from,
    winnow_pair_delta,
)


def _pair_set(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.select("doc_a", "doc_b").collect()}


def _check_delta(spark, old_rows, new_rows, max_df):
    """The equality contract, plus disjointness sanity — through BOTH
    reduction routes (broadcast-hash and mirror-relation)."""
    old = spark.createDataFrame(old_rows, "doc_id bigint, fp bigint")
    new = spark.createDataFrame(new_rows, "doc_id bigint, fp bigint")
    p_old = _pair_set(winnow_dup_pairs_from(old, max_df=max_df))
    p_full = _pair_set(
        winnow_dup_pairs_from(old.unionByName(new), max_df=max_df)
    )
    added, retracted = winnow_pair_delta(old, new, max_df=max_df)
    a, r = _pair_set(added), _pair_set(retracted)
    assert (p_old | a) - r == p_full
    assert a & p_old == set(), "added must be genuinely new"
    assert r <= p_old, "retractions must have existed"
    assert a & r == set()
    # mirror route: the corpus relation stands in for the bucketed table
    a2, r2 = map(
        _pair_set,
        winnow_pair_delta(
            old, new, max_df=max_df, corpus_fps=old.unionByName(new)
        ),
    )
    assert (a2, r2) == (a, r), "mirror route must equal broadcast route"
    return a, r


def test_delta_added_pairs_only(spark):
    # new doc 10 shares fp 1 with old doc 1 → one added pair, no retraction
    a, r = _check_delta(
        spark,
        [(1, 1), (2, 2)],
        [(10, 1)],
        max_df=4,
    )
    assert a == {(1, 10)} and r == set()


def test_delta_cap_crossing_retracts(spark):
    """fp 7 sits exactly at the cap (df=3) supporting three old pairs; one
    new doc carrying fp 7 pushes df to 4 > cap — all three pairs lose
    their only support and must be retracted."""
    old = [(1, 7), (2, 7), (3, 7)]
    a, r = _check_delta(spark, old, [(9, 7)], max_df=3)
    assert r == {(1, 2), (1, 3), (2, 3)}
    assert a == set(), "the crossing fp is over cap for the new doc too"


def test_delta_cap_crossing_with_surviving_support(spark):
    """A pair supported by TWO fps keeps existing when only one crosses."""
    old = [(1, 7), (2, 7), (3, 7), (1, 8), (2, 8)]
    a, r = _check_delta(spark, old, [(9, 7)], max_df=3)
    assert (1, 2) not in r, "fp 8 still supports (1,2)"
    assert r == {(1, 3), (2, 3)}


def test_delta_new_new_pairs(spark):
    a, r = _check_delta(
        spark, [(1, 1)], [(10, 5), (11, 5)], max_df=4
    )
    assert a == {(10, 11)} and r == set()


@pytest.mark.parametrize("seed", [3, 4, 5])
def test_delta_random_property(spark, seed):
    """Randomized contract check across df-cap regimes."""
    rng = random.Random(seed)
    max_df = rng.choice([2, 3, 5])
    old = [
        (rng.randrange(30), rng.randrange(12)) for _ in range(80)
    ]
    new = [
        (30 + rng.randrange(10), rng.randrange(12)) for _ in range(30)
    ]
    _check_delta(spark, old, new, max_df)


def _write_docs(spark, path, lo, hi, parts, mode):
    """Tiny deterministic corpus in the documents.parquet shape; adjacent
    (i-1, i) docs share text when i % 10 == 7 (planted near-dups)."""
    rows = [
        (
            i,
            " ".join(
                f"w{(i - (1 if i % 10 == 7 else 0)) * 31 + j:06d}"
                for j in range(12)
            ),
        )
        for i in range(lo, hi)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    df.repartition(parts).write.mode(mode).parquet(
        os.path.join(path, "documents.parquet")
    )


def test_table_level_delta_matches_full(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    _write_docs(spark, sf, 0, 60, 2, "overwrite")

    snap = sig.processed_parts(spark, sf, sig.WINNOW_FPS)
    full_before = _pair_set(
        winnow_dup_pairs_from(
            sig.read_signature_table(
                spark, sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS)
            )
        )
    )

    # a new partition lands (includes a twin of doc 59's content range)
    _write_docs(spark, sf, 60, 90, 1, "append")
    added, retracted = sig.winnow_dup_pairs_delta(spark, sf, snap)
    full_after = _pair_set(
        winnow_dup_pairs_from(
            sig.read_signature_table(
                spark, sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS)
            )
        )
    )
    a, r = _pair_set(added), _pair_set(retracted)
    assert (full_before | a) - r == full_after
    assert a, "appended range plants near-dups, so the delta is non-empty"

    # no-op delta after a fresh snapshot
    snap2 = sig.processed_parts(spark, sf, sig.WINNOW_FPS)
    a2, r2 = sig.winnow_dup_pairs_delta(spark, sf, snap2)
    assert a2.count() == 0 and r2.count() == 0


def test_table_level_delta_excludes_concurrent_add_dir(
    spark, tmp_path, monkeypatch
):
    """An add dir committed by a CONCURRENT maintainer after the delta's
    processed snapshot (its parts outside since ∪ new_parts) belongs to
    the NEXT window: its rows must not enter the old baseline (which
    would permanently hide their pairs from every future delta) nor the
    new side of this one."""
    import shutil

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    _write_docs(spark, sf, 0, 60, 2, "overwrite")
    snap = sig.processed_parts(spark, sf, sig.WINNOW_FPS)
    _write_docs(spark, sf, 60, 90, 1, "append")
    ver = sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS)
    baseline = sig.winnow_dup_pairs_delta(spark, sf, snap)
    base_sets = (_pair_set(baseline[0]), _pair_set(baseline[1]))

    # plant a "concurrent" add dir: a copy of an existing add dir with a
    # part record naming a part neither in the snapshot nor the appends
    src = next(
        os.path.join(ver, n) for n in os.listdir(ver) if n.startswith("add-")
    )
    foreign = os.path.join(ver, "add-feedfacecafe")
    shutil.copytree(src, foreign)
    with open(os.path.join(foreign, "_parts.json"), "w") as f:
        f.write('{"part-future.parquet": "999:999"}')

    got = sig.winnow_dup_pairs_delta(spark, sf, snap)
    assert (_pair_set(got[0]), _pair_set(got[1])) == base_sets
    shutil.rmtree(foreign)


def test_table_level_delta_refuses_after_rebuild(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    _write_docs(spark, sf, 0, 40, 1, "overwrite")
    snap = sig.processed_parts(spark, sf, sig.WINNOW_FPS)
    # rewrite the corpus in place: same part names, new content/mtime
    _write_docs(spark, sf, 0, 50, 1, "overwrite")
    with pytest.raises(ValueError, match="rebuilt"):
        sig.winnow_dup_pairs_delta(spark, sf, snap)


def test_table_level_delta_refuses_after_compaction(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    _write_docs(spark, sf, 0, 40, 1, "overwrite")
    snap = sig.processed_parts(spark, sf, sig.WINNOW_FPS)
    _write_docs(spark, sf, 40, 60, 1, "append")
    ver = sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS)
    assert len(sig._add_dirs(ver)) == 1
    # the accumulation bound at one add dir folds the append into the base
    monkeypatch.setattr(sig, "SIG_COMPACT_AFTER", 1)
    assert sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS) != ver
    with pytest.raises(ValueError, match="full query"):
        sig.winnow_dup_pairs_delta(spark, sf, snap)


def test_delta_rejects_overlapping_doc_ids(spark):
    """Round-5 ADVICE: a partition re-landed under EXISTING doc_ids breaks
    the delta's equality contract silently (added reports pre-existing
    pairs, per-fp dfs double-count). The frame-level API must refuse."""
    old = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 9)], "doc_id bigint, fp bigint"
    )
    relanded = spark.createDataFrame(
        [(2, 7), (10, 9)], "doc_id bigint, fp bigint"
    )
    with pytest.raises(ValueError, match="disjoint"):
        winnow_pair_delta(old, relanded, max_df=4)


@pytest.mark.parametrize("threshold", ["1g", "-1"])
def test_table_level_delta_pins_only_its_result(
    spark, tmp_path, monkeypatch, threshold
):
    """The delta's working-set checkpoints (new rows, matching old rows,
    and on a cap crossing the affected rows and their dfs) are released
    once the tagged result has materialized: the context's pinned RDDs
    gain the memoized result alone, on either reduction route."""
    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    _write_docs(spark, sf, 0, 60, 2, "overwrite")
    snap = sig.processed_parts(spark, sf, sig.WINNOW_FPS)
    # a third copy of doc 6's text (shared with doc 7) pushes their
    # fingerprints over max_df=2, retracting the pair
    text6 = " ".join(f"w{6 * 31 + j:06d}" for j in range(12))
    spark.createDataFrame([(90, text6)], "doc_id bigint, text string").write.mode(
        "append"
    ).parquet(os.path.join(sf, "documents.parquet"))
    sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS)
    sig._pair_delta_memo = None
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, threshold)
    try:
        before = pinned()
        added, retracted = sig.winnow_dup_pairs_delta(spark, sf, snap, max_df=2)
        result = sig._pair_delta_memo[1]._jdf.queryExecution().analyzed().rdd()
        # ids, not a count: the context cleaner may drop an earlier
        # test's blocks meanwhile
        assert pinned() - before == {result.id()}
        assert _pair_set(retracted) == {(6, 7)} and not _pair_set(added)
    finally:
        spark.conf.set(key, prev)
        _drop_winnow_mirrors(spark)


# --- durable dup-pairs table (round-6 VERDICT #2) ------------------------------
def test_pairs_table_full_build_matches_d13(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    _write_docs(spark, sf, 0, 60, 2, "overwrite")
    ver = sig.ensure_dup_pairs_table(spark, sf)
    stored = _pair_set(sig.read_signature_table(spark, ver))
    want = _pair_set(
        winnow_dup_pairs_from(
            sig.read_signature_table(
                spark, sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS)
            )
        )
    )
    assert stored == want and stored
    # current → second call is the lock-free fast path, same version
    assert sig.ensure_dup_pairs_table(spark, sf) == ver


def test_pairs_table_append_goes_through_delta(spark, tmp_path, monkeypatch):
    """After an append-only corpus growth the table must be maintained by
    the pair DELTA (old ∪ added − retracted over the small stored table),
    never by a full recompute — and the result must equal one."""
    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    _write_docs(spark, sf, 0, 60, 2, "overwrite")
    v1 = sig.ensure_dup_pairs_table(spark, sf)
    _write_docs(spark, sf, 60, 90, 1, "append")

    def no_full(*a, **k):  # the delta path must not recompute
        raise AssertionError("full recompute ran on an append-only change")

    monkeypatch.setattr(sig, "_pairs_full_df", no_full)
    v2 = sig.ensure_dup_pairs_table(spark, sf)
    monkeypatch.undo()
    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    assert v2 != v1, "append must land a fresh pairs version"
    stored = _pair_set(sig.read_signature_table(spark, v2))
    want = _pair_set(
        winnow_dup_pairs_from(
            sig.read_signature_table(
                spark, sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS)
            )
        )
    )
    assert stored == want and stored
    # manifest tracks the fps snapshot → third call is current
    assert sig.ensure_dup_pairs_table(spark, sf) == v2


def test_pair_delta_reused_only_for_its_own_window(
    spark, tmp_path, monkeypatch
):
    """The in-process delta result serves exactly its own window: the
    pairs table's delta path reads back the delta a caller just took, a
    second append (another window) computes afresh, and after an fps
    rebuild the old window is refused rather than served. Each table
    version equals a fresh full recompute."""
    import deed_ocr_spark.queries.textpipe as tp

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    _write_docs(spark, sf, 0, 60, 2, "overwrite")
    sig.ensure_dup_pairs_table(spark, sf)
    snap = sig.processed_parts(spark, sf, sig.WINNOW_FPS)
    calls = {"n": 0}
    real = tp.winnow_pair_delta

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(tp, "winnow_pair_delta", counting)

    def table_is_fresh():
        ver = sig.ensure_dup_pairs_table(spark, sf)
        stored = _pair_set(sig.read_signature_table(spark, ver))
        assert stored == _pair_set(sig._pairs_full_df(spark, sf, 64))
        return stored

    _write_docs(spark, sf, 60, 90, 1, "append")
    added, _r = sig.winnow_dup_pairs_delta(spark, sf, snap)
    assert _pair_set(added) and calls["n"] == 1
    table_is_fresh()
    assert calls["n"] == 1, "the table's delta path must reuse the delta"

    snap2 = sig.processed_parts(spark, sf, sig.WINNOW_FPS)
    _write_docs(spark, sf, 90, 120, 1, "append")
    table_is_fresh()
    assert calls["n"] == 2, "a new window must compute its own delta"
    added2, _r2 = sig.winnow_dup_pairs_delta(spark, sf, snap2)
    assert calls["n"] == 2 and _pair_set(added2)

    # rewrite the corpus in place: the fps family is rebuilt
    _write_docs(spark, sf, 0, 120, 2, "overwrite")
    with pytest.raises(ValueError, match="rebuilt"):
        sig.winnow_dup_pairs_delta(spark, sf, snap2)
    assert table_is_fresh()


def test_pairs_table_rebuild_falls_back_to_full(spark, tmp_path, monkeypatch):
    """A REWRITTEN old part (fps family rebuilt) breaks delta provenance —
    the pairs table must take the full-recompute path and still be exact."""
    import time as t

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    _write_docs(spark, sf, 0, 60, 2, "overwrite")
    v1 = sig.ensure_dup_pairs_table(spark, sf)
    _write_docs(spark, sf, 0, 70, 2, "overwrite")  # rewrite, not append
    calls = {"full": 0}
    real_full = sig._pairs_full_df

    def counting_full(*a, **k):
        calls["full"] += 1
        return real_full(*a, **k)

    monkeypatch.setattr(sig, "_pairs_full_df", counting_full)
    v2 = sig.ensure_dup_pairs_table(spark, sf)
    assert v2 != v1 and calls["full"] == 1
    stored = _pair_set(sig.read_signature_table(spark, v2))
    want = _pair_set(
        winnow_dup_pairs_from(
            sig.read_signature_table(
                spark, sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS)
            )
        )
    )
    assert stored == want and stored


def test_dup_components_scans_durable_pairs(spark, tmp_path, monkeypatch):
    """dup_components must consume the durable table: once the table is
    current, cluster resolution runs with NO pair re-derivation (the
    ~73 s components input-materialization tax of the 10⁶ smoke)."""
    from deed_ocr_spark.queries.components import dup_components

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    _write_docs(spark, sf, 0, 60, 2, "overwrite")
    ver = sig.ensure_dup_pairs_table(spark, sf)
    pairs = _pair_set(sig.read_signature_table(spark, ver))

    def no_full(*a, **k):
        raise AssertionError("dup_components re-derived pairs")

    monkeypatch.setattr(sig, "_pairs_full_df", no_full)
    got = {
        r["doc_id"]: r["component"] for r in dup_components(spark, sf).collect()
    }
    # union-find oracle over the stored pairs
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want and got


# --- mirror route (round-6 VERDICT #3) ------------------------------------------
def _delta_at_threshold(spark, monkeypatch, sf, snap, threshold):
    """winnow_dup_pairs_delta run (and collected) with the session's
    autoBroadcastJoinThreshold at ``threshold``, restored afterwards.
    Returns ((added, retracted) pair sets, whether the fp-bucketed mirror
    was resolved — i.e. which reduction route the delta chose)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    real = sig.ensure_bucketed_signature_table
    calls = []

    def counting(*a, **k):
        calls.append(a)
        return real(*a, **k)

    monkeypatch.setattr(sig, "ensure_bucketed_signature_table", counting)
    # forget the in-process delta: a read-back of the same window would
    # answer without choosing a route
    sig._pair_delta_memo = None
    prev = spark.conf.get(key)
    spark.conf.set(key, threshold)
    try:
        sets = tuple(map(_pair_set, sig.winnow_dup_pairs_delta(spark, sf, snap)))
    finally:
        spark.conf.set(key, prev)
        monkeypatch.setattr(sig, "ensure_bucketed_signature_table", real)
    return sets, bool(calls)


def _drop_winnow_mirrors(spark):
    for t in spark.catalog.listTables():
        if t.name.startswith("sig_winnow_fps"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def _appended(spark, tmp_path, monkeypatch):
    """(sf, snapshot) of a 60-doc corpus that then grew by a 30-doc part."""
    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    _write_docs(spark, sf, 0, 60, 2, "overwrite")
    snap = sig.processed_parts(spark, sf, sig.WINNOW_FPS)
    _write_docs(spark, sf, 60, 90, 1, "append")
    return sf, snap


def test_table_level_mirror_route_matches_broadcast(
    spark, tmp_path, monkeypatch
):
    """The route threshold on both sides, identical rows: broadcasting
    disabled (-1) takes the fp-bucketed mirror, a threshold far above the
    append's bytes takes the broadcast route — and both answer the same
    (added, retracted) sets."""
    sf, snap = _appended(spark, tmp_path, monkeypatch)
    try:
        mirror, used_m = _delta_at_threshold(spark, monkeypatch, sf, snap, "-1")
        bcast, used_b = _delta_at_threshold(spark, monkeypatch, sf, snap, "1g")
        assert used_m and not used_b
        assert mirror == bcast and bcast[0]
    finally:
        _drop_winnow_mirrors(spark)


def test_auto_route_picks_mirror_for_large_append(
    spark, tmp_path, monkeypatch
):
    """The byte comparison at its exact boundary: new add-dir bytes one
    above the threshold go through the mirror, bytes equal to it stay on
    the broadcast route — with identical rows."""
    sf, snap = _appended(spark, tmp_path, monkeypatch)
    ver = sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS)
    new_bytes = sum(sum(sig._parquet_sizes(p)) for p, _ in sig._add_dirs(ver))
    assert new_bytes > 1
    try:
        above, used_above = _delta_at_threshold(
            spark, monkeypatch, sf, snap, str(new_bytes - 1)
        )
        at, used_at = _delta_at_threshold(
            spark, monkeypatch, sf, snap, str(new_bytes)
        )
        assert used_above, "auto must route a too-big append via mirror"
        assert not used_at
        assert above == at and at[0]
    finally:
        _drop_winnow_mirrors(spark)


def test_mirror_reduction_never_exchanges_corpus_side(
    spark, tmp_path, monkeypatch
):
    """The mirror route's whole point at a forced-low broadcast budget:
    the corpus-table side of the fp semi-join rides bucket co-location
    (bucketed scan present, one FEWER Exchange than the same reduction
    against plain parquet — the missing one is exactly the corpus
    shuffle)."""
    import re

    from deed_ocr_spark.queries.textpipe import reduced_corpus_rel

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    _write_docs(spark, sf, 0, 60, 2, "overwrite")
    name = sig.ensure_bucketed_signature_table(
        spark, sf, sig.WINNOW_FPS, key="fp"
    )
    ver = sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS)
    from pyspark.sql import functions as F

    new_fp_set = spark.range(5).select((F.col("id") * 7).alias("fp"))
    new_docs = spark.range(3).select(F.col("id").alias("doc_id"))

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    def n_exchanges(p):
        return len(set(re.findall(r"Exchange \((\d+)\)", p)))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p_mirror = plan(
            reduced_corpus_rel(spark.table(name), new_fp_set, new_docs)
        )
        p_plain = plan(
            reduced_corpus_rel(
                sig.read_signature_table(spark, ver), new_fp_set, new_docs
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    assert "Bucketed: true" in p_mirror, p_mirror
    assert n_exchanges(p_mirror) == n_exchanges(p_plain) - 1, (
        p_mirror,
        p_plain,
    )


# --- round-6 review regressions --------------------------------------------------
def test_mirror_route_rejects_overlapping_doc_ids(spark):
    """The mirror carve-out anti-joins the new ids, so without its own
    check a re-landed doc would be silently DELETED from the old relation
    (review F1) — both routes must raise identically."""
    old = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 9)], "doc_id bigint, fp bigint"
    )
    relanded = spark.createDataFrame(
        [(2, 7), (10, 9)], "doc_id bigint, fp bigint"
    )
    with pytest.raises(ValueError, match="disjoint"):
        winnow_pair_delta(
            old, relanded, max_df=4, corpus_fps=old.unionByName(relanded)
        )


def test_mirror_route_refuses_out_of_window_add_dir(
    spark, tmp_path, monkeypatch
):
    """The bucketed mirror reflects the LIVE table; an add dir outside the
    delta's [since, processed] window would be counted as old baseline
    (inflated dfs, spurious cap crossings — review F3). The mirror route
    must refuse; the broadcast route (explicit provenance paths) still
    answers."""
    import shutil

    sf, snap = _appended(spark, tmp_path, monkeypatch)
    ver = sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS)
    src = next(
        os.path.join(ver, n) for n in os.listdir(ver) if n.startswith("add-")
    )
    foreign = os.path.join(ver, "add-feedfacecafe")
    shutil.copytree(src, foreign)
    with open(os.path.join(foreign, "_parts.json"), "w") as f:
        f.write('{"part-future.parquet": "999:999"}')
    # a TRULY out-of-window dir is one the delta's processed snapshot
    # missed (it landed between the snapshot read and the dir listing):
    # simulate by hiding its part from _processed_parts
    real_pp = sig._processed_parts

    def pp_missing_future(ver_dir, manifest):
        d = real_pp(ver_dir, manifest)
        d.pop("part-future.parquet", None)
        return d

    monkeypatch.setattr(sig, "_processed_parts", pp_missing_future)
    try:
        with pytest.raises(ValueError, match="outside this delta window"):
            _delta_at_threshold(spark, monkeypatch, sf, snap, "-1")
        (a, _r), used = _delta_at_threshold(spark, monkeypatch, sf, snap, "1g")
        assert a and not used
    finally:
        shutil.rmtree(foreign)


def test_auto_route_uses_mirror_when_broadcast_disabled(
    spark, tmp_path, monkeypatch
):
    """autoBroadcastJoinThreshold=-1 means the admin DISABLED broadcasting;
    the broadcast route's explicit hint would override that and ship an
    arbitrarily large fp set (review F4). The same small append that the
    session's default threshold keeps on the broadcast route must go
    through the mirror once broadcasting is disabled."""
    sf, snap = _appended(spark, tmp_path, monkeypatch)
    default = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        disabled, used_d = _delta_at_threshold(
            spark, monkeypatch, sf, snap, "-1"
        )
        dflt, used_dflt = _delta_at_threshold(
            spark, monkeypatch, sf, snap, default
        )
        assert used_d and not used_dflt
        assert disabled == dflt
    finally:
        _drop_winnow_mirrors(spark)


def test_stale_pairs_family_gc(tmp_path, monkeypatch):
    """A WINNOW_FPS algo bump must reclaim old fa<N> pairs dirs (review
    F5) through the same older-algo-version GC the base families use."""
    monkeypatch.setitem(sig.FAMILY_ALGO_VERSION, sig.WINNOW_FPS, 3)
    parent = tmp_path / "corpuskey"
    cur_dir = parent / "winnow_pairs-df64-fa3"
    old_dir = parent / "winnow_pairs-df64-fa2"
    other_df = parent / "winnow_pairs-df32-fa2"  # different df param
    base = parent / "winnow_fps.a2"  # the fingerprint family itself
    for d in (cur_dir, old_dir, other_df, base):
        d.mkdir(parents=True)
    sig._gc_stale_algo_versions(str(cur_dir))
    assert cur_dir.is_dir(), "current version must survive"
    assert not old_dir.exists(), "older fa version reclaimed"
    assert other_df.is_dir(), "a different max_df family is not ours to GC"
    assert base.is_dir(), "another family's stem is not ours to GC"
