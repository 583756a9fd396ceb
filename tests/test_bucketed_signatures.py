"""Bucketed signature tables: the exchange-free dedup self-join.

The registered d7/d8/d9/d13 read signature families through catalog
mirrors bucketed on the key their pipeline clusters on. From a plain
parquet signature table every fp-keyed step of d13 (the per-fp doc-set
aggregation feeding the df cap and the pair expansion) shuffles; from a
`bucketBy(fp)` table Spark's subset rule (HashPartitioning(fp) satisfies
any ClusteredDistribution whose keys include fp) makes it exchange-free.
These tests lock row identity of d13 with the same pipeline composed over
the plain version dir, and pin each registered plan's absolute Exchange
count with broadcasting off. Row identity of d7/d8/d9 is the DuckDB
oracles' job (tests/test_queries_oracle.py).
"""

import re

import pytest

import deed_ocr_spark.signatures as sig
from deed_ocr_spark.queries.textpipe import (
    d13b_winnow_dup_pairs_bucketed,
    winnow_dup_pairs_from,
)

SF = "/root/testdata/sf0.01"


def _exchange_ids(plan: str) -> set:
    """Distinct Exchange node ids in a formatted plan (each node appears
    once in the tree and once in the details section)."""
    return set(re.findall(r"Exchange \((\d+)\)", plan))


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _plan_no_broadcast(spark, build) -> str:
    """Formatted plan of ``build()`` with broadcasting off: at 100 TB
    neither join side broadcasts, and the exchange counts must hold on the
    sort-merge path."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return _plan(build())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _plain_d13(spark, sf):
    """d13's pipeline composed over the plain (unbucketed) fingerprint
    version dir — the reference the bucketed registered form must match."""
    version = sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS)
    return winnow_dup_pairs_from(sig.read_signature_table(spark, version))


@pytest.fixture(scope="module")
def bucketed(spark):
    name = sig.ensure_bucketed_signature_table(
        spark, SF, sig.WINNOW_FPS, key="fp"
    )
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_rows_equal_plain_d13(spark, bucketed):
    plain = {tuple(r) for r in _plain_d13(spark, SF).collect()}
    buck = {
        tuple(r)
        for r in d13b_winnow_dup_pairs_bucketed(spark, SF).collect()
    }
    assert buck == plain and buck


def test_bucketed_plan_has_single_exchange(spark, bucketed):
    plan = _plan_no_broadcast(
        spark, lambda: d13b_winnow_dup_pairs_bucketed(spark, SF)
    )
    # every fp-clustered step rides the bucketing; the one exchange left
    # is the final (doc_a, doc_b) pair aggregation. Since round 7 the
    # pair expansion is LOCAL (per-fp doc-set arrays, no self-join), so
    # the plan must also be join-free: one table scan, one bucketed
    # aggregate, the pair explode, the final aggregate.
    assert len(_exchange_ids(plan)) == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 2  # tree + details: ONE scan node
    assert "CartesianProduct" not in plan


def test_plain_plan_shuffles_more(spark, bucketed):
    """The claim is relative: the same pipeline over the plain version
    dir must carry MORE exchanges than the bucketed one — otherwise the
    bucketed mirror is pointless and this module should be deleted."""
    plain = _plan_no_broadcast(spark, lambda: _plain_d13(spark, SF))
    buck = _plan_no_broadcast(
        spark, lambda: d13b_winnow_dup_pairs_bucketed(spark, SF)
    )
    assert len(_exchange_ids(plain)) > len(_exchange_ids(buck)) == 1


def test_stale_generation_dropped_on_rebuild(spark, tmp_path, monkeypatch):
    """A rebuilt family version gets a NEW table name and the stale
    generation is dropped from the catalog."""
    import shutil as sh

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    corpus = tmp_path / "sf"
    corpus.mkdir()
    sh.copy(f"{SF}/documents.parquet", corpus / "documents.parquet")
    n1 = sig.ensure_bucketed_signature_table(
        spark, str(corpus), sig.WINNOW_FPS
    )
    assert spark.catalog.tableExists(n1)
    # touch the corpus → new version → new name, old table dropped
    import os
    import time as t

    p = corpus / "documents.parquet"
    os.utime(p, ns=(t.time_ns(), t.time_ns()))
    n2 = sig.ensure_bucketed_signature_table(
        spark, str(corpus), sig.WINNOW_FPS
    )
    assert n2 != n1
    assert spark.catalog.tableExists(n2)
    assert not spark.catalog.tableExists(n1)
    spark.sql(f"DROP TABLE IF EXISTS {n2}")


def test_band_pairs_bucketed_rows_and_plan(spark):
    """d9 from the bucketed bands family: the only Exchange in the plan is
    the final (doc_a, doc_b) distinct (rows are checked against the
    DuckDB oracle in tests/test_queries_oracle.py)."""
    from deed_ocr_spark.queries.textpipe import (
        d9b_minhash_band_pairs_bucketed,
    )

    name = sig.ensure_bucketed_signature_table(spark, SF, sig.BANDS, key="band")
    try:
        assert d9b_minhash_band_pairs_bucketed(spark, SF).take(1)
        plan = _plan_no_broadcast(
            spark, lambda: d9b_minhash_band_pairs_bucketed(spark, SF)
        )
        assert len(_exchange_ids(plan)) == 1, plan
        # round 7: per-band doc sets expanded locally — join-free plan
        assert "Join" not in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _chunked_corpus(tmp_path, n_parts: int):
    """tmp corpus whose documents.parquet is a DIRECTORY of part files —
    the shape that exercises incremental appends."""
    import pyarrow.parquet as pq

    tbl = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    step = tbl.num_rows // n_parts
    corpus = tmp_path / "sf" / "documents.parquet"
    corpus.mkdir(parents=True)
    slices = []
    for i in range(n_parts):
        hi = tbl.num_rows if i == n_parts - 1 else (i + 1) * step
        slices.append(
            (f"part-{i:03d}.parquet", tbl.slice(i * step, hi - i * step))
        )
    return corpus, slices


def test_bucketed_name_tracks_appends(spark, tmp_path, monkeypatch):
    """An incremental append lands INSIDE the version dir without changing
    its path — the bucketed mirror's name must still change, or the
    tableExists fast path would keep serving rows that silently miss the
    appended documents. The superseded generation's data dir survives one
    cycle for readers that planned before the swap."""
    import os
    import pyarrow.parquet as pq

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    corpus, slices = _chunked_corpus(tmp_path, 2)
    pq.write_table(slices[0][1], corpus / slices[0][0])
    sf = str(tmp_path / "sf")
    n1 = sig.ensure_bucketed_signature_table(spark, sf, sig.WINNOW_FPS)
    rows1 = spark.table(n1).count()
    pq.write_table(slices[1][1], corpus / slices[1][0])
    version_dir = sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS)
    assert len(sig._add_dirs(version_dir)) == 1  # append, not rebuild
    n2 = n1
    try:
        n2 = sig.ensure_bucketed_signature_table(spark, sf, sig.WINNOW_FPS)
        assert n2 != n1, "append must yield a new mirror generation"
        assert not spark.catalog.tableExists(n1)
        expect = {
            tuple(r)
            for r in sig.read_signature_table(spark, version_dir).collect()
        }
        assert {tuple(r) for r in spark.table(n2).collect()} == expect
        assert spark.table(n2).count() > rows1
        # predecessor generation data retained one cycle
        fam = os.path.dirname(version_dir)
        gens = [m for m in os.listdir(fam) if m.startswith("bucketed-")]
        assert len(gens) == 2, gens
    finally:
        for t in (n1, n2):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_name_tracks_bucketing_spec(spark, tmp_path, monkeypatch):
    """A caller asking for a different key, or deriving a different bucket
    count (another SPARK_GRAFT_BUCKET_MB), must get a NEW table, never the
    old layout under the old name."""
    import pyarrow.parquet as pq

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    corpus, slices = _chunked_corpus(tmp_path, 1)
    pq.write_table(slices[0][1], corpus / slices[0][0])
    sf = str(tmp_path / "sf")
    version_dir = sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS)
    default_nb = sig.auto_signature_buckets(version_dir)
    names = {
        sig.ensure_bucketed_signature_table(spark, sf, sig.WINNOW_FPS, key="fp"),
        sig.ensure_bucketed_signature_table(
            spark, sf, sig.WINNOW_FPS, key="doc_id"
        ),
    }
    # a tiny per-bucket target lifts the size-derived count off its floor
    monkeypatch.setenv("SPARK_GRAFT_BUCKET_MB", "0.001")
    assert sig.auto_signature_buckets(version_dir) != default_nb
    names.add(
        sig.ensure_bucketed_signature_table(spark, sf, sig.WINNOW_FPS, key="fp")
    )
    try:
        assert len(names) == 3, names
    finally:
        for t in names:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_cross_corpus_isolation(spark, tmp_path, monkeypatch):
    """Registering one corpus's mirror must not drop another corpus's
    live table for the same family — staleness is scoped per corpus."""
    import pyarrow.parquet as pq

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    names = []
    for sub in ("a", "b"):
        tbl = pq.read_table("/root/testdata/sf0.001/documents.parquet")
        corpus = tmp_path / sub / "documents.parquet"
        corpus.parent.mkdir(parents=True)
        pq.write_table(tbl.slice(0, 100 if sub == "a" else 150), corpus)
        names.append(
            sig.ensure_bucketed_signature_table(
                spark, str(tmp_path / sub), sig.WINNOW_FPS
            )
        )
    try:
        assert names[0] != names[1]
        assert spark.catalog.tableExists(names[0])
        assert spark.catalog.tableExists(names[1])
    finally:
        for t in names:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_reregister_without_rewrite(spark, tmp_path, monkeypatch):
    """A fresh session (catalog forgot the entry, files intact) must
    re-register the existing generation via DDL — same name, zero file
    rewrites, bucketing still honored by the planner."""
    import os
    import pyarrow.parquet as pq

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    corpus, slices = _chunked_corpus(tmp_path, 1)
    pq.write_table(slices[0][1], corpus / slices[0][0])
    sf = str(tmp_path / "sf")
    n1 = sig.ensure_bucketed_signature_table(spark, sf, sig.WINNOW_FPS)
    fam = os.path.dirname(sig.ensure_signature_table(spark, sf, sig.WINNOW_FPS))
    gen = next(m for m in os.listdir(fam) if m.startswith("bucketed-"))
    files_before = {
        f: os.stat(os.path.join(fam, gen, f)).st_mtime_ns
        for f in os.listdir(os.path.join(fam, gen))
    }
    rows = {tuple(r) for r in spark.table(n1).collect()}
    # DROP TABLE on the external table forgets the entry, keeps the files
    spark.sql(f"DROP TABLE {n1}")
    assert os.path.isdir(os.path.join(fam, gen))
    n2 = sig.ensure_bucketed_signature_table(spark, sf, sig.WINNOW_FPS)
    try:
        assert n2 == n1
        files_after = {
            f: os.stat(os.path.join(fam, gen, f)).st_mtime_ns
            for f in os.listdir(os.path.join(fam, gen))
        }
        assert files_after == files_before, "re-register must not rewrite"
        assert {tuple(r) for r in spark.table(n2).collect()} == rows
        # the DDL-registered table still rides the bucketing
        plan = _plan_no_broadcast(
            spark, lambda: spark.table(n2).groupBy("fp").count()
        )
        assert len(_exchange_ids(plan)) == 0, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {n2}")


def test_registered_dedup_queries_are_bucketed_forms(spark):
    """The registry serves the bucketed forms under the plain names (same
    rows, fewer exchanges) — and the registered plans must scan signature
    mirrors, never the corpus."""
    from deed_ocr_spark.queries import QUERIES
    from deed_ocr_spark.queries.textpipe import (
        d7b_ngram_jaccard_pairs_bucketed,
        d8b_minhash_sig_bucketed,
        d9b_minhash_band_pairs_bucketed,
        d13b_winnow_dup_pairs_bucketed,
    )

    assert QUERIES["d13_winnow_dup_pairs"] is d13b_winnow_dup_pairs_bucketed
    assert QUERIES["d9_minhash_band_pairs"] is d9b_minhash_band_pairs_bucketed
    assert QUERIES["d7_ngram_jaccard_pairs"] is d7b_ngram_jaccard_pairs_bucketed
    assert QUERIES["d8_minhash_sig"] is d8b_minhash_sig_bucketed
    for name in (
        "d13_winnow_dup_pairs",
        "d9_minhash_band_pairs",
        "d7_ngram_jaccard_pairs",
        "d8_minhash_sig",
    ):
        plan = _plan(QUERIES[name](spark, SF))
        assert "documents.parquet" not in plan, (name, plan)


def test_minhash_sig_bucketed_rows_and_plan(spark):
    """d8 from the doc_id-bucketed shingles mirror: the per-doc MinHash
    aggregation rides the bucketing — zero exchanges (rows are checked
    against the DuckDB oracle in tests/test_queries_oracle.py)."""
    from deed_ocr_spark.queries.textpipe import d8b_minhash_sig_bucketed

    name = sig.ensure_bucketed_signature_table(
        spark, SF, sig.SHINGLES, key="doc_id"
    )
    try:
        assert d8b_minhash_sig_bucketed(spark, SF).take(1)
        plan = _plan_no_broadcast(
            spark, lambda: d8b_minhash_sig_bucketed(spark, SF)
        )
        assert len(_exchange_ids(plan)) == 0, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_jaccard_bucketed_rows_and_plan(spark):
    """d7 from the doc_id-bucketed shingles mirror and the band-bucketed
    bands mirror. Mixed keys mean it cannot reach one Exchange (the
    candidate pairs and the per-side shingle-set joins genuinely
    shuffle), but every doc_id-clustered step rides the bucketing: the
    plan carries exactly 7 exchanges with broadcasting off (two of them
    the candidate-doc broadcasts the query hints explicitly), the count
    measured when the plain-table twin it used to be compared against
    was deleted. Rows are checked against the DuckDB oracle in
    tests/test_queries_oracle.py."""
    from deed_ocr_spark.queries.textpipe import (
        d7b_ngram_jaccard_pairs_bucketed,
    )

    name = sig.ensure_bucketed_signature_table(
        spark, SF, sig.SHINGLES, key="doc_id"
    )
    try:
        assert d7b_ngram_jaccard_pairs_bucketed(spark, SF).take(1)
        plan = _plan_no_broadcast(
            spark, lambda: d7b_ngram_jaccard_pairs_bucketed(spark, SF)
        )
        assert len(_exchange_ids(plan)) == 7, plan
        # still a real-candidate plan: no cartesian, no cache, no
        # re-tokenization of the corpus
        assert "CartesianProduct" not in plan
        assert "InMemoryTableScan" not in plan
        assert "documents.parquet" not in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_reresolves_version_under_lock(spark, tmp_path, monkeypatch):
    """Round-5 ADVICE: ensure_bucketed_signature_table used to derive its
    token from the version handle captured BEFORE the lock. If the family
    is rebuilt while the caller waits, that handle points at the
    superseded predecessor — the mirror would silently miss the rebuild.
    Simulate the stale capture by monkeypatching ensure_signature_table
    to hand back the predecessor while _CURRENT points at the rebuild."""
    import os
    import shutil as sh
    import time as t

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    corpus = tmp_path / "sf"
    corpus.mkdir()
    sh.copy(f"{SF}/documents.parquet", corpus / "documents.parquet")
    sfp = str(corpus)
    v1 = sig.ensure_signature_table(spark, sfp, sig.WINNOW_FPS)
    os.utime(corpus / "documents.parquet", ns=(t.time_ns(), t.time_ns()))
    v2 = sig.ensure_signature_table(spark, sfp, sig.WINNOW_FPS)
    assert v2 != v1 and os.path.isdir(v1)  # predecessor retained one cycle
    real_ensure = sig.ensure_signature_table
    monkeypatch.setattr(
        sig, "ensure_signature_table", lambda *a, **k: v1
    )
    name = sig.ensure_bucketed_signature_table(spark, sfp, sig.WINNOW_FPS)
    monkeypatch.setattr(sig, "ensure_signature_table", real_ensure)
    try:
        stale_token = sig._bucketed_token(
            v1, "fp", sig.auto_signature_buckets(v1)
        )
        assert not name.endswith(stale_token), "mirror pinned stale version"
        want = {tuple(r) for r in sig.read_signature_table(spark, v2).collect()}
        assert {tuple(r) for r in spark.table(name).collect()} == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_retries_when_stale_version_vanished(
    spark, tmp_path, monkeypatch
):
    """Twice-rebuilt-while-waiting: version GC keeps one predecessor, so
    the pre-lock handle can be GONE — listing it raised an uncaught
    FileNotFoundError before round 6. Now it retries via a fresh
    ensure_signature_table resolution."""
    import shutil as sh

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    corpus = tmp_path / "sf"
    corpus.mkdir()
    sh.copy(f"{SF}/documents.parquet", corpus / "documents.parquet")
    sfp = str(corpus)
    v1 = sig.ensure_signature_table(spark, sfp, sig.WINNOW_FPS)
    ghost = v1 + "-vanished"
    real_ensure = sig.ensure_signature_table
    calls = {"n": 0}

    def first_call_stale(*a, **k):
        calls["n"] += 1
        return ghost if calls["n"] == 1 else real_ensure(*a, **k)

    monkeypatch.setattr(sig, "ensure_signature_table", first_call_stale)
    name = sig.ensure_bucketed_signature_table(spark, sfp, sig.WINNOW_FPS)
    monkeypatch.setattr(sig, "ensure_signature_table", real_ensure)
    try:
        assert calls["n"] >= 2
        want = {tuple(r) for r in sig.read_signature_table(spark, v1).collect()}
        assert {tuple(r) for r in spark.table(name).collect()} == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
