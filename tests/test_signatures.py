"""Content-keyed signature tables: build once, reuse while the corpus is
unchanged, rebuild into a fresh version on change, append only new parts,
and replay a crashed append without duplicating rows."""

SF = "/root/testdata/sf0.001"


def test_ensure_signature_table_caches_and_detects_staleness(spark, tmp_path, monkeypatch):
    """The registered-query route: first call materializes, second call
    reuses the table without rewriting; touching an existing corpus part
    (changed mtime) triggers a full rebuild into a NEW version directory —
    stale tables are never read, and a reader holding the old version keeps
    a stable snapshot until the next rebuild GCs it."""
    import os
    import shutil

    import deed_ocr_spark.signatures as sig

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "sigcache"))
    # copy the corpus so we can touch it without writing to /root/testdata
    corpus = tmp_path / "sf"
    corpus.mkdir()
    shutil.copy(f"{SF}/documents.parquet", corpus / "documents.parquet")

    p1 = sig.ensure_signature_table(spark, str(corpus), sig.SHINGLES)
    n1 = sig.read_signature_table(spark, p1).count()
    parts1 = {f: os.path.getmtime(os.path.join(p1, f)) for f in os.listdir(p1)}
    assert sig.ensure_signature_table(spark, str(corpus), sig.SHINGLES) == p1
    parts_again = {f: os.path.getmtime(os.path.join(p1, f)) for f in os.listdir(p1)}
    assert parts_again == parts1, "unchanged corpus must not rewrite anything"

    old_reader = sig.read_signature_table(spark, p1)  # planned pre-rebuild
    os.utime(corpus / "documents.parquet")  # simulate regenerated data
    p2 = sig.ensure_signature_table(spark, str(corpus), sig.SHINGLES)
    assert p2 != p1, "rebuild lands in a fresh version directory"
    assert os.path.dirname(p2) == os.path.dirname(p1)
    assert sig._read_manifest(p2) == sig._corpus_listing(str(corpus))
    assert sig.read_signature_table(spark, p2).count() == n1
    # versioned swap: the pre-rebuild reader still scans its snapshot
    assert old_reader.count() == n1
    # second rebuild GCs the oldest version; the pointer tracks the newest
    os.utime(corpus / "documents.parquet")
    p3 = sig.ensure_signature_table(spark, str(corpus), sig.SHINGLES)
    assert p3 not in (p1, p2)
    assert not os.path.isdir(p1), "versions two rebuilds back are GC'd"
    assert os.path.isdir(p2), "the immediate predecessor survives one cycle"


def test_ensure_signature_table_incremental_append(spark, tmp_path, monkeypatch):
    """New corpus parts landing beside untouched old parts must cost one
    pass over ONLY the new files (append), old signature files physically
    untouched — and the result must equal a from-scratch build over the
    combined corpus. The 100 TB maintenance shape."""
    import os

    import pyarrow.parquet as pq

    import deed_ocr_spark.signatures as sig

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "sigcache"))
    tbl = pq.read_table(f"{SF}/documents.parquet")
    half = tbl.num_rows // 2
    corpus = tmp_path / "sf" / "documents.parquet"
    corpus.mkdir(parents=True)
    pq.write_table(tbl.slice(0, half), corpus / "part-000.parquet")

    p = sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.BANDS)
    old_files = {
        f: os.path.getmtime(os.path.join(p, f))
        for f in os.listdir(p)
        if f.endswith(".parquet")
    }
    n_half = sig.read_signature_table(spark, p).count()

    pq.write_table(tbl.slice(half), corpus / "part-001.parquet")
    p2 = sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.BANDS)
    assert p2 == p
    for f, mt in old_files.items():  # append: old signature files untouched
        assert os.path.getmtime(os.path.join(p, f)) == mt, f
    got = {tuple(r) for r in sig.read_signature_table(spark, p2).collect()}
    # two LSH bands per document
    assert len(got) == 2 * tbl.num_rows and n_half < 2 * tbl.num_rows

    # equality vs a from-scratch build over the combined corpus
    scratch = tmp_path / "scratch"
    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(scratch))
    p3 = sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.BANDS)
    want = {tuple(r) for r in sig.read_signature_table(spark, p3).collect()}
    assert got == want


def test_ensure_signature_table_append_replay_is_idempotent(spark, tmp_path, monkeypatch):
    """Crash-window replay: if the process dies AFTER the add-directory
    rename but BEFORE the manifest update, the next call must repair the
    manifest WITHOUT duplicating signatures (duplicate shingle rows would
    silently corrupt d7's Jaccard sizes)."""
    import os

    import pyarrow.parquet as pq

    import deed_ocr_spark.signatures as sig

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "sigcache"))
    tbl = pq.read_table(f"{SF}/documents.parquet")
    half = tbl.num_rows // 2
    corpus = tmp_path / "sf" / "documents.parquet"
    corpus.mkdir(parents=True)
    pq.write_table(tbl.slice(0, half), corpus / "part-000.parquet")
    p = sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES)
    pre_append_manifest = sig._read_manifest(p)

    pq.write_table(tbl.slice(half), corpus / "part-001.parquet")
    sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES)
    n_after = sig.read_signature_table(spark, p).count()

    # simulate the crash: roll the manifest back to its pre-append state
    # (the add-directory is already in place)
    sig._write_manifest(p, pre_append_manifest)
    sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES)
    assert sig.read_signature_table(spark, p).count() == n_after, "replay duplicated rows"
    assert sig._read_manifest(p) != pre_append_manifest


def test_ensure_signature_table_replay_with_grown_part_set(spark, tmp_path, monkeypatch):
    """The harder crash replay: the add-dir for part-001 landed but the
    manifest did not, and part-002 arrives BEFORE the next invocation. The
    next call must compute signatures for part-002 ONLY — recomputing
    part-001 (whose add-dir is already on disk) would duplicate its rows."""
    import pyarrow.parquet as pq

    import deed_ocr_spark.signatures as sig

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "sigcache"))
    tbl = pq.read_table(f"{SF}/documents.parquet")
    third = tbl.num_rows // 3
    corpus = tmp_path / "sf" / "documents.parquet"
    corpus.mkdir(parents=True)
    pq.write_table(tbl.slice(0, third), corpus / "part-000.parquet")
    p = sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES)
    m0 = sig._read_manifest(p)

    pq.write_table(tbl.slice(third, third), corpus / "part-001.parquet")
    sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES)
    # crash: manifest rolled back to pre-append; part-002 lands meanwhile
    sig._write_manifest(p, m0)
    pq.write_table(tbl.slice(2 * third), corpus / "part-002.parquet")
    sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES)

    got = sig.read_signature_table(spark, p)
    n_docs = got.select("doc_id").distinct().count()
    assert n_docs == tbl.num_rows
    # no doc's shingle set duplicated: every (doc_id, sh) pair is unique
    assert got.count() == got.distinct().count(), "replay duplicated rows"

    # equality vs a from-scratch build on the full corpus
    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "scratch"))
    p3 = sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES)
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in sig.read_signature_table(spark, p3).collect()
    }
