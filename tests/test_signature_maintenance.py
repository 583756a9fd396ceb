"""Round-5 signature-table maintenance guarantees: secure cache root,
local-corpus fail-fast, advisory single-maintainer lock (dead-holder
takeover, live-holder wait, cross-process exclusion), add-dir compaction,
and the durable media family behind the registered m1."""

import json
import os
import shutil
import threading

import pytest

import deed_ocr_spark.signatures as sig

SF = "/root/testdata/sf0.001"


# --- secure cache root --------------------------------------------------------
def test_secure_cache_root_rejects_symlink(tmp_path):
    """A planted symlink at the cache-root path must not be trusted: whoever
    controls the target controls the signature rows served to d7/d13."""
    target = tmp_path / "elsewhere"
    target.mkdir()
    link = tmp_path / "root-link"
    os.symlink(target, link)
    with pytest.raises(RuntimeError, match="not a plain directory"):
        sig._secure_cache_root(str(link))


def test_secure_cache_root_creates_private_dir(tmp_path):
    root = tmp_path / "fresh" / "cache"
    assert sig._secure_cache_root(str(root)) == str(root)
    assert (os.stat(root).st_mode & 0o777) == 0o700
    assert os.stat(root).st_uid == os.getuid()


# --- local-filesystem fail-fast ----------------------------------------------
def test_corpus_listing_rejects_object_store_paths():
    """Staleness detection is os.stat-based; an s3a:// corpus must fail
    with a clear message, not a FileNotFoundError deep inside d7."""
    with pytest.raises(ValueError, match="non-local corpus path") as exc:
        sig._corpus_listing("s3a://bucket/sf0.01")
    # the message must not point at an API that no longer exists
    assert "materialize_signatures" not in str(exc.value)
    with pytest.raises(ValueError, match="non-local corpus path"):
        sig.ensure_signature_table(None, "hdfs://nn/sf0.01", sig.SHINGLES)


# --- advisory maintenance lock -------------------------------------------------
def test_lock_dead_holder_is_taken_over(tmp_path):
    fam = str(tmp_path / "fam")
    os.makedirs(fam)
    # a pid that cannot exist on Linux (> kernel.pid_max ceiling of 2^22)
    with open(os.path.join(fam, "_lock"), "w") as f:
        json.dump({"pid": 2**22 + 12345, "ts": 0.0}, f)
    with sig._maintenance_lock(fam, timeout=5.0):
        with open(os.path.join(fam, "_lock")) as f:
            assert json.load(f)["pid"] == os.getpid()
    assert not os.path.exists(os.path.join(fam, "_lock"))


def test_lock_live_holder_makes_contender_wait_then_timeout(tmp_path):
    fam = str(tmp_path / "fam")
    with sig._maintenance_lock(fam):
        with pytest.raises(TimeoutError):
            with sig._maintenance_lock(fam, timeout=0.3):
                pass  # pragma: no cover


def _lock_worker(fam: str, log_path: str, n_iters: int):
    import deed_ocr_spark.signatures as s

    for _ in range(n_iters):
        with s._maintenance_lock(fam, timeout=60.0):
            # the critical section: read-modify-write a shared counter; any
            # mutual-exclusion violation loses increments
            try:
                with open(log_path) as f:
                    v = int(f.read())
            except OSError:
                v = 0
            with open(log_path + ".tmp", "w") as f:
                f.write(str(v + 1))
            os.replace(log_path + ".tmp", log_path)


def test_lock_excludes_across_processes(tmp_path):
    import multiprocessing as mp

    fam = str(tmp_path / "fam")
    log = str(tmp_path / "counter")
    ctx = mp.get_context("fork")
    procs = [
        ctx.Process(target=_lock_worker, args=(fam, log, 25)) for _ in range(4)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
        assert p.exitcode == 0
    with open(log) as f:
        assert int(f.read()) == 4 * 25, "lost update ⇒ lock failed to exclude"


def test_concurrent_ensure_builds_exactly_one_version(spark, tmp_path, monkeypatch):
    """bench + driver racing ensure_signature_table on one corpus key must
    serialize: every caller gets the same version dir, the table holds no
    duplicate rows, and exactly one version exists."""
    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    corpus = tmp_path / "sf"
    corpus.mkdir()
    shutil.copy(f"{SF}/documents.parquet", corpus / "documents.parquet")

    results, errors = [], []

    def run():
        try:
            results.append(
                sig.ensure_signature_table(spark, str(corpus), sig.SHINGLES)
            )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not errors and len(set(results)) == 1
    fam_dir = os.path.dirname(results[0])
    assert len(sig._version_names(fam_dir)) == 1
    tbl = sig.read_signature_table(spark, results[0])
    assert tbl.count() == tbl.distinct().count()


# --- add-dir compaction --------------------------------------------------------
def _chunked_corpus(tmp_path, n_parts: int):
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF}/documents.parquet")
    step = tbl.num_rows // n_parts
    corpus = tmp_path / "sf" / "documents.parquet"
    corpus.mkdir(parents=True)
    slices = []
    for i in range(n_parts):
        hi = tbl.num_rows if i == n_parts - 1 else (i + 1) * step
        slices.append((f"part-{i:03d}.parquet", tbl.slice(i * step, hi - i * step)))
    return corpus, slices


def test_compaction_folds_add_dirs_row_identically(spark, tmp_path, monkeypatch):
    import pyarrow.parquet as pq

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    corpus, slices = _chunked_corpus(tmp_path, 4)
    name, data = slices[0]
    pq.write_table(data, corpus / name)
    p = sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES)
    for name, data in slices[1:]:  # three appends → three add dirs
        pq.write_table(data, corpus / name)
        assert sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES) == p
    assert len(sig._add_dirs(p)) == 3
    before = {tuple(r) for r in sig.read_signature_table(spark, p).collect()}
    manifest_parts = sig._processed_parts(p, sig._read_manifest(p))

    # the corpus is unchanged; lowering the accumulation bound to the
    # current add-dir count makes the next ensure compact
    monkeypatch.setattr(sig, "SIG_COMPACT_AFTER", 3)
    p2 = sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES)
    assert p2 != p
    assert len(sig._add_dirs(p2)) == 0
    assert len(sig._parquet_sizes(p2)) <= 1, "tiny table binpacks to one file"
    assert sig._read_manifest(p2) == manifest_parts, "processed parts carried over"
    assert {tuple(r) for r in sig.read_signature_table(spark, p2).collect()} == before
    # idempotent: the compacted table is judged current (no rebuild, no
    # second compaction)
    assert sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES) == p2


def test_auto_compaction_after_accumulated_appends(spark, tmp_path, monkeypatch):
    import pyarrow.parquet as pq

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    monkeypatch.setattr(sig, "SIG_COMPACT_AFTER", 2)
    corpus, slices = _chunked_corpus(tmp_path, 3)
    name, data = slices[0]
    pq.write_table(data, corpus / name)
    p = sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES)
    pq.write_table(slices[1][1], corpus / slices[1][0])
    assert sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES) == p
    pq.write_table(slices[2][1], corpus / slices[2][0])
    p2 = sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES)
    assert p2 != p and len(sig._add_dirs(p2)) == 0
    # equality vs a from-scratch build over the combined corpus
    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "scratch"))
    p3 = sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES)
    assert {tuple(r) for r in sig.read_signature_table(spark, p2).collect()} == {
        tuple(r) for r in sig.read_signature_table(spark, p3).collect()
    }


def test_algo_version_bump_orphans_and_reclaims_old_family(
    spark, tmp_path, monkeypatch
):
    """A FAMILY_ALGO_VERSION bump must (a) resolve to a NEW family dir —
    tables built by the old kernel are never served — and (b) reclaim the
    old dir (a full signature-table copy, plus any bucketed mirrors under
    it) at the next ensure call, not leak it forever."""
    import pyarrow.parquet as pq

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    corpus, slices = _chunked_corpus(tmp_path, 1)
    pq.write_table(slices[0][1], corpus / slices[0][0])
    p1 = sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES)
    old_fam = os.path.dirname(p1)
    assert old_fam.endswith(sig.SHINGLES)  # version 1 → bare family name

    monkeypatch.setitem(sig.FAMILY_ALGO_VERSION, sig.SHINGLES, 2)
    p2 = sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES)
    assert os.path.dirname(p2).endswith(f"{sig.SHINGLES}.a2")
    assert not os.path.exists(old_fam), "v1 family dir reclaimed"
    # same corpus, same rows — only the cache location moved
    assert sig.read_signature_table(spark, p2).count() > 0
    # current version is stable across calls and never self-GCs
    assert sig.ensure_signature_table(spark, str(tmp_path / "sf"), sig.SHINGLES) == p2
    assert os.path.isdir(p2)


# --- durable media family (m1's table) -----------------------------------------
def test_media_table_matches_inline_pipeline(spark, tmp_path, monkeypatch):
    from deed_ocr_spark.corpus import corpus_df
    from deed_ocr_spark.job import extract_spans
    from deed_ocr_spark.multimodal import ensure_media_table, synth_media_table

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    p = ensure_media_table(spark, 150, seed=42)
    got = {
        tuple(r)
        for r in sig.read_signature_table(spark, p)
        .select("doc_id", "media_ref", "media_kind", "payload")
        .collect()
    }
    want = {
        tuple(r)
        for r in synth_media_table(extract_spans(corpus_df(spark, 150, seed=42)))
        .select("doc_id", "media_ref", "media_kind", "payload")
        .collect()
    }
    assert got == want and got


def test_media_table_chunk_growth_appends(spark, tmp_path, monkeypatch):
    """Corpus growth by whole chunks is per-doc work ⇒ an APPEND: old media
    parquet untouched, result equal to a from-scratch build."""
    import deed_ocr_spark.multimodal as mm

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    monkeypatch.setattr(mm, "MEDIA_CHUNK_DOCS", 50)
    p = mm.ensure_media_table(spark, 100, seed=7)
    old_files = {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _dirs, fs in os.walk(p)
        for f in fs
        if f.endswith(".parquet")
    }
    assert old_files, "partitioned layout must still land parquet files"
    p2 = mm.ensure_media_table(spark, 200, seed=7)
    assert p2 == p, "chunk-aligned growth appends into the same version"
    for f, mt in old_files.items():
        assert os.path.getmtime(f) == mt, f
    got = {tuple(r) for r in sig.read_signature_table(spark, p2).drop("meta").collect()}
    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "scratch"))
    p3 = mm.ensure_media_table(spark, 200, seed=7)
    want = {tuple(r) for r in sig.read_signature_table(spark, p3).drop("meta").collect()}
    assert got == want and got


def test_media_table_tail_growth_rebuilds(spark, tmp_path, monkeypatch):
    """Growth that splits the tail chunk changes an existing part's
    fingerprint ⇒ full rebuild into a new version (correctness over
    cleverness: a partial chunk is never extended in place)."""
    import deed_ocr_spark.multimodal as mm

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    monkeypatch.setattr(mm, "MEDIA_CHUNK_DOCS", 80)
    p = mm.ensure_media_table(spark, 40, seed=7)  # tail-0-40
    p2 = mm.ensure_media_table(spark, 120, seed=7)  # chunk-000000 + tail-80-120
    assert p2 != p
    n_docs = (
        sig.read_signature_table(spark, p2).select("doc_id").distinct().count()
    )
    assert n_docs > 0


def test_media_table_smaller_tier_reuses_superset(spark, tmp_path, monkeypatch):
    """A smaller corpus asking AFTER a larger one must be served from the
    existing superset table (no rebuild — the round-5 review's tier-thrash
    finding), with the doc-range filter selecting exactly its documents."""
    import deed_ocr_spark.multimodal as mm

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    monkeypatch.setattr(mm, "MEDIA_CHUNK_DOCS", 50)
    p_big = mm.ensure_media_table(spark, 150, seed=9)
    files = sorted(os.listdir(p_big))
    p_small = mm.ensure_media_table(spark, 40, seed=9)
    assert p_small == p_big, "smaller tier must not rebuild the family"
    assert sorted(os.listdir(p_big)) == files, "table untouched"
    filtered = mm.media_docs_filter(
        sig.read_signature_table(spark, p_small), 40
    )
    from deed_ocr_spark.corpus import doc_id_for

    ids = {r["doc_id"] for r in filtered.select("doc_id").distinct().collect()}
    assert ids and all(d < doc_id_for(40) for d in ids)
    # and the filtered frame equals a from-scratch 40-doc build
    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "scratch"))
    p_ref = mm.ensure_media_table(spark, 40, seed=9)
    want = {
        tuple(r)
        for r in sig.read_signature_table(spark, p_ref).drop("meta").collect()
    }
    got = {tuple(r) for r in filtered.drop("meta").collect()}
    assert got == want


def test_lock_live_holder_never_stolen_by_age(tmp_path):
    """An old-but-live lock (long rebuild) must NOT be stolen: age-based
    takeover applies only when the holder pid is indeterminate."""
    fam = str(tmp_path / "fam")
    os.makedirs(fam)
    lock = os.path.join(fam, "_lock")
    with open(lock, "w") as f:
        json.dump({"pid": os.getpid(), "ts": 0.0}, f)  # live pid, ancient ts
    os.utime(lock, (0, 0))  # mtime far past stale_after
    with pytest.raises(TimeoutError):
        with sig._maintenance_lock(fam, timeout=0.3, stale_after=1.0):
            pass  # pragma: no cover
    with open(lock) as f:
        assert json.load(f)["pid"] == os.getpid(), "live holder's lock intact"


def test_lock_torn_holder_stolen_only_after_stale_age(tmp_path):
    """A lock with an unreadable holder record is taken over only once it
    is older than stale_after."""
    fam = str(tmp_path / "fam")
    os.makedirs(fam)
    lock = os.path.join(fam, "_lock")
    with open(lock, "w") as f:
        f.write("not json")
    os.utime(lock, (0, 0))
    with sig._maintenance_lock(fam, timeout=5.0, stale_after=1.0):
        with open(lock) as f:
            assert json.load(f)["pid"] == os.getpid()


def test_lock_release_spares_successors_lock(tmp_path):
    """If a holder was superseded (its lock replaced by another pid), its
    release must NOT unlink the successor's lock."""
    fam = str(tmp_path / "fam")
    lock = os.path.join(fam, "_lock")
    other = 2**22 + 999
    with sig._maintenance_lock(fam):
        os.unlink(lock)
        with open(lock, "w") as f:
            json.dump({"pid": other, "ts": 0.0}, f)
    with open(lock) as f:
        assert json.load(f)["pid"] == other, "successor's lock survived"


def test_crashed_tmp_dirs_are_gced(spark, tmp_path, monkeypatch):
    """Build debris from a crashed maintainer (dead pid in the name) is
    removed at the next maintenance; live maintainers' dirs survive."""
    import deed_ocr_spark.multimodal as mm

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    p = mm.ensure_media_table(spark, 30, seed=13)
    fam = os.path.dirname(p)
    dead = 2**22 + 777
    crash_v = os.path.join(fam, f"v-000009-deadbeef00.tmp-{dead}")
    os.makedirs(crash_v)
    crash_add = os.path.join(p, f"_tmp-{dead}")
    os.makedirs(crash_add)
    live_v = os.path.join(fam, f"v-000008-cafecafe00.tmp-{os.getpid()}")
    os.makedirs(live_v)
    with sig._maintenance_lock(fam):
        pass  # make sure GC runs under the normal entry point next
    sig._gc_crashed_tmp(fam)
    assert not os.path.exists(crash_v), "dead full-build tmp removed"
    assert not os.path.exists(crash_add), "dead append tmp removed"
    assert os.path.exists(live_v), "live maintainer's tmp preserved"
    shutil.rmtree(live_v)


def test_ensure_table_reevaluates_listing_under_lock(spark, tmp_path, monkeypatch):
    """The media superset race: a listing snapshotted BEFORE the lock must
    not clobber a bigger table committed while waiting. ensure_table takes
    a callable and re-evaluates it under the lock; if the second
    evaluation matches the manifest, the table is returned untouched and
    build_df is never called."""
    import deed_ocr_spark.multimodal as mm

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    monkeypatch.setattr(mm, "MEDIA_CHUNK_DOCS", 50)
    p_big = mm.ensure_media_table(spark, 100, seed=21)
    big_listing = sig._read_manifest(p_big)
    small_listing = mm._media_listing(40, 21)
    fam = os.path.dirname(p_big)

    calls = []

    def listing():
        calls.append(1)
        # first evaluation (lock-free fast path) sees the STALE small
        # snapshot; the under-lock re-evaluation sees the committed table
        return small_listing if len(calls) == 1 else big_listing

    def never_build(parts):  # pragma: no cover — failing path
        raise AssertionError("stale listing must not trigger a rebuild")

    p = sig.ensure_table(spark, fam, listing, never_build)
    assert p == p_big
    assert len(calls) >= 2, "listing must be re-evaluated under the lock"
    assert sig._read_manifest(p) == big_listing


def test_lock_recycled_pid_is_taken_over(tmp_path):
    """A lock whose pid is alive but whose recorded /proc starttime does
    not match the current process at that pid (pid recycled after a crash
    or reboot) must be stolen — otherwise the family wedges forever."""
    fam = str(tmp_path / "fam")
    os.makedirs(fam)
    lock = os.path.join(fam, "_lock")
    with open(lock, "w") as f:
        json.dump({"pid": os.getpid(), "ts": 0.0, "start": 1}, f)  # wrong start
    with sig._maintenance_lock(fam, timeout=5.0):
        with open(lock) as f:
            rec = json.load(f)
        assert rec["pid"] == os.getpid()
        assert rec["start"] == sig._proc_start(os.getpid())


def test_lock_same_process_start_is_live(tmp_path):
    """The same (pid, starttime) pair as a live process is LIVE no matter
    how old the lock file is."""
    fam = str(tmp_path / "fam")
    os.makedirs(fam)
    lock = os.path.join(fam, "_lock")
    with open(lock, "w") as f:
        json.dump(
            {"pid": os.getpid(), "ts": 0.0, "start": sig._proc_start(os.getpid())},
            f,
        )
    os.utime(lock, (0, 0))
    with pytest.raises(TimeoutError):
        with sig._maintenance_lock(fam, timeout=0.3, stale_after=1.0):
            pass  # pragma: no cover


# --- round-6 ADVICE: takeover TOCTOU + algo-GC locking -------------------------
def test_takeover_spares_live_successor(tmp_path):
    """The round-5 ADVICE TOCTOU: a contender judges a lock stale, but
    before it acts the stale lock is taken over AND a live successor
    acquires a fresh lock at the same path. The delayed removal must NOT
    evict the live successor. _takeover_stale re-judges under the flock
    mutex, so handing it a path that NOW holds a live lock is a no-op."""
    fam = str(tmp_path / "fam")
    os.makedirs(fam)
    lock = os.path.join(fam, "_lock")
    # the contender judged THIS record stale (dead pid)...
    with open(lock, "w") as f:
        json.dump({"pid": 2**22 + 777, "ts": 0.0}, f)
    stale, _, _ = sig._judge_stale(lock, stale_after=1.0)
    assert stale
    # ...but a live successor replaced it before the removal ran
    os.unlink(lock)
    with open(lock, "w") as f:
        json.dump(
            {
                "pid": os.getpid(),
                "ts": 0.0,
                "start": sig._proc_start(os.getpid()),
            },
            f,
        )
    sig._takeover_stale(lock, stale_after=1.0)
    with open(lock) as f:
        assert json.load(f)["pid"] == os.getpid(), "live successor evicted"


def test_takeover_removes_genuinely_stale_lock(tmp_path):
    fam = str(tmp_path / "fam")
    os.makedirs(fam)
    lock = os.path.join(fam, "_lock")
    with open(lock, "w") as f:
        json.dump({"pid": 2**22 + 778, "ts": 0.0}, f)
    sig._takeover_stale(lock, stale_after=1.0)
    assert not os.path.exists(lock)


def test_takeover_mutex_survives_crash_gc(tmp_path):
    """The flock sidecar must not match _gc_crashed_tmp's debris patterns:
    collecting it mid-flock would let two takeovers race again."""
    fam = str(tmp_path / "fam")
    os.makedirs(fam)
    mutex = os.path.join(fam, "_lock.takeover")
    with open(mutex, "w"):
        pass
    sig._gc_crashed_tmp(fam)
    assert os.path.exists(mutex)


def test_algo_gc_skips_old_dir_with_live_maintainer(tmp_path, monkeypatch):
    """_gc_stale_algo_versions must not rmtree an old-algo-version family
    dir whose maintenance lock is held by a LIVE process (mixed-version
    rollout): deleting it would kill the old-code build and free its lock
    for a second old-code maintainer."""
    monkeypatch.setitem(sig.FAMILY_ALGO_VERSION, sig.SHINGLES, 2)
    parent = tmp_path / "corpuskey"
    new_dir = parent / f"{sig.SHINGLES}.a2"
    old_dir = parent / sig.SHINGLES  # implicit v1
    new_dir.mkdir(parents=True)
    old_dir.mkdir()
    (old_dir / "somedata").write_text("x")
    # live old-code maintainer holds the old dir's lock
    with open(old_dir / "_lock", "w") as f:
        json.dump(
            {
                "pid": os.getpid(),
                "ts": 0.0,
                "start": sig._proc_start(os.getpid()),
            },
            f,
        )
    sig._gc_stale_algo_versions(str(new_dir))
    assert old_dir.is_dir(), "locked old-version dir must survive GC"
    os.unlink(old_dir / "_lock")
    sig._gc_stale_algo_versions(str(new_dir))
    assert not old_dir.exists(), "unlocked old-version dir reclaimed"


def test_media_table_partition_pruning(spark, tmp_path, monkeypatch):
    """Round-6: the media family is hive-partitioned by chunk, so a tier
    read's chunk bound prunes whole chunk=N directories at PLANNING time
    (PartitionFilters in the scan) — a small tier over a superset family
    never lists the bigger tiers' files. Rows must equal the pure
    doc_id-filter answer, including rows living in APPEND dirs."""
    import re

    import deed_ocr_spark.multimodal as mm

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    monkeypatch.setattr(mm, "MEDIA_CHUNK_DOCS", 50)
    p = mm.ensure_media_table(spark, 100, seed=11)
    p2 = mm.ensure_media_table(spark, 200, seed=11)  # append path
    assert p2 == p and any(
        n.startswith("add-") for n in os.listdir(p2)
    ), "growth must exercise the partitioned APPEND layout"

    media = mm.read_media_table(spark, p2)
    assert "chunk" in media.columns
    tier = mm.media_docs_filter(media, 40)  # chunk 0 only
    plan = tier._sc._jvm.PythonSQLUtils.explainString(
        tier._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "chunk" in m.group(1), plan

    from deed_ocr_spark.corpus import doc_id_for

    want = {
        tuple(r)
        for r in sig.read_signature_table(spark, p2)
        .filter(f"doc_id < '{doc_id_for(40)}'")
        .select("doc_id", "media_ref", "payload")
        .collect()
    }
    got = {
        tuple(r)
        for r in tier.select("doc_id", "media_ref", "payload").collect()
    }
    assert got == want and got
    # append rows are visible through the partitioned reader
    all_ids = {
        r["doc_id"]
        for r in media.select("doc_id").distinct().collect()
    }
    assert max(all_ids) >= doc_id_for(150), "append dir rows missing"


def test_lock_contender_survives_family_dir_gc(tmp_path):
    """Review F2: the locked algo-version GC rmtrees a family dir WHILE a
    contender waits on its lock. The contender's next os.open lands in a
    deleted directory — it must recreate the dir and acquire, not crash
    with an unhandled FileNotFoundError."""
    import threading
    import time as t

    fam = str(tmp_path / "fam")
    os.makedirs(fam)
    lock = os.path.join(fam, "_lock")
    with open(lock, "w") as f:
        json.dump(
            {
                "pid": os.getpid(),
                "ts": 0.0,
                "start": sig._proc_start(os.getpid()),
            },
            f,
        )  # live holder → contender waits
    acquired, errors = [], []

    def contend():
        try:
            with sig._maintenance_lock(fam, timeout=30.0):
                acquired.append(True)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    th = threading.Thread(target=contend)
    th.start()
    t.sleep(0.4)  # contender is in its wait loop
    shutil.rmtree(fam)  # the GC strikes, lock file and all
    th.join(60)
    assert not errors and acquired, (errors, acquired)
    assert os.path.isdir(fam), "dir recreated by the surviving contender"


def test_takeover_stale_quiet_when_dir_gone(tmp_path):
    sig._takeover_stale(str(tmp_path / "nowhere" / "_lock"), stale_after=1.0)


def test_partitioned_auto_compaction_keeps_chunks_one_file_each(
    spark, tmp_path, monkeypatch
):
    """Review F6: compaction of a hive-partitioned family must preserve
    the partition column AND not multiply files (coalesce+partitionBy
    writes one file per chunk PER TASK) — exactly one file per chunk."""
    import deed_ocr_spark.multimodal as mm

    monkeypatch.setattr(sig, "SIG_CACHE_ROOT", str(tmp_path / "cache"))
    monkeypatch.setattr(mm, "MEDIA_CHUNK_DOCS", 50)
    monkeypatch.setattr(sig, "SIG_COMPACT_AFTER", 2)
    p = mm.ensure_media_table(spark, 100, seed=13)
    before = {
        tuple(r)
        for r in mm.read_media_table(spark, p)
        .select("doc_id", "media_ref", "chunk")
        .collect()
    }
    mm.ensure_media_table(spark, 150, seed=13)  # add dir 1
    p2 = mm.ensure_media_table(spark, 200, seed=13)  # add dir 2 → compact
    assert p2 != p and len(sig._add_dirs(p2)) == 0, "auto-compaction ran"
    got = mm.read_media_table(spark, p2).select(
        "doc_id", "media_ref", "chunk"
    )
    assert {tuple(r) for r in got.filter("chunk < 2").collect()} == before
    for n in os.listdir(p2):
        d = os.path.join(p2, n)
        if n.startswith("chunk=") and os.path.isdir(d):
            files = [m for m in os.listdir(d) if m.endswith(".parquet")]
            assert len(files) == 1, (n, files)
