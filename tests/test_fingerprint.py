"""Winnowing fingerprint kernel + Spark pipeline tests."""

import random

from deed_ocr_spark.kernels.fingerprint import winnow
from deed_ocr_spark.queries.textpipe import QUERIES, d12_winnow_fingerprints

d13_winnow_dup_pairs = QUERIES["d13_winnow_dup_pairs"]  # the registered d13


def _naive(text, k=8, w=4):
    n = len(text)
    if n < k:
        return []
    hs = []
    for i in range(n - k + 1):
        h = 0
        for ch in text[i : i + k]:
            h = (h * 257 + ord(ch)) % (1 << 64)  # mod-2^64 rolling hash
        # the kernel stores (and orders by) the SIGNED int64 bit pattern
        hs.append(h - (1 << 64) if h >= (1 << 63) else h)
    if len(hs) <= w:
        mn = min(hs)
        pos = max(i for i, v in enumerate(hs) if v == mn)
        return [(mn, pos)]
    out = []
    for i in range(len(hs) - w + 1):
        win = hs[i : i + w]
        mn = min(win)
        pos = i + max(j for j, v in enumerate(win) if v == mn)
        if not out or out[-1][1] != pos:
            out.append((hs[pos], pos))
    return out


def test_winnow_matches_naive_reference():
    rng = random.Random(2)
    for _ in range(300):
        t = "".join(rng.choice("abcdef ., ") for _ in range(rng.randint(0, 80)))
        assert winnow(t) == _naive(t), t


def test_shared_substring_guarantee():
    # any shared substring of length >= k+w-1 (=11) must share a fingerprint
    shared = "the lazy dog near the river"
    a = "first document preamble " + shared + " and a tail"
    b = "totally other start text!! " + shared + " different ending"
    fa = {h for h, _ in winnow(a)}
    fb = {h for h, _ in winnow(b)}
    assert fa & fb


def test_spark_winnow_and_pairs(spark):
    fps = d12_winnow_fingerprints(spark, "/root/testdata/sf0.001")
    assert fps.count() > 0
    assert {f.name for f in fps.schema.fields} == {"doc_id", "fp", "pos"}
    pairs = d13_winnow_dup_pairs(spark, "/root/testdata/sf0.001", min_shared=3)
    # synthetic docs share vocabulary; just assert the plan executes and
    # output is well-formed (counts vary with corpus)
    rows = pairs.limit(5).collect()
    for r in rows:
        assert r["doc_a"] < r["doc_b"] and r["shared_fps"] >= 3


def test_df_cap_bounds_hot_fingerprint(spark):
    """One boilerplate fingerprint planted in 1,000 docs must be dropped by
    the document-frequency cap BEFORE the self-join — without it the join
    materializes ~500k rows from that single key."""
    from pyspark.sql import functions as F

    from deed_ocr_spark.queries.textpipe import winnow_dup_pairs_from

    hot = [(i, 777) for i in range(1000)]  # the boilerplate fp, df=1000
    # a genuine dup pair: two docs sharing one rare fingerprint
    rare = [(1, 42), (2, 42)]
    fps = spark.createDataFrame(hot + rare, "doc_id bigint, fp bigint")

    out = winnow_dup_pairs_from(fps, min_shared=1, max_df=64)
    rows = out.collect()
    # only the rare-fp pair survives; zero pairs from the hot key
    assert [(r["doc_a"], r["doc_b"], r["shared_fps"]) for r in rows] == [(1, 2, 1)]
    # and the cap is structural: since round 7 the pairs expand LOCALLY
    # from per-fp doc-set arrays (no self-join exists to protect), so the
    # df cap must be an array-size gate BETWEEN the aggregate and the pair
    # explode — never a post-expansion filter
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "join" not in plan.lower(), plan
    assert "size(ds" in plan, plan
    gen_pos = plan.index("Generate")  # the pair explode
    assert "size(ds" in plan[gen_pos:], plan  # the gate sits below it


def test_winnow_recall_long_verbatim_overlap(spark):
    """min_shared=1 default: a single >=k+w-1-char verbatim overlap between
    exactly two docs is always recalled (the winnowing guarantee)."""
    from deed_ocr_spark.queries.textpipe import winnow_dup_pairs_from

    shared = "xqzv unique verbatim overlap passage jkwy"  # 41 chars > 23
    docs = [
        (1, "lead text one " + shared + " tail one"),
        (2, "other beginning " + shared + " other tail"),
        (3, "completely unrelated content with nothing in common at all"),
    ]
    rows = []
    for doc_id, text in docs:
        for h, p in winnow(text, k=16, w=8):
            rows.append((doc_id, h))
    fps = spark.createDataFrame(rows, "doc_id bigint, fp bigint")
    out = winnow_dup_pairs_from(fps, min_shared=1, max_df=64).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in out] == [(1, 2)]


def test_winnow_arrays_many_matches_scalar_property():
    """The batched kernel (one pass over the concatenated batch) must be
    byte-identical per document to the scalar winnow_arrays for arbitrary
    (k, w) and adversarial inputs: empty docs, docs shorter than k, docs
    with m <= w (single-pick rule), unicode, and repeated characters (tie
    storms exercising the rightmost-min rule)."""
    import random
    import string

    import numpy as np

    from deed_ocr_spark.kernels.fingerprint import winnow_arrays, winnow_arrays_many

    rng = random.Random(11)
    texts = ["", "a", "aaaaaaaaaaaaaaaaaaaa", "ababababab" * 4, "é¼ß" * 10]
    for _ in range(300):
        n = rng.randint(0, 150)
        texts.append(
            "".join(rng.choice(string.ascii_lowercase[:4] + "  ") for _ in range(n))
        )
    for k, w in [(8, 4), (16, 8), (2, 3), (5, 1), (3, 40)]:
        di, hs, ps = winnow_arrays_many(texts, k=k, w=w)
        assert np.all(di[:-1] <= di[1:])  # per-document contiguity
        for i, t in enumerate(texts):
            eh, ep = winnow_arrays(t, k=k, w=w)
            mask = di == i
            assert np.array_equal(hs[mask], eh), (k, w, i, t)
            assert np.array_equal(ps[mask], ep), (k, w, i, t)
