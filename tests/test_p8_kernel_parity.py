"""p8_confidence_score must reproduce the reference kernel formula
(kernels/legal.py:traditional_confidence ≡ extractors/llm.py:143-165)
exactly: the relational query, the Python kernel, and the planted-fixture
derivation are held to the same number per document.

Also asserts the fixture is non-vacuous: the proximity branch and both
length thresholds fire BOTH ways across the tier, so the oracle hash check
verifies the reference semantics rather than a constant.

p7_watermark_clean is held to the watermark kernel
(kernels/textops.py:clean_watermarks) the same way.
"""

import hashlib

import pyarrow as pa
import pyarrow.parquet as pq

from deed_ocr_spark.kernels.legal import traditional_confidence
from deed_ocr_spark.kernels.textops import clean_watermarks
from deed_ocr_spark.queries.relational import p7_watermark_clean, p8_confidence_score

SF = "/root/testdata/sf0.001"


def _python_reference(doc_id: int, text: str) -> tuple[int, float]:
    if doc_id % 4 == 0:
        full = "LEGAL DESCRIPTION: " + text
    elif doc_id % 4 == 1:
        full = text + " pad" * (doc_id % 200) + " described as follows"
    elif doc_id % 4 == 2:
        full = "Property Description" + " pad" * (doc_id % 200) + text
    else:
        full = text
    start = doc_id % 40  # 0-based == SQL substring(1 + start)
    mt = full[start : start + 80 + doc_id % 180]
    return len(mt), traditional_confidence(mt, full)


def test_p8_matches_reference_kernel_exactly(spark):
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    got = {
        r["doc_id"]: (r["match_len"], r["confidence"])
        for r in p8_confidence_score(spark, SF).collect()
    }
    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        want_len, want_conf = _python_reference(doc_id, text)
        assert got[doc_id][0] == want_len, doc_id
        assert abs(got[doc_id][1] - want_conf) < 1e-12, doc_id


def test_p8_fixture_is_non_vacuous(spark):
    rows = p8_confidence_score(spark, SF).collect()
    confs = sorted({round(r["confidence"], 1) for r in rows})
    # every branch fires somewhere: base-only, +proximity, +length tiers, cap
    assert 0.5 in confs and 0.9 in confs and len(confs) >= 4
    lens = [r["match_len"] for r in rows]
    assert any(x <= 100 for x in lens) and any(x > 200 for x in lens)


# Watermark, space-run and newline-run cases; the testdata tiers contain
# none of these, so they are planted beside the sf0.001 documents.
WM_PLANTED = [
    "Hello UNOFFICIAL COPY world",
    "UNOFFICIAL COPY UNOFFICIAL COPY doubled",
    "partial UNO leftover",
    "a\n\n\n\nb  c   d",
    " a\n\n \n\nb  ",
    "clean text stays",
    "",
]
# Cleaned text that would begin or end in a newline/tab: p7's SQL trim()
# strips spaces only, the kernel's str.strip() (the reference cleanup)
# strips all whitespace, so these rows disagree.
P7_EDGE_WHITESPACE = [
    "  UNOFFICIAL COPY  \n\n\n UNO \n x ",
    "\nlead newline",
    "tail tab\t",
]


def test_clean_watermarks_matches_p7_query(spark, tmp_path):
    """p7's oracle-backed relational regexp chain emits md5/length of the
    cleaned text; the kernel applied locally to the collected documents
    must agree on every document, and the known edge-whitespace
    difference is pinned."""
    docs = pq.read_table(f"{SF}/documents.parquet").column("text").to_pylist()
    texts = docs + WM_PLANTED + P7_EDGE_WHITESPACE
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
        tmp_path / "documents.parquet",
    )
    rel = {
        r["doc_id"]: (r["clean_md5"], r["clean_len"])
        for r in p7_watermark_clean(spark, str(tmp_path)).collect()
    }
    local = {}
    for doc_id, text in enumerate(texts):
        cleaned = clean_watermarks(text)
        local[doc_id] = (
            hashlib.md5(cleaned.encode("utf-8")).hexdigest(),
            len(cleaned),
        )
    assert set(rel) == set(local)
    n_agree = len(texts) - len(P7_EDGE_WHITESPACE)
    assert all(rel[i] == local[i] for i in range(n_agree))
    assert all(rel[i] != local[i] for i in range(n_agree, len(texts)))
