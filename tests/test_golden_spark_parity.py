"""Spark-vs-golden parity and golden regression fixtures.

SURVEY.md §5.2-2/3: the Spark pipeline must emit byte-identical
``(kind, text, media_ref, order)`` sequences per doc_id under any
partitioning — order is data, not row position.
"""

import json
import pathlib

import pytest

from deed_ocr_spark.corpus import corpus_df, doc_id_for, gen_doc
from deed_ocr_spark.golden import doc_summary, extract_doc
from deed_ocr_spark.job import extract_spans, extract_summaries

N_DOCS = 120
SEED = 42

GOLDEN_PATH = pathlib.Path(__file__).parent / "golden" / "spans_expected.jsonl"


def _golden_map():
    return {
        doc_id_for(i): extract_doc(gen_doc(doc_id_for(i), SEED)["spans"])
        for i in range(N_DOCS)
    }


def test_golden_regression_fixtures():
    """Committed golden sequences guard the kernels against silent drift."""
    assert GOLDEN_PATH.exists(), "run tools/gen_goldens.py to create fixtures"
    committed = {}
    with open(GOLDEN_PATH) as f:
        for line in f:
            rec = json.loads(line)
            committed[rec["doc_id"]] = [tuple(s) for s in rec["spans"]]
    live = _golden_map()
    assert set(committed) == set(live)
    for doc_id, exp in committed.items():
        assert live[doc_id] == exp, f"kernel drift on {doc_id}"


@pytest.mark.parametrize("n_partitions", [1, 7])
def test_spark_matches_golden_any_partitioning(spark, n_partitions):
    df = corpus_df(spark, N_DOCS, seed=SEED, n_partitions=4)
    out = extract_spans(df, n_partitions=n_partitions)
    rows = out.orderBy("doc_id", "order").collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], []).append(
            (r["order"], r["kind"], r["text"], r["media_ref"], r["src_kind"])
        )
    exp = _golden_map()
    assert set(got) == set(exp)
    for doc_id in exp:
        assert got[doc_id] == exp[doc_id], doc_id


def test_spark_summaries_match_golden(spark):
    df = corpus_df(spark, 60, seed=SEED, n_partitions=3)
    rows = extract_summaries(df, n_partitions=5).collect()
    assert len(rows) == 60
    for r in rows:
        exp = doc_summary(gen_doc(r["doc_id"], SEED)["spans"])
        assert r["n_pages"] == exp["n_pages"]
        assert r["n_spans"] == exp["n_spans"]
        assert r["n_media"] == exp["n_media"]
        assert r["combined_chars"] == exp["combined_chars"]
        assert list(r["legal_description_block"]) == exp["legal_description_block"]
        assert list(r["trs"]) == exp["trs"]
        assert r["details_json"] == exp["details_json"]


def test_golden_summaries_regression_fixtures():
    """Committed summary records (incl. the structured details_json — the
    reference's final_result analog) guard the merge semantics."""
    path = pathlib.Path(__file__).parent / "golden" / "summaries_expected.jsonl"
    assert path.exists(), "run tools/gen_goldens.py to create fixtures"
    n_details = n_parties = 0
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            live = doc_summary(gen_doc(rec["doc_id"], SEED)["spans"])
            assert {"doc_id": rec["doc_id"], **live} == rec, rec["doc_id"]
            d = json.loads(rec["details_json"])
            n_details += bool(d)
            n_parties += "parties" in d
    # the corpus must actually exercise the record (not vacuous fixtures)
    assert n_details >= 60 and n_parties >= 20


def test_output_schema_types(spark):
    df = corpus_df(spark, 5, seed=SEED, n_partitions=1)
    out = extract_spans(df)
    fields = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert fields == {
        "doc_id": "string",
        "order": "int",
        "kind": "string",
        "text": "string",
        "media_ref": "string",
        "src_kind": "string",
        "status": "string",
    }
    # media spans carry refs, text spans carry "" (not null) — dtype trap
    sample = out.collect()
    for r in sample:
        if r["kind"] == "media_ref":
            assert r["media_ref"].startswith("img://") and r["text"] == ""
        else:
            assert r["media_ref"] == "" and r["text"] is not None


def test_descriptions_confidence_parity_and_p6_filter(spark):
    """x5: per-description rows match the golden executor's
    find_descriptions_in_pages exactly; the P6 threshold (llm.py:109-118)
    keeps only confidence > 0.5."""
    from deed_ocr_spark.extract import (
        DESC_OUT_DDL,
        extract_descriptions_batches_arrow,
    )
    from deed_ocr_spark.golden import extract_doc
    from deed_ocr_spark.kernels.legal import find_descriptions_in_pages
    from pyspark.sql import functions as F

    df = corpus_df(spark, 60, seed=SEED, n_partitions=3)
    all_rows = df.select("doc_id", "spans").mapInArrow(
        extract_descriptions_batches_arrow, DESC_OUT_DDL
    )
    kept = all_rows.filter(F.col("confidence") > 0.5).collect()
    got = {}
    for r in kept:
        got.setdefault(r["doc_id"], []).append(
            (r["page_number"], r["text"], r["confidence"])
        )
    n_exp_total = 0
    for i in range(60):
        doc_id = doc_id_for(i)
        spans = extract_doc(gen_doc(doc_id, SEED)["spans"])
        pages = [t for _, k, t, _, _ in spans if k == "text"]
        descs = find_descriptions_in_pages(pages)
        n_exp_total += len(descs)
        exp = [
            (d.page_number, d.text, d.confidence)
            for d in descs
            if d.confidence > 0.5
        ]
        assert sorted(got.get(doc_id, [])) == sorted(exp), doc_id
    # the filter must actually drop something somewhere (0.5-confidence
    # matches exist in the corpus) — otherwise the test is vacuous
    n_kept = sum(len(v) for v in got.values())
    assert 0 < n_kept < n_exp_total


def test_arrow_and_pandas_extraction_paths_identical(spark):
    """The mapInArrow route (columnar list_flatten explode) must be
    row-identical to the pandas explode + extract functions evaluated
    locally on the collected input — including null spans arrays, empty
    arrays, null text/media_ref, and duplicate offsets (stable tie
    order)."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from deed_ocr_spark.extract import _explode_batch, _extract_flat

    def via_spark(df):
        return sorted(tuple(r) for r in extract_spans(df).collect())

    def via_local(df):
        flat = _explode_batch(df.select("doc_id", "spans").toPandas())
        out = _extract_flat(flat)
        return sorted(
            (d, int(o), *rest)
            for d, o, *rest in out.itertuples(index=False, name=None)
        )

    df = corpus_df(spark, 80, seed=SEED, n_partitions=3)
    assert via_spark(df) == via_local(df)

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField(
                "spans",
                ArrayType(
                    StructType(
                        [
                            StructField("kind", StringType()),
                            StructField("text", StringType()),
                            StructField("media_ref", StringType()),
                            StructField("offset", IntegerType()),
                        ]
                    )
                ),
            ),
        ]
    )
    nasty = spark.createDataFrame(
        [
            ("d1", None),
            ("d2", []),
            ("d3", [("text", None, None, 5), ("media", None, "m:1", 5), ("text", "x", None, 0)]),
            ("d4", [("html", "<p>hi</p>", "", 3), ("text", "", "", 3)]),
            # null struct element and null-offset span: both DROPPED by the
            # shared _span_valid rule (struct children don't inherit the
            # parent's validity in Arrow — the garbage-row trap)
            ("d5", [None, ("text", "keep", "", 1), ("text", "no-offset", "", None)]),
        ],
        schema,
    )
    a2 = via_spark(nasty)
    assert a2 == via_local(nasty) and len(a2) == 6
    assert sum(1 for r in a2 if r[0] == "d5") == 1
