"""Physical-plan audits: lock in the plan properties the scale design
depends on (SURVEY §4.2 / ARCHITECTURE.md). A regression that reintroduces
a shuffle, loses pushdown, or drops a broadcast fails here, not at 100 TB.
"""

import re

from deed_ocr_spark.corpus import corpus_df
from deed_ocr_spark.job import extract_spans
from deed_ocr_spark.queries.relational import (
    j2_join_agg,
    j4_resume_antijoin,
    p1_filter_project,
)
from deed_ocr_spark.queries.textpipe import QUERIES as TEXTPIPE

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_extraction_plan_no_shuffle_and_pruned(spark, tmp_path):
    # write with an extra column; the extraction scan must prune it away
    path = str(tmp_path / "c")
    base = corpus_df(spark, 50, seed=3, n_partitions=2)
    base.withColumn("junk", base["doc_id"].substr(1, 2)).write.parquet(path)
    df = spark.read.parquet(path)
    plan = _plan(extract_spans(df))
    assert "Exchange" not in plan, "default extraction path must not shuffle"
    assert "MapInArrow" in plan  # columnar explode is the production path
    m = re.search(r"ReadSchema: (.+)", plan)
    assert m and "junk" not in m.group(1), "column pruning lost"


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(p1_filter_project(spark, SF))
    assert "PushedFilters:" in plan
    assert "GreaterThan(n_chars,200)" in plan or "n_chars" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_broadcast_join_used(spark):
    plan = _plan(j2_join_agg(spark, SF))
    assert "BroadcastHashJoin" in plan
    plan2 = _plan(j4_resume_antijoin(spark, SF))
    assert "BroadcastHashJoin LeftAnti" in plan2 or (
        "LeftAnti" in plan2 and "Broadcast" in plan2
    )


def test_lsh_pairs_plan_has_no_cartesian(spark):
    plan = _plan(TEXTPIPE["d9_minhash_band_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d7_plan_scans_signature_table_not_corpus(spark):
    """d7 routes through the materialized shingle and bands tables
    (signatures.py): its plan must scan signature parquet — never the
    documents corpus (no re-tokenize), never a session-cache subtree (no
    InMemoryTableScan — the round-3 cache-residency regression), and never
    a cartesian product. Its exchange count is pinned in
    tests/test_bucketed_signatures.py."""
    plan = _plan(TEXTPIPE["d7_ngram_jaccard_pairs"](spark, SF))
    assert "deed_ocr_signatures" in plan or "shingles" in plan
    assert "documents.parquet" not in plan, "d7 must not re-tokenize the corpus"
    assert "InMemoryTableScan" not in plan
    assert "CartesianProduct" not in plan


def test_d13_plan_scans_signature_table_not_corpus(spark):
    plan = _plan(TEXTPIPE["d13_winnow_dup_pairs"](spark, SF))
    assert "winnow_fps" in plan
    assert "documents.parquet" not in plan, "d13 must not re-fingerprint the corpus"
    assert "InMemoryTableScan" not in plan
    assert "CartesianProduct" not in plan


def test_m1_plan_scans_media_table_not_corpus(spark):
    """The registered m1 routes through the durable media table
    (multimodal.ensure_media_table): its plan must scan media parquet —
    never re-extract the corpus (no Range source, no extraction kernel)
    and never lean on session-cache residency (no InMemoryTableScan —
    the pattern class behind the round-3 d7 swing)."""
    from deed_ocr_spark.queries.extraction import m1_multimodal_pipeline

    plan = _plan(m1_multimodal_pipeline(spark, "/root/testdata/sf0.001"))
    assert "media" in plan
    assert "InMemoryTableScan" not in plan
    assert "Range" not in plan, "m1 must not regenerate/re-extract the corpus"
    assert "MapInArrow" not in plan, "extraction kernel must not run inside m1"
    # the family is a per-seed SUPERSET table; the tier's doc-range
    # predicate must reach the parquet scan so row groups beyond the tier
    # are skipped by statistics, not read and filtered
    assert "LessThan(doc_id,doc-" in plan, "tier filter lost pushdown"


def test_x4_details_plan_stays_zero_exchange(spark):
    """The product query (structured details record) must keep the fused
    extraction shape: scan → MapInPandas → project, no shuffle anywhere."""
    from deed_ocr_spark.queries.extraction import x4_doc_details

    plan = _plan(x4_doc_details(spark, SF))
    assert "Exchange" not in plan
    # round 7: corpus synthesis and the summaries kernel are FUSED into a
    # single MapInPandas worker (span payloads never cross the Arrow
    # boundary twice); equality with the unfused MapInArrow pipeline is
    # held by tests/test_fused_extraction.py
    assert plan.count("MapInPandas (") == 1, plan
    assert "MapInArrow" not in plan


def test_documents_scan_prunes_to_used_columns(spark):
    """d1 projects md5(text)+doc_id only — the parquet scan must not read
    lang/source/n_chars (column pruning reaches the scan)."""
    from deed_ocr_spark.queries.textpipe import d1_dedup_exact

    plan = _plan(d1_dedup_exact(spark, SF))
    m = re.search(r"ReadSchema: (.+)", plan)
    assert m, plan
    assert "text" in m.group(1) and "doc_id" in m.group(1)
    assert "lang" not in m.group(1) and "n_chars" not in m.group(1)


def test_ann_candidate_join_is_not_cartesian(spark):
    """e4/e6 candidate generation must be an equi-join on (tbl, bucket).
    The only nested-loop allowed is the broadcast of the constant
    hyperplane set (a handful of rows) onto the scan."""
    from deed_ocr_spark.queries.similarity import (
        e4_lsh_ann_topk,
        e6_embedding_neardup,
    )

    for q in (e4_lsh_ann_topk, e6_embedding_neardup):
        plan = _plan(q(spark, SF))
        assert "CartesianProduct" not in plan
        # the candidate self-join runs on the bucket keys
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_range_join_rides_the_equi_key(spark):
    """j1's date predicate is a residual on the l_orderkey equi-join — it
    must never degrade to a nested-loop/cartesian range join."""
    from deed_ocr_spark.queries.relational import j1_range_join

    plan = _plan(j1_range_join(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
