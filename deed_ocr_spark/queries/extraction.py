"""Extraction-pipeline and multimodal queries (non-SQL-expressible).

These run the engine's own kernels over the deterministic synthetic
interleaved corpus: x1 through ``job.extract_spans`` (mapInArrow), x2/x4/x5
through one fused generate+extract ``mapInPandas``. No oracle_sql entries —
these get rows-only checks; semantic correctness is covered by the
golden-executor test suite (tests/test_golden_spark_parity.py) instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from deed_ocr_spark.corpus import corpus_df
from deed_ocr_spark.job import extract_spans

CORPUS_SEED = 42


def _corpus_size(sf_dir: str) -> int:
    # scale the synthetic interleaved corpus with the testdata tier
    if "0.001" in sf_dir:
        return 200
    if "0.01" in sf_dir:
        return 1000
    return 10000


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_df(spark, _corpus_size(sf_dir), seed=CORPUS_SEED)


# --- fused generate+extract kernels (round-7 optimization) -------------------
# The unfused form chains TWO Python stages in one Spark stage:
# range → mapInPandas(generate) → mapInArrow(extract/merge). Even with no
# shuffle between them, every generated span crosses Python→JVM as Arrow,
# is immediately handed back JVM→Python to the second worker, and pays the
# Arrow list<struct> ↔ pandas conversion twice (guide §4.1: you control how
# many columns/bytes cross the boundary). Fusing generation and extraction
# into ONE mapInPandas keeps the span payload inside a single Python worker
# — only the final (small) result rows cross. Same pure functions in the
# same order, so rows are byte-identical to the unfused path
# (tests/test_fused_extraction.py); x1 keeps the unfused shape because the
# bench's flagship measurement feeds extract_spans from a PARQUET corpus
# (the production shape — there generation is the scan).
def _fused_corpus_map(
    spark: SparkSession, sf_dir: str, flat_to_out, out_ddl: str
) -> DataFrame:
    from deed_ocr_spark.corpus import gen_docs_pandas
    from deed_ocr_spark.extract import _explode_batch, _extract_flat

    n_docs = _corpus_size(sf_dir)

    def kernel(batches):
        for b in batches:
            if not len(b):
                continue
            pdf = gen_docs_pandas(b["id"].to_numpy(), CORPUS_SEED)
            flat = _explode_batch(pdf)
            if not len(flat):
                continue
            out = flat_to_out(_extract_flat(flat))
            if out is not None:
                yield out

    par = max(spark.sparkContext.defaultParallelism, 1)
    return spark.range(0, n_docs, 1, par).mapInPandas(kernel, out_ddl)


def _fused_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deed_ocr_spark.extract import DOC_SUMMARY_DDL, _doc_summaries

    return _fused_corpus_map(spark, sf_dir, _doc_summaries, DOC_SUMMARY_DDL)


# --- X1: the flagship — full interleaved-span extraction ---------------------
def x1_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_spans(_corpus(spark, sf_dir))


# --- X2: per-document summaries (reference merge semantics, fused) -----------
def x2_doc_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _fused_summaries(spark, sf_dir)
    # arrays → stable string form so the driver's rows-only check is tidy
    return out.select(
        "doc_id",
        "n_pages",
        "n_spans",
        "n_media",
        "combined_chars",
        F.array_join("legal_description_block", "␞").alias("legal_descriptions"),
        F.array_join("trs", "␞").alias("trs"),
        "details_json",
    )


# --- X4: whole-document structured record (the reference's final_result) -----
# details_json is the reference's product field: document_type/subtype,
# parties role→names, TRS, deed_details — per-page dicts folded with
# conflict rename (workflow.py:253-260) and ordered-dedup swept
# (workflow.py:737-756). The JSON surface is queryable with the engine's
# own functions (get_json_object below), so downstream pipelines consume it
# relationally without re-parsing in Python.
def x4_doc_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _fused_summaries(spark, sf_dir)
    return out.select(
        "doc_id",
        F.get_json_object("details_json", "$.document_type").alias("document_type"),
        F.get_json_object("details_json", "$.document_subtype").alias(
            "document_subtype"
        ),
        F.get_json_object("details_json", "$.parties.grantor").alias("grantors"),
        F.get_json_object("details_json", "$.parties.grantee").alias("grantees"),
        # JSON key case is the reference prompt's verbatim (gemini_ocr.py:561)
        F.get_json_object("details_json", "$.deed_details.Interest_fraction").alias(
            "interest_fraction"
        ),
        F.array_join("trs", "␞").alias("trs"),
        "details_json",
    )


# --- X5: per-page descriptions gated by the P6 confidence threshold ----------
# The reference accepts an extracted description only above confidence 0.5
# (extractors/llm.py:109-118). The kernel emits every scored description;
# the threshold is a relational filter so it shows in the plan (and can be
# pushed/retuned without touching the kernel).
def x5_descriptions_confident(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deed_ocr_spark.extract import DESC_OUT_DDL, _descriptions_from_flat

    descs = _fused_corpus_map(
        spark, sf_dir, _descriptions_from_flat, DESC_OUT_DDL
    )
    return descs.filter(F.col("confidence") > 0.5)


# --- M1-M3: multimodal plumbing (see deed_ocr_spark.multimodal) --------------
def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deed_ocr_spark.multimodal import synth_media_table

    return synth_media_table(extract_spans(_corpus(spark, sf_dir)))


def m1_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deed_ocr_spark.multimodal import decode_media

    return decode_media(_media_table(spark, sf_dir))


def m2_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deed_ocr_spark.multimodal import resize_images

    return resize_images(_media_table(spark, sf_dir)).drop("payload")


def m3_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deed_ocr_spark.multimodal import sample_frames

    return sample_frames(_media_table(spark, sf_dir)).drop("payload")


# --- M1 (registered): the three multimodal kernels as one driver query -------
# The driver's CORRECTNESS gate records at most 50 queries, so the decode /
# resize / frame-sample stages land in ONE registered entry: each stage's
# output is normalized to (stage, doc_id, media_ref, media_kind, d1, d2,
# n_bytes) and unioned. All three kernels still run end-to-end every round;
# the per-stage functions above keep their own pytest coverage.
def m1_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deed_ocr_spark.multimodal import (
        decode_media,
        ensure_media_table,
        media_docs_filter,
        read_media_table,
        resize_images,
        sample_frames,
    )

    # One media table feeds all three kernels. In production the media
    # table IS its own durable table (the reference's saved page images,
    # utils/pdf_converter.py:128-155), so each stage SCANS it — no session
    # cache, no per-stage corpus re-extraction (plan-locked in
    # tests/test_plans.py). The family is a per-seed SUPERSET table shared
    # across sf tiers; the doc-range filter (pushed to the scan) selects
    # this tier's documents.
    n_docs = _corpus_size(sf_dir)
    media = media_docs_filter(
        read_media_table(
            spark, ensure_media_table(spark, n_docs, CORPUS_SEED)
        ),
        n_docs,
    ).drop("chunk")
    dec = decode_media(media).select(
        F.lit("decode").alias("stage"),
        "doc_id",
        "media_ref",
        "media_kind",
        F.col("width").alias("d1"),
        F.col("height").alias("d2"),
        "n_bytes",
    )
    res = resize_images(media).select(
        F.lit("resize").alias("stage"),
        "doc_id",
        "media_ref",
        F.lit("image").alias("media_kind"),
        F.col("out_width").alias("d1"),
        F.col("out_height").alias("d2"),
        F.length("payload").cast("bigint").alias("n_bytes"),
    )
    frm = sample_frames(media).select(
        F.lit("frames").alias("stage"),
        "doc_id",
        "media_ref",
        F.lit("video").alias("media_kind"),
        F.col("frame_idx").alias("d1"),
        F.col("ts_ms").alias("d2"),
        F.length("payload").cast("bigint").alias("n_bytes"),
    )
    return dec.unionByName(res).unionByName(frm)


QUERIES = {
    "x1_extract_spans": x1_extract_spans,
    "x2_doc_summaries": x2_doc_summaries,
    "x4_doc_details": x4_doc_details,
    "x5_descriptions_confident": x5_descriptions_confident,
    "m1_multimodal_pipeline": m1_multimodal_pipeline,
}

ORACLES: dict = {}
