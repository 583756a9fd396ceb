"""deed_ocr_spark — a from-scratch PySpark-native document-extraction engine.

Capabilities mirror the reference ``acul3/deed-ocr`` (studied read-only at
/root/reference): batched, layout-aware, order-preserving extraction of an
interleaved (text + media) span sequence per document, plus the reference's
deterministic post-processing semantics (watermark cleanup, order-preserving
dedup, legal-description regex extraction, confidence scoring, similarity
dedup, page-order merge).

Architecture is Spark-first, not a port:

* input is a table ``(doc_id:string, spans:array<struct<kind,text,media_ref,
  offset:int32>>)`` (an Iceberg table in production; parquet in tests),
* all extraction runs inside vectorized Arrow kernels via ``mapInArrow``
  — no per-row Python UDFs anywhere,
* output span ``order`` is data (a column), never an artifact of row order,
  so results are invariant under any partitioning,
* skew is handled explicitly (salt + repartition on doc_id),
* resume is an anti-join against a checkpoint/state table with idempotent
  per-partition overwrite.
"""

__version__ = "0.1.0"
