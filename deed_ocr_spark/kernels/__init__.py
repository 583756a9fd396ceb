"""Pure pandas/numpy extraction kernels — importable without Spark.

Every kernel here is deterministic and side-effect free; the Spark layer
(`deed_ocr_spark.extract`) calls these from inside ``mapInArrow`` and the
single-process golden executor (`deed_ocr_spark.golden`) calls the very same
functions, so Spark-vs-golden parity is structural.
"""

from deed_ocr_spark.kernels.textops import (
    clean_watermarks,
    ordered_dedup,
    page_concat,
)
from deed_ocr_spark.kernels.html import strip_html_boilerplate
from deed_ocr_spark.kernels.pdfblocks import segment_pdf_blocks
from deed_ocr_spark.kernels.ocr import xy_cut_order, parse_ocr_region
from deed_ocr_spark.kernels.legal import (
    extract_with_regex,
    traditional_confidence,
    text_similarity,
    dedup_descriptions,
    merge_final_lists,
)
from deed_ocr_spark.kernels.mergeops import (
    classify_error,
    dedup_sweep,
    merge_details,
)

__all__ = [
    "clean_watermarks",
    "ordered_dedup",
    "page_concat",
    "strip_html_boilerplate",
    "segment_pdf_blocks",
    "xy_cut_order",
    "parse_ocr_region",
    "extract_with_regex",
    "traditional_confidence",
    "text_similarity",
    "dedup_descriptions",
    "merge_final_lists",
    "classify_error",
    "dedup_sweep",
    "merge_details",
]
