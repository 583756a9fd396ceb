"""Repository benchmark for deed_ocr_spark.

Three closed-loop workloads (``extract_job``, ``curation_cycle``,
``query_mix``) drive the library in-process on ``local[nproc]``. See
``perfbench/README.md`` for the metrics, the workloads and how to run them.
"""
