"""spark-submit entrypoint for the extraction job.

Launch (the north_rule's deployment path):

    zip -r /tmp/deed_ocr_spark.zip deed_ocr_spark
    spark-submit --master local[32] --py-files /tmp/deed_ocr_spark.zip \\
        scripts/run_job.py --input <parquet dir of (doc_id, spans)> \\
        --out /data/spans_out --state /data/state --run-id run1

With ``--gen-docs N`` the job generates the deterministic synthetic corpus
distributed on the executors instead of reading ``--input`` (no driver-side
materialization — scales to arbitrary corpus sizes).

Resume: re-running with the same --out/--state skips buckets already
recorded 'done' in the state ledger (anti-join; exactly-once via dynamic
partition overwrite). CLI knobs mirror the reference CLI's surviving
options (/root/reference/deed_ocr/cli.py:40-118): continue-on-error is the
per-row status discipline (always on), --seed replaces --dpi as the
deterministic-kernel parameter.
"""

import argparse
import sys
import time


def main(argv=None):
    p = argparse.ArgumentParser(description="deed-ocr-spark extraction job")
    p.add_argument("--input", help="parquet dir with (doc_id, spans)")
    p.add_argument("--gen-docs", type=int, default=0, help="generate N synthetic docs instead of --input")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--out", required=True, help="output spans table dir")
    p.add_argument("--state", required=True, help="state/checkpoint table dir")
    p.add_argument("--run-id", required=True)
    # default matches run_extraction_job's; the ledger persists n_buckets
    # and fails fast on a mismatched resume either way
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--max-attempts", type=int, default=5,
                   help="retry escalation ceiling per bucket (reference "
                   "retry_helper max_retries=5)")
    p.add_argument(
        "--partitions",
        type=int,
        default=0,
        help="(bucket, slice) groups for the job's bucket-aligned exchange "
        "(≈ partitions/buckets slices, so at most that many files, per "
        "bucket; 0 → one file per bucket; the task count follows cores and "
        "input bytes) and --gen-docs generation parallelism",
    )
    p.add_argument(
        "--summaries-out",
        help="also write per-document summaries (legal descriptions, TRS, "
        "details_json — the reference's final_result analog) to this dir",
    )
    p.add_argument(
        "--descriptions-out",
        help="also write per-page legal descriptions that pass the "
        "confidence>0.5 acceptance threshold (P6) to this dir",
    )
    p.add_argument(
        "--compact",
        action="store_true",
        help="after extraction, binpack over-fragmented output partitions "
        "(parquet analog of Iceberg rewrite_data_files; see "
        "deed_ocr_spark/compact.py)",
    )
    p.add_argument(
        "--compact-target-mb",
        type=int,
        default=128,
        help="compaction target file size in MiB (default 128, Iceberg's "
        "write.target-file-size default)",
    )
    p.add_argument(
        "--stream",
        action="store_true",
        help="incremental mode: treat --input as a streaming file source; "
        "process all currently-available files (availableNow) with a "
        "streaming checkpoint at <state>/stream_ckpt, then exit. Re-running "
        "picks up only new files.",
    )
    args = p.parse_args(argv)

    if not args.input and not args.gen_docs:
        p.error("one of --input or --gen-docs is required")

    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession

    from deed_ocr_spark.corpus import corpus_df
    from deed_ocr_spark.session import start_with_worker_daemon
    from deed_ocr_spark.state import run_extraction_job

    # spark-submit's --master and --conf are on the JVM this process joins
    SparkContext._ensure_initialized()
    spark = start_with_worker_daemon(
        SparkSession.builder.appName(f"deed-ocr-extract-{args.run_id}"),
        SparkConf().get("spark.master", "local[*]"),
    )
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")

    if args.stream:
        if not args.input:
            p.error("--stream requires --input")
        from deed_ocr_spark.streaming import run_stream

        t0 = time.time()
        q = run_stream(
            spark, args.input, args.out, f"{args.state}/stream_ckpt",
            available_now=True,
        )
        q.awaitTermination()
        n = spark.read.parquet(args.out).count()
        print(
            f"STREAM_DONE run_id={args.run_id} total_spans={n} "
            f"wall_sec={time.time() - t0:.2f}"
        )
        spark.stop()
        return 0

    if args.gen_docs:
        df = corpus_df(spark, args.gen_docs, seed=args.seed, n_partitions=args.partitions)
    else:
        df = spark.read.parquet(args.input)

    if args.summaries_out:
        from deed_ocr_spark.job import extract_summaries

        extract_summaries(df, n_partitions=args.partitions).write.mode(
            "overwrite"
        ).parquet(args.summaries_out)

    if args.descriptions_out:
        from pyspark.sql import functions as F

        from deed_ocr_spark.extract import (
            DESC_OUT_DDL,
            extract_descriptions_batches_arrow,
        )

        (
            df.select("doc_id", "spans")
            .mapInArrow(extract_descriptions_batches_arrow, DESC_OUT_DDL)
            .filter(F.col("confidence") > 0.5)
            .write.mode("overwrite")
            .parquet(args.descriptions_out)
        )

    t0 = time.time()
    stats = run_extraction_job(
        spark,
        df,
        out_dir=args.out,
        state_dir=args.state,
        run_id=args.run_id,
        n_buckets=args.buckets,
        n_partitions=args.partitions,
        lineage=f"input={args.input or f'gen:{args.gen_docs}@seed{args.seed}'}",
        max_attempts=args.max_attempts,
    )
    dt = time.time() - t0
    docs = stats["docs"] or 0
    phases = ""
    if "wall_write_sec" in stats:
        phases = (
            f" write_sec={stats['wall_write_sec']} "
            f"ledger_sec={stats['wall_ledger_sec']}"
        )
    print(
        f"EXTRACT_DONE run_id={args.run_id} buckets={stats['buckets_done']} "
        f"failed={stats['buckets_failed']} retrying={stats['buckets_retrying']} "
        f"docs={docs} spans={stats['spans']} wall_sec={dt:.2f} "
        f"docs_per_sec={docs / dt:.1f}{phases}"
    )
    if args.compact:
        from deed_ocr_spark.compact import compact_output

        res = compact_output(
            spark, args.out, target_bytes=args.compact_target_mb << 20
        )
        print(
            f"COMPACT_DONE buckets={res['compacted_buckets']} "
            f"files_before={res['files_before']} "
            f"target_files={res['target_files']}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
