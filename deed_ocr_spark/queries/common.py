"""Shared helpers for the driver-gate queries.

Oracle-parity rules (every query here is compared against DuckDB by
row-count + schema + order-insensitive value hash):

* never sum raw doubles — cast to DECIMAL first (exact), cast the result
  back to DOUBLE (one deterministic rounding) so both engines emit
  bit-identical doubles with a plain ``double`` schema;
* ratios only over already-exact operands (IEEE division is deterministic);
* timestamps never appear in output; session timezone pinned to UTC so
  timestamp *filters* agree with DuckDB's UTC-naive timestamps;
* every computed column aliased identically in Spark and SQL.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


# session -> {(paths, options): (stamp, schema)}. Weak keys: a stopped
# and dropped session takes its entries with it, and no session ever
# answers from another's.
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)
_SCHEMAS_LOCK = threading.Lock()


def _stamp(path: str):
    """Driver-side identity of a local parquet file or directory, or None
    when there is none to take (a missing path, a glob, a non-local URI):
    a file's (inode, mtime, length); a directory's sorted (name, inode,
    mtime, length) over its entries. Spark commits by renaming into the
    directory, so a rewrite in place changes the entries, and an add dir
    committed under a version directory changes that entry's mtime."""
    if "://" in path:
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_mtime_ns, st.st_size)
        with os.scandir(path) as entries:
            return tuple(sorted(
                (e.name, s.st_ino, s.st_mtime_ns, s.st_size)
                for e in entries
                for s in (e.stat(),)
            ))
    except OSError:
        return None


def read_parquet(spark: SparkSession, *paths: str, **options: str) -> DataFrame:
    """``spark.read.options(**options).parquet(*paths)``, with the schema
    inferred once per session and table.

    Parquet schema inference is a Spark job (footer reads), run at plan
    time by every schema-less read. The first read of ``(paths, options)``
    in a session infers as usual and keeps the schema with the paths'
    ``_stamp``; a later read whose stamp is unchanged passes that schema
    to the reader, which lists the files but runs no job. A changed stamp
    re-infers and replaces the entry, so there is one entry per table and
    a rewrite in place is always seen. Paths without a stamp (missing,
    glob, non-local) are read as given and never cached: a missing path
    raises Spark's own ``AnalysisException``."""
    reader = spark.read.options(**options)
    key = (paths, tuple(sorted(options.items())))
    stamps = tuple(_stamp(p) for p in paths)
    stamp = None if None in stamps else stamps
    with _SCHEMAS_LOCK:
        cache = _SCHEMAS.setdefault(spark, {})
        hit = cache.get(key)
        if hit is not None and hit[0] != stamp:
            del cache[key]
            hit = None
    if hit is not None:
        return reader.schema(hit[1]).parquet(*paths)
    df = reader.parquet(*paths)
    if stamp is not None:
        schema = df.schema
        with _SCHEMAS_LOCK:
            # first entry for this table: drop entries whose tables are
            # gone (a collected signature version is never read again),
            # so the cache holds at most one entry per live table
            for k in [k for k in cache if not all(map(os.path.exists, k[0]))]:
                del cache[k]
            cache[key] = (stamp, schema)
    return df


def rebalanced(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition a scan that cannot parallelize on its own.

    Parquet assigns at most one task per file (row groups bound the real
    split count below that), so a compute-heavy stage fed by a few-file
    table runs on a few cores no matter the byte-range splits — the
    sandbox testdata tables are SINGLE files with 1–6 row groups, i.e.
    1–6-way compute on a 32-core box. The repartition is applied only when
    the file count is below the cluster's parallelism (the
    textpipe._docs_rebalanced heuristic): at production scale the scan has
    thousands of splits and this exchange disappears from the plan.
    Callers project to the needed columns FIRST so the exchange carries
    only them (guide §2.3)."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < par:
        df = df.repartition(par, *keys)
    return df
