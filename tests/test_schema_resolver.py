"""The session-scoped parquet schema resolver (``queries.common.read_parquet``,
behind ``t()`` and the signature-table reads): a warm read runs no Spark
job, a table rewritten in place is read with its new schema, a missing
path fails as Spark fails, and sessions never share entries. Also: d6 and
d6b, whose columns are built from SQL text, answer the rows of their
functions-API column trees."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from deed_ocr_spark.queries.common import read_parquet, t
from tests.test_job_budgets import _jobs
from tests.test_queries_oracle import SF_DIR as SF


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_single_file_rewritten_in_place(spark, tmp_path):
    sf = str(tmp_path)
    path = os.path.join(sf, "tbl.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    t(spark, sf, "tbl")
    df, jobs = _jobs(spark, lambda: t(spark, sf, "tbl"))
    assert jobs == 0, "a warm read must not infer the schema again"
    assert df.columns == ["a", "b"] and _rows(df) == [(1, "x"), (2, "y")]

    pq.write_table(pa.table({"c": [3.5], "a": [7], "d": [True]}), path)
    df = t(spark, sf, "tbl")
    assert df.columns == ["c", "a", "d"]
    assert _rows(df) == [(3.5, 7, True)]


def test_directory_rewritten_in_place(spark, tmp_path):
    path = str(tmp_path / "tbl.parquet")
    spark.createDataFrame([(1, "x"), (2, "y")], "a bigint, b string").write.parquet(path)
    assert _rows(t(spark, str(tmp_path), "tbl")) == [(1, "x"), (2, "y")]
    _df, jobs = _jobs(spark, lambda: t(spark, str(tmp_path), "tbl"))
    assert jobs == 0

    spark.createDataFrame([("p", 1.5)], "k string, v double").write.mode(
        "overwrite"
    ).parquet(path)
    df = t(spark, str(tmp_path), "tbl")
    assert df.columns == ["k", "v"] and _rows(df) == [("p", 1.5)]


def test_options_and_recursive_add_dirs(spark, tmp_path):
    """A version directory read recursively sees an add dir committed
    after its schema was cached, with the add dir's rows."""
    ver = tmp_path / "v"
    spark.createDataFrame([(1,)], "doc_id bigint").write.parquet(str(ver / "base"))
    assert _rows(read_parquet(spark, str(ver), recursiveFileLookup="true")) == [(1,)]
    spark.createDataFrame([(2,)], "doc_id bigint").write.parquet(str(ver / "add-1"))
    got = read_parquet(spark, str(ver), recursiveFileLookup="true")
    assert _rows(got) == [(1,), (2,)]


def test_deleted_path_raises_spark_error(spark, tmp_path):
    path = str(tmp_path / "tbl.parquet")
    spark.range(3).write.parquet(path)
    t(spark, str(tmp_path), "tbl")
    shutil.rmtree(path)
    with pytest.raises(AnalysisException) as ours:
        t(spark, str(tmp_path), "tbl")
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(path)
    assert ours.value.getCondition() == plain.value.getCondition() == "PATH_NOT_FOUND"

    # re-created with another schema: never answered from the old entry
    spark.createDataFrame([("z",)], "s string").write.parquet(path)
    assert t(spark, str(tmp_path), "tbl").columns == ["s"]


def test_sessions_never_share_an_entry(spark):
    t(spark, SF, "region")
    _df, jobs = _jobs(spark, lambda: t(spark, SF, "region"))
    assert jobs == 0
    other = spark.newSession()
    _df, jobs = _jobs(other, lambda: t(other, SF, "region"))
    assert jobs == 1, "a new session infers its own schema"
    _df, jobs = _jobs(other, lambda: t(other, SF, "region"))
    assert jobs == 0


def test_concurrent_reads_keep_one_entry_per_table(spark, tmp_path):
    """Threads reading three tables through one session, with a short
    switch interval: every read has its table's schema, and the session
    ends with exactly one entry per table."""
    import sys
    import threading

    from deed_ocr_spark.queries import common

    paths = {}
    for i in range(3):
        path = str(tmp_path / f"t{i}.parquet")
        pq.write_table(pa.table({f"c{i}": [i]}), path)
        paths[path] = [f"c{i}"]
    errors = []

    def reader(k):
        try:
            for j in range(12):
                path = list(paths)[(k + j) % 3]
                assert read_parquet(spark, path).columns == paths[path]
        except Exception as e:  # reported on the main thread
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(th.is_alive() for th in threads) and not errors, errors
    mine = [k for k in common._SCHEMAS[spark] if k[0][0] in paths]
    assert sorted(k[0][0] for k in mine) == sorted(paths)


def _simhash_column_tree(tok, vote):
    """The functions-API form of d6/d6b's aggregate (16 vote columns and
    a 16-deep bit sum), kept as the reference for the SQL-text form."""
    agg = tok.groupBy("doc_id").agg(
        *[F.sum(vote(k)).alias(f"v{k}") for k in range(16)]
    )
    sim = None
    for k in range(16):
        bit = F.when(F.col(f"v{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select("doc_id", sim.cast("bigint").alias("simhash"))


def _tokens_hashed(spark, hash_fn):
    from deed_ocr_spark.queries.textpipe import _docs_rebalanced, _tokens

    d = _docs_rebalanced(spark, SF)
    return (
        d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .withColumn("h", hash_fn("tok"))
    )


def test_simhash_sql_text_matches_column_tree(spark):
    from deed_ocr_spark.queries.textpipe import d6_simhash, d6b_simhash_fast

    md5_vote = lambda k: F.when(  # noqa: E731
        F.substring("h", k + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1
    ).otherwise(-1)
    fast_vote = lambda k: (  # noqa: E731
        F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)) * 2 - 1
    )
    for got, ref in (
        (d6_simhash(spark, SF), _simhash_column_tree(_tokens_hashed(spark, F.md5), md5_vote)),
        (
            d6b_simhash_fast(spark, SF),
            _simhash_column_tree(_tokens_hashed(spark, F.xxhash64), fast_vote),
        ),
    ):
        assert got.schema == ref.schema
        rows = _rows(got)
        assert len(rows) > 100 and rows == _rows(ref)
