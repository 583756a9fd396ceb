"""Replicates the driver's correctness gate locally at sf0.01:

for every oracle-backed query, run the Spark DataFrame version and the
DuckDB SQL on the same parquet files and compare row count, column names,
and an order-insensitive value hash. Rows-only queries just need to run
and return a stable schema.
"""

import hashlib

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def _duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    return con


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        # driver-style canonicalization: repr of float is bit-faithful
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x1f".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, name):
    sdf = QUERIES[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = _duck()
    res = con.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (spark_cols, duck_cols)
    assert len(spark_rows) == len(duck_rows), (len(spark_rows), len(duck_rows))
    # reorder spark rows to duck column order for hashing symmetry
    sh = _value_hash(spark_rows, spark_cols)
    dh = _value_hash(duck_rows, duck_cols)
    if sh != dh:
        s_set = sorted(
            "\x1f".join(_canon(r[i]) for i in sorted(range(len(spark_cols)), key=lambda i: spark_cols[i]))
            for r in spark_rows
        )
        d_set = sorted(
            "\x1f".join(_canon(r[i]) for i in sorted(range(len(duck_cols)), key=lambda i: duck_cols[i]))
            for r in duck_rows
        )
        diff = [(a, b) for a, b in zip(s_set, d_set) if a != b][:3]
        pytest.fail(f"value hash mismatch for {name}; first diffs: {diff}")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert len(df.columns) > 0
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
