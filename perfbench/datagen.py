"""Seeded input generators. The same seed gives byte-identical inputs.

* ``write_documents`` lands a ``documents``-shaped corpus as parquet part
  files for the curation workload. Texts are base-26 words drawn from a
  splitmix64 avalanche of (seed, content id, position), so no two unrelated
  documents share a 23-character substring. Every document whose id ends in
  07 (``id % 100 == 7``) copies its predecessor with the last word changed:
  a planted near-duplicate twin, the only pairs winnowing can find.
* ``write_tier`` writes the tables the ``query_mix`` leaves read, in the
  schema and value shapes of the repository's TPC-H-like testdata tiers, with
  row counts proportional to the tier's scale factor.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = 48
WORD_LEN = 8
TWIN_MOD, TWIN_REM = 100, 7


def planted_twins(lo: int, hi: int) -> int:
    """Number of twin documents with ids in [lo, hi)."""
    return len(range(lo + (TWIN_REM - lo) % TWIN_MOD, hi, TWIN_MOD)) if hi > lo else 0


def is_twin(ids: np.ndarray) -> np.ndarray:
    return (ids % TWIN_MOD) == TWIN_REM


def curation_texts(ids: np.ndarray, seed: int) -> list:
    twin = is_twin(ids)
    content = ids - twin.astype(np.int64)
    pos = np.arange(DOC_WORDS, dtype=np.uint64)
    with np.errstate(over="ignore"):
        x = (
            content.astype(np.uint64)[:, None] * np.uint64(0x9E3779B97F4A7C15)
            + pos[None, :] * np.uint64(0xBF58476D1CE4E5B9)
            + np.uint64(seed & 0xFFFFFFFF) * np.uint64(0xD6E8FEB86659FD93)
        )
        x ^= x >> np.uint64(30)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    x[twin, -1] ^= np.uint64(0x5DEECE66D)
    n = len(ids)
    buf = np.empty((n, DOC_WORDS, WORD_LEN + 1), dtype=np.uint8)
    buf[:, :, WORD_LEN] = 0x20
    for j in range(WORD_LEN):
        buf[:, :, j] = (x % np.uint64(26)).astype(np.uint8) + 0x61
        x //= np.uint64(26)
    flat = buf.reshape(n, -1)[:, :-1]
    return [row.tobytes().decode("ascii") for row in flat]


def write_documents(corpus_dir: str, lo: int, hi: int, n_parts: int, seed: int,
                    first_part: int = 0) -> None:
    """Land documents [lo, hi) as ``n_parts`` new part files under
    ``<corpus_dir>/documents.parquet``; ``first_part`` numbers them after
    the parts already landed."""
    out = os.path.join(corpus_dir, "documents.parquet")
    os.makedirs(out, exist_ok=True)
    for p, ids in enumerate(np.array_split(np.arange(lo, hi, dtype=np.int64), n_parts)):
        texts = curation_texts(ids, seed)
        table = pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.where(ids % 17 == 0, "es", "en"), pa.string()),
            "source": pa.array(np.where(ids % 3 == 0, "county", "scan"), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
        pq.write_table(table, os.path.join(out, f"part-{first_part + p:05d}.parquet"))


# Row counts of the sf0.1 testdata tier; a tier at scale factor sf has
# round(count * sf / 0.1) rows.
SF01_ROWS = {
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark a the "
    "line sort window column vector customer data join shuffle plan query "
    "stage task node disk cache filter group order stream small big"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
TIER_TABLES = tuple(SF01_ROWS)


def _ts_days(rng, lo: str, hi: str, n: int) -> pa.Array:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(a, b, size=n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    # two decimals, as in the testdata tiers: DECIMAL(18,2) casts stay exact
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _documents(rng, n: int) -> pa.Table:
    words = np.array(VOCAB)
    lens = rng.integers(8, 90, size=n)
    picks = rng.integers(0, len(words), size=(n, 90))
    texts = [" ".join(words[picks[i, : lens[i]]]) for i in range(n)]
    # exact copies (~0.2%) and one-word near-duplicates (~2.4%) in the
    # second half, so the dedup leaves find a small pair set
    half = n // 2
    for i in rng.choice(half, size=max(1, n // 500), replace=False):
        texts[half + i] = texts[i]
    for i in rng.choice(half, size=max(1, n // 42), replace=False):
        w = texts[i].split()
        w[rng.integers(0, len(w))] = VOCAB[rng.integers(0, len(VOCAB))]
        texts[n - 1 - i] = " ".join(w)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, size=n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    mat = rng.normal(0.0, 0.12, size=(n, dim)).astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim), pa.int32())
    vecs = pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1), pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": vecs.cast(pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def write_tier(tier_dir: str, sf: float, seed: int) -> dict:
    """Write the query_mix tables at scale factor ``sf``; returns row counts."""
    os.makedirs(tier_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(10, round(c * sf / 0.1)) for t, c in SF01_ROWS.items()}
    n_cust, n_ord, n_li = n["customer"], n["orders"], n["lineitem"]
    tables = {
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -1000, 10000, n_cust)),
            "c_mktsegment": pa.array(rng.choice(
                ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"],
                size=n_cust), pa.string()),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], size=n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
            "o_orderdate": _ts_days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": pa.array(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                size=n_ord), pa.string()),
        }),
    }
    okey = rng.integers(0, n_ord, size=n_li)
    order = np.argsort(okey, kind="stable")
    line = np.empty(n_li, np.int32)
    # l_linenumber: 1..k within each order, unique per (order, line)
    sorted_keys = okey[order]
    first = np.r_[0, np.flatnonzero(sorted_keys[1:] != sorted_keys[:-1]) + 1]
    run_start = np.repeat(first, np.diff(np.r_[first, n_li]))
    line[order] = (np.arange(n_li) - run_start + 1).astype(np.int32)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, n_li // 30), size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(1, n_li // 600), size=n_li), pa.int64()),
        "l_linenumber": pa.array(line, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["N", "A", "R"], size=n_li), pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n_li), pa.string()),
        "l_shipdate": _ts_days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tier_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
