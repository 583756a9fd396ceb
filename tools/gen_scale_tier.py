"""Generate a size-equivalent synthetic scale tier for performance probing.

The driver's sf1.0 tier is generated by the driver itself and is not kept
in the sandbox between sessions. This tool rebuilds a tier with the SAME
schemas, row counts, file/row-group layout (single parquet file per
table, ~1M-row row groups -> lineitem 6 groups / orders 2 / rest 1) and
the same coarse distributions (key ranges, value ranges, join fanout,
document vocabulary/length/dup structure, embedding dim), so that plan
shapes (join-strategy size estimates, bucket counts) and runtimes are
comparable to the driver's tier. It is NOT byte-identical to the
driver's data: use it for performance probes and plan dumps only, never
for correctness baselines (the DuckDB oracle tiers sf0.001-0.1 are the
driver's own and stay authoritative).

Usage: python tools/gen_scale_tier.py <out_dir> [scale]
  scale is relative to sf0.1 (default 10 -> sf1.0-equivalent sizes).

Deterministic: seeded from (table, scale) only.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts; a tier at `scale` multiplies these.
BASE = {
    "documents": 5_000,
    "embeddings": 2_000,
    "events": 100_000,
    "lineitem": 600_000,
    "orders": 150_000,
    "customer": 15_000,
    "part": 20_000,
    "supplier": 1_000,
}

VOCAB = [
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "a", "the", "line", "sort", "window",
    "column", "vector", "customer", "data", "join", "shuffle", "plan",
    "query", "stage", "task", "node", "disk", "cache",
]

LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write(out_dir, name, table):
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=1_048_576, compression="snappy")
    print(f"{name}: {table.num_rows} rows -> {path}")


def gen_documents(out_dir, n):
    rng = np.random.default_rng(4242)
    # target char lengths ~U(48, 553), words drawn uniformly from VOCAB
    texts = []
    vocab = np.array(VOCAB)
    word_picks = rng.integers(0, len(VOCAB), size=n * 120).reshape(n, 120)
    target = rng.integers(48, 554, size=n)
    for i in range(n):
        words = vocab[word_picks[i]]
        t, parts = 0, []
        for w in words:
            if t + len(w) + 1 > target[i] and parts:
                break
            parts.append(w)
            t += len(w) + 1
        texts.append(" ".join(parts))
    # plant exact dups (~0.16%) and near-dup pairs (~2.4% of docs in a pair,
    # one-word mutation) so the LSH/jaccard family sees the driver-tier regime
    # (candidate pairs << corpus). Source i is copied to target n//2 + i;
    # exact sources come from [0, n//4) and near-dup sources from
    # [n//4, n//2), so the two target bands are disjoint and no plant
    # overwrites another.
    n_exact = max(1, n // 625)
    n_near = max(1, n // 42)
    exact_idx = rng.choice(n // 4, size=n_exact, replace=False)
    for i in exact_idx:
        texts[n // 2 + i] = texts[i]
    near_idx = n // 4 + rng.choice(n // 2 - n // 4, size=n_near, replace=False)
    for i in near_idx:
        src = texts[i].split()
        if len(src) > 3:
            # a nonzero shift always swaps in a DIFFERENT word, so a
            # near-dup never degenerates into an extra exact dup
            j = rng.integers(0, len(src))
            shift = rng.integers(1, len(VOCAB))
            src[j] = VOCAB[(VOCAB.index(src[j]) + shift) % len(VOCAB)]
        texts[n // 2 + i] = " ".join(src)
    lang = rng.choice(LANGS, size=n, p=LANG_P)
    source = np.array([f"src{i % 20}" for i in rng.integers(0, 20, size=n)])
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write(out_dir, "documents", tbl)


def gen_embeddings(out_dir, n, dim=64):
    rng = np.random.default_rng(777)
    mat = rng.normal(0, 0.12, size=(n, dim)).astype(np.float32)
    flat = pa.array(mat.reshape(-1), pa.float32())
    vecs = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * dim, dim), pa.int32()), flat)
    tbl = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": vecs.cast(pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })
    _write(out_dir, "embeddings", tbl)


def _ts(rng, lo, hi, n):
    lo = np.datetime64(lo).astype("datetime64[us]").astype(np.int64)
    hi = np.datetime64(hi).astype("datetime64[us]").astype(np.int64)
    return pa.array(rng.integers(lo, hi, size=n), pa.timestamp("us"))


def gen_orders_lineitem(out_dir, n_orders, n_li, n_cust, n_part, n_supp):
    rng = np.random.default_rng(1337)
    tbl = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], size=n_orders,
                                             p=[0.49, 0.49, 0.02]), pa.string()),
        "o_totalprice": pa.array(rng.uniform(1000, 500000, size=n_orders)),
        "o_orderdate": _ts(rng, "1995-01-01", "2001-08-01", n_orders),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            size=n_orders), pa.string()),
    })
    _write(out_dir, "orders", tbl)
    okey = np.sort(rng.integers(0, n_orders, size=n_li))
    same = np.concatenate(([False], okey[1:] == okey[:-1]))
    idx = np.arange(n_li)
    start = np.where(~same, idx, 0)
    np.maximum.accumulate(start, out=start)
    lineno = ((idx - start) % 7 + 1).astype(np.int32)
    tbl = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
        "l_extendedprice": pa.array(rng.uniform(900, 105000, size=n_li)),
        "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["N", "A", "R"], size=n_li,
                                            p=[0.5, 0.25, 0.25]), pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n_li), pa.string()),
        "l_shipdate": _ts(rng, "1995-01-02", "2001-11-04", n_li),
    })
    _write(out_dir, "lineitem", tbl)


def gen_events(out_dir, n, n_users):
    rng = np.random.default_rng(99)
    tbl = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(rng, "2024-01-01", "2024-01-31", n),
        "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["view", "click", "purchase", "signup", "error"], size=n), pa.string()),
        "value": pa.array(rng.uniform(0, 100, size=n)),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, size=n)], pa.string()),
    })
    _write(out_dir, "events", tbl)


def gen_dims(out_dir, n_cust, n_part, n_supp):
    rng = np.random.default_rng(5)
    tbl = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": pa.array(rng.uniform(-1000, 10000, size=n_cust)),
        "c_mktsegment": pa.array(rng.choice(
            ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"],
            size=n_cust), pa.string()),
    })
    _write(out_dir, "customer", tbl)
    adjectives = ["large", "small", "economy", "standard", "promo"]
    nouns = ["ring", "box", "case", "plate", "wheel"]
    tbl = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{adjectives[i % 5]} {nouns[(i // 5) % 5]}"
                            for i in range(n_part)]),
        "p_brand": pa.array([f"Brand#{i % 25}" for i in
                             rng.integers(0, 25, size=n_part)]),
        "p_type": pa.array(rng.choice(
            ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"], size=n_part),
            pa.string()),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
        "p_retailprice": pa.array(rng.uniform(900, 2000, size=n_part)),
    })
    _write(out_dir, "part", tbl)
    tbl = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
        "s_acctbal": pa.array(rng.uniform(-1000, 10000, size=n_supp)),
    })
    _write(out_dir, "supplier", tbl)


def main():
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    out_dir = sys.argv[1]
    scale = float(sys.argv[2]) if len(sys.argv) > 2 else 10.0
    os.makedirs(out_dir, exist_ok=True)
    n = {k: int(v * scale) for k, v in BASE.items()}
    gen_documents(out_dir, n["documents"])
    gen_embeddings(out_dir, n["embeddings"])
    gen_orders_lineitem(out_dir, n["orders"], n["lineitem"], n["customer"],
                        n["part"], n["supplier"])
    gen_events(out_dir, n["events"], n["customer"])
    gen_dims(out_dir, n["customer"], n["part"], n["supplier"])
    # nation/region are tiny and schema-fixed: copy from the driver tier
    import shutil
    for t in ("nation", "region"):
        shutil.copy(f"/root/testdata/sf0.1/{t}.parquet",
                    os.path.join(out_dir, f"{t}.parquet"))
        print(f"{t}: copied from sf0.1")


if __name__ == "__main__":
    main()
