"""Order-insensitive digests of result rows.

``rows_digest`` hashes rows collected to this process (the DuckDB oracle
gate's canonical form: floats by ``repr``, NULL as a marker, columns in
name order, lines sorted). ``frame_digest`` computes (row count, bit-xor of
a per-row xxhash64) inside Spark for tables too large to collect.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Sequence


def canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_digest(rows: Iterable[Sequence], columns: Sequence[str]) -> str:
    """sha256 over the sorted canonical lines of ``rows``; each row's
    values are taken in column-name order, so the digest depends on
    neither row order nor column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def frame_digest(df) -> tuple:
    """(row count, bit_xor of xxhash64 over every column in name order)."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in sorted(df.columns)]
    row = (
        df.select(F.xxhash64(*cols).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("h"))
        .collect()[0]
    )
    return int(row["n"]), int(row["h"] or 0)
