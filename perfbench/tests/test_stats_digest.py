"""The benchmark's summary statistics and order-insensitive digests."""

import random

import pytest

from perfbench.digest import rows_digest
from perfbench.stats import beyond, describe, median, percentile, summarize, tail


def test_median_and_count():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    assert summarize([5.0])["n"] == 1
    with pytest.raises(ValueError):
        median([])


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 99.9) == 100
    assert percentile([7.0], 50) == 7.0
    with pytest.raises(ValueError):
        percentile(xs, 0)


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(19))) is None  # p50 of 19 leaves 9 beyond
    assert tail(list(range(1, 21))) == (50.0, 10)
    assert tail(list(range(1, 101))) == (90.0, 90)
    assert tail(list(range(1, 1001))) == (99.0, 990)
    for n in (20, 100, 1000, 12345):
        p, _ = tail(list(range(n)))
        assert beyond(n, p) >= 10


def test_describe_names_count_and_unit():
    line = describe([1.0, 2.0, 3.0], "s")
    assert line.startswith("2 s") and "n=3" in line and "p" not in line.split("n=3")[1]
    assert "p50=" in describe([float(i) for i in range(20)], "s")


def test_rows_digest_ignores_row_and_column_order():
    rows = [(i, f"t{i}", i * 0.5, None, [i, i + 1]) for i in range(50)]
    cols = ("a", "b", "c", "d", "e")
    shuffled = rows[:]
    random.Random(1).shuffle(shuffled)
    perm = (4, 2, 0, 3, 1)
    moved = [tuple(r[i] for i in perm) for r in shuffled]
    assert rows_digest(rows, cols) == rows_digest(moved, [cols[i] for i in perm])


def test_rows_digest_sees_every_value():
    cols = ("a", "b")
    base = rows_digest([(1, "x"), (2, "y")], cols)
    assert rows_digest([(1, "x"), (2, "z")], cols) != base
    assert rows_digest([(1, "x")], cols) != base
    assert rows_digest([(1, "x"), (2, "y"), (2, "y")], cols) != base
    # NULL is not the empty string, and float digits matter
    assert rows_digest([(None, "")], cols) != rows_digest([("", "")], cols)
    assert rows_digest([(0.1 + 0.2, "")], cols) != rows_digest([(0.3, "")], cols)
