"""BENCHMARK.json, the per-layer metric table, the input generators and the
/proc sampler agree with each other and with the frozen bench.py."""

import json
import os
import subprocess
import sys

import numpy as np

from perfbench import datagen, layers
from perfbench.rss import tree_pids, tree_rss_bytes

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_metrics_match_benchmark_json():
    spec = _spec()
    declared = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    table = {name: (unit, better) for name, (unit, better, _) in layers.METRICS.items()}
    assert declared == table
    assert [w["name"] for w in spec["workloads"]] == list(layers.WORKLOADS)


def test_every_prediction_names_a_benchmark_metric_and_workload():
    e2e = {m["name"] for m in _spec()["end_to_end"]}
    for name, (_unit, _better, moves) in layers.METRICS.items():
        assert moves, name
        for metric, workload, _finer in moves:
            assert metric in e2e and workload in layers.WORKLOADS, (name, metric, workload)


def test_leaves_are_bench_py_leaves():
    sys.path.insert(0, ROOT)
    import bench

    assert list(layers.LEAVES) == ["x1_extract_spans", *bench.BENCH_QUERIES]


def test_complete_fills_unexercised_layers_with_zero():
    out = layers.complete({"engine.jobs": 3})
    assert set(out) == set(layers.METRICS)
    assert out["engine.jobs"] == {"value": 3.0, "unit": "count"}
    assert out["components.update_s"]["value"] == 0.0
    try:
        layers.complete({"no.such_metric": 1.0})
    except KeyError:
        pass
    else:
        raise AssertionError("an undeclared metric was accepted")


def test_documents_are_a_pure_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    datagen.write_documents(a, 0, 300, 2, seed=5)
    datagen.write_documents(b, 0, 300, 2, seed=5)
    datagen.write_documents(c, 0, 300, 2, seed=6)
    read = lambda d: sorted(os.listdir(os.path.join(d, "documents.parquet")))
    assert read(a) == read(b) == ["part-00000.parquet", "part-00001.parquet"]
    for name in read(a):
        with open(os.path.join(a, "documents.parquet", name), "rb") as fa, \
             open(os.path.join(b, "documents.parquet", name), "rb") as fb:
            assert fa.read() == fb.read()
    assert datagen.curation_texts(np.arange(5), 5) != datagen.curation_texts(np.arange(5), 6)


def test_twins_differ_from_their_predecessor_in_the_last_word_only():
    ids = np.arange(0, 400, dtype=np.int64)
    texts = datagen.curation_texts(ids, seed=9)
    twins = [i for i in ids if datagen.is_twin(np.array([i]))[0]]
    assert len(twins) == datagen.planted_twins(0, 400) == 4
    assert datagen.planted_twins(100, 400) == 3 and datagen.planted_twins(150, 400) == 2 and datagen.planted_twins(5, 5) == 0
    for t in twins:
        prev, twin = texts[t - 1].split(), texts[t].split()
        assert prev[:-1] == twin[:-1] and prev[-1] != twin[-1]
    # unrelated documents share no word
    assert not set(texts[0].split()) & set(texts[1].split())


def test_tier_is_seeded_and_sized_by_scale_factor(tmp_path):
    rows = datagen.write_tier(str(tmp_path / "t1"), 0.001, seed=3)
    assert rows == {"customer": 150, "orders": 1500, "lineitem": 6000,
                    "documents": 50, "embeddings": 20}
    datagen.write_tier(str(tmp_path / "t2"), 0.001, seed=3)
    for t in datagen.TIER_TABLES:
        with open(tmp_path / "t1" / f"{t}.parquet", "rb") as f1, \
             open(tmp_path / "t2" / f"{t}.parquet", "rb") as f2:
            assert f1.read() == f2.read()


def test_rss_sampler_sums_the_process_tree():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in tree_pids(os.getpid())
        assert tree_rss_bytes(os.getpid()) > tree_rss_bytes(child.pid) > 0
    finally:
        child.kill()
        child.wait(timeout=10)
