"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import csv
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import inputs  # noqa: E402
import procstat  # noqa: E402
from sparkstat import SparkTracer, spans_between  # noqa: E402

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_tree_cpu_counts_a_reaped_child():
    own0, tree0 = sum(os.times()[:2]), procstat.tree_cpu_s()
    subprocess.run([sys.executable, "-c", BURN.format(s=0.5)], check=True)
    own1, tree1 = sum(os.times()[:2]), procstat.tree_cpu_s()
    # the child is gone; only its parent's cutime/cstime still hold its CPU
    assert tree1 - tree0 >= 0.45
    assert own1 - own0 < 0.2


def test_tree_cpu_counts_a_grandchild_reaped_by_its_parent():
    child = (
        "import subprocess, sys\n"
        f"subprocess.run([sys.executable, '-c', {BURN.format(s=0.4)!r}], check=True)\n"
    )
    tree0 = procstat.tree_cpu_s()
    subprocess.run([sys.executable, "-c", child], check=True)
    assert procstat.tree_cpu_s() - tree0 >= 0.35


def test_tree_cpu_and_rss_include_a_live_child():
    script = BURN.format(s=0.3) + "print('burnt', flush=True)\nimport sys\nsys.stdin.read()\n"
    proc = subprocess.Popen([sys.executable, "-c", script],
                            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        assert proc.stdout.readline().strip() == "burnt"
        assert procstat.tree_cpu_s(proc.pid) >= 0.25
        child_rss = procstat.tree_rss_mb(proc.pid)
        assert 0 < child_rss < procstat.tree_rss_mb()
    finally:
        proc.stdin.close()
        proc.wait(timeout=10)
    assert proc.returncode == 0


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]").appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield session
    session.stop()


def test_jobs_from_a_thread_pool_land_in_the_layer(spark):
    sc = spark.sparkContext
    tracer = SparkTracer(spark)
    spans = []
    with tracer.layer(spans, "pooled"):
        with ThreadPoolExecutor(max_workers=3) as ex:
            counts = list(ex.map(lambda i: sc.parallelize(range(100), 2).count(), range(6)))
    with tracer.layer(spans, "after"):
        sc.parallelize(range(10), 2).map(lambda x: (x % 3, 1)).reduceByKey(lambda a, b: a + b).collect()
    tracer.attribute(spans)
    assert counts == [100] * 6
    pooled, after = spans
    assert pooled.stats["jobs"] == 6
    assert pooled.stats["shuffle_write_mb"] == 0
    assert after.stats["jobs"] == 1
    assert after.stats["shuffle_write_mb"] > 0
    assert all(s.stats["failed_tasks"] == 0 for s in spans)
    assert pooled.stats["wall_s"] > 0 and pooled.stats["task_cpu_s"] >= 0


def test_spans_between_pairs_consecutive_marks():
    marks = ["m0", "m1", "m2"]
    a, b = spans_between(["a", "b"], marks)
    assert (a.name, a.start, a.end) == ("a", "m0", "m1")
    assert (b.name, b.start, b.end) == ("b", "m1", "m2")
    with pytest.raises(ValueError):
        spans_between(["a"], marks)


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_customer_csv_is_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / f"{n}.csv") for n in "abc")
    inputs.write_customers_csv(a, 300, seed=5)
    inputs.write_customers_csv(b, 300, seed=5)
    inputs.write_customers_csv(c, 300, seed=6)
    assert _read(a) == _read(b)
    assert _read(a) != _read(c)
    with open(a, newline="") as f:
        rows = list(csv.reader(f))
    assert tuple(rows[0]) == inputs.SYNTH_COLUMNS
    assert len(rows) == 301
    assert all("\n" in r[1] for r in rows[1:])  # quoted two-line addresses


def test_corpus_is_a_function_of_the_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        inputs.write_corpus(str(tmp_path / name), 0.002, seed)
    for table in ("documents.parquet", "embeddings.parquet"):
        a, b, c = (_read(str(tmp_path / n / table)) for n in "abc")
        assert a == b
        assert a != c


def test_reported_metric_names_match_benchmark_json():
    import json

    import run
    from sparkstat import LAYER_METRICS, LayerSpan, Mark

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)

    class FakeWorkload:
        rows = 10

        @staticmethod
        def cols_ok_ratio(result):
            return 1.0

    span = LayerSpan("profile", Mark(0.0, 0, 0), Mark(1.0, 2, 3),
                     stats={m: 1.0 for m in LAYER_METRICS})
    traced = [{"wall_s": 1.5, "cpu_s": 2.0, "ok": True, "result": None, "spans": [span]}]
    layers = run.per_layer(FakeWorkload, traced, traced, [8.0])
    e2e = run.end_to_end(FakeWorkload, 3.0, traced, 100.0)
    assert list(layers) == [m["name"] for m in spec["per_layer"]]
    assert list(e2e) == [m["name"] for m in spec["end_to_end"]]
    for got, want in ((layers, spec["per_layer"]), (e2e, spec["end_to_end"])):
        assert {k: u for k, (_, u) in got.items()} == {m["name"]: m["unit"] for m in want}
    assert layers["profile.jobs"][0] == 1.0 and layers["pack.jobs"][0] == 0.0
