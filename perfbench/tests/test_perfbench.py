"""The benchmark's own tests: ``python3 -m pytest perfbench/tests -q`` from
the root of a checkout.  They run planted keys on a small local session;
no input tables are read."""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from bench import (  # noqa: E402
    KeyRunner,
    end_to_end,
    per_layer,
    run_pass,
    timed_passes,
)
from spans import SparkProbe, Tracer, parse_metric, self_times  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
#: Per-layer metrics whose values are counts, which must repeat exactly.
COUNTS = [m["name"] for m in SPEC["per_layer"] if m["unit"] == "count"]


def _boom(spark, sf_dir):
    raise RuntimeError("planted failure")


def _udf_key(spark, sf_dir):
    """A shuffle, a persisted relation and an Arrow UDF."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(s):
        return s + 1

    base = spark.range(0, 200, 1, 4).withColumn("g", F.col("id") % 7).persist()
    return base.groupBy("g").agg(F.sum(plus_one("id")).alias("s")).join(base, "g")


QUERIES = {
    "ok": lambda spark, sf_dir: spark.range(10),
    "boom": _boom,
    "wrong": lambda spark, sf_dir: spark.range(3),
    "udf": _udf_key,
}
EXPECTED = {"ok": 10, "boom": 1, "wrong": 4, "udf": 200}


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_pass_order_is_a_seeded_permutation():
    keys = WORKLOADS["llm_curation"].keys
    first = [pass_order(keys, 7, p) for p in range(5)]
    assert first == [pass_order(keys, 7, p) for p in range(5)]
    assert all(sorted(o) == sorted(keys) for o in first)
    assert len({tuple(o) for o in first}) > 1
    assert first != [pass_order(keys, 8, p) for p in range(5)]


def test_metric_names_are_valid():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
    assert "setup_s" in names


def test_parse_metric():
    assert parse_metric("1,234") == 1234
    assert parse_metric("0 ms") == 0
    assert parse_metric("total (min, med, max (stageId: taskId))\n4.9 s (1.2 s)") == 4900


def test_planted_failures_are_counted_and_the_rest_time(spark, tmp_path):
    runner = KeyRunner(spark, "unused", "noop", tmp_path, QUERIES, EXPECTED)
    keys = ("ok", "boom", "wrong", "udf")
    warm = run_pass(runner, keys, seed=3, pass_no=0)
    timed, walls = timed_passes(runner, keys, seed=3, seconds=0.0)
    assert len(walls) >= 2
    failed = {e.key for e in warm + timed if not e.ok}
    assert failed == {"boom", "wrong"}
    by_key = {e.key: e for e in timed}
    assert "planted failure" in by_key["boom"].error
    assert "row count 3" in by_key["wrong"].error
    assert by_key["ok"].seconds > 0 and by_key["udf"].ok
    m = end_to_end(1.0, warm, timed)
    assert m["ok_frac"] == pytest.approx(0.5)
    assert m["pass_s"] > 0 and m["query_p50_s"] > 0


def test_parquet_sink_counts_rows_from_footers(spark, tmp_path):
    runner = KeyRunner(spark, "unused", "parquet", tmp_path, QUERIES, EXPECTED)
    ok, wrong = runner.run("ok", 1), runner.run("wrong", 1)
    assert ok.ok and not wrong.ok
    assert list((tmp_path / "ok").rglob("*.parquet"))


def _traced_pass(spark, tmp_path, pass_no):
    tracer = Tracer()
    runner = KeyRunner(spark, "unused", "noop", tmp_path, QUERIES, EXPECTED)
    probe = SparkProbe(spark)
    execs = run_pass(runner, ("ok", "udf"), 5, pass_no, tracer, probe)
    return tracer, execs


def test_traced_spans_nest_inside_their_key_span(spark, tmp_path):
    tracer, _ = _traced_pass(spark, tmp_path, 1)
    spans = tracer.spans
    assert {s.name for s in spans} >= {"key", "build", "plans", "action", "cache.clear"}
    for s in spans:
        assert s.end >= s.start
        if s.name == "key":
            assert s.parent is None
            continue
        parent = spans[s.parent]
        assert parent.name == "key" and parent.key == s.key
        assert parent.start <= s.start and s.end <= parent.end
    own = self_times(spans)
    assert all(t >= -1e-9 for t in own)


def test_two_traced_runs_give_equal_counts(spark, tmp_path):
    _, first = _traced_pass(spark, tmp_path, 1)
    tracer, second = _traced_pass(spark, tmp_path, 2)
    pick = lambda execs: {  # noqa: E731
        (e.key, m): v for e in execs for m, v in e.counts.items() if m in COUNTS
    }
    assert pick(first) == pick(second)
    udf = next(e for e in second if e.key == "udf").counts
    assert udf["udfs.nodes"] == 1 and udf["udfs.rows"] == 200
    # The runner clears the cache after every key, so nothing is left.
    assert udf["exec.jobs"] >= 1 and udf["cache.peak_bytes"] > 0
    assert udf["cache.blocks_left"] == 0
    values = per_layer(
        tracer,
        second,
        first,
        {"ok": "operators", "udf": "functions"},
        [m["name"] for m in SPEC["per_layer"]],
    )
    assert set(values) >= {m["name"] for m in SPEC["per_layer"]}
    assert values["exec.jobs"] > 0 and values["functions.build_s"] > 0
    assert values["udfs.nodes"] == 1
