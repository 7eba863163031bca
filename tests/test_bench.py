"""bench.py: a key that raises is reported, not fatal; every key gets a
layer record; `--keys` limits the run to the keys named.
scripts/compare_pins.py: the noise tag reads the same both ways."""

from __future__ import annotations

import json

import pytest

import bench
from tests.conftest import SF_SMOKE


def _boom(spark, sf_dir):
    raise RuntimeError("boom: no such table")


def test_failing_key_is_named_and_left_out(spark, capsys):
    queries = {
        "a_ok": lambda spark, sf_dir: spark.range(3),
        "b_bad": _boom,
        "c_ok": lambda spark, sf_dir: spark.range(2),
    }
    bench.warm_up(spark, queries, SF_SMOKE)
    assert "warm-up b_bad failed: RuntimeError: boom: no such table" in (
        capsys.readouterr().err
    )

    failed: set[str] = set()
    timings = bench.timed_pass(spark, queries, SF_SMOKE, False, failed)
    assert set(timings) == {"a_ok", "c_ok"}
    assert failed == {"b_bad"}
    assert "timed b_bad failed: RuntimeError" in capsys.readouterr().err

    detail, compact = bench.summary_lines(timings, failed, 0.001, 1.0)
    assert detail["failed"] == compact["failed"] == ["b_bad"]
    assert set(detail["queries"]) == {"a_ok", "c_ok"}
    assert detail["value"] == compact["value"] == round(sum(timings.values()), 3)
    assert compact["n_queries"] == 2


#: A subset of the probe's metric names (perfbench/spans.py), one per
#: layer the record carries.
PROBE_NAMES = {
    "build_jobs", "exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms",
    "exec.cpu_ms", "exec.gc_ms", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.input_bytes", "exec.task_skew", "udfs.nodes",
    "udfs.init_ms", "udfs.total_ms", "cache.peak_bytes", "cache.blocks_left",
}


def _collects_while_building(spark, sf_dir):
    n = spark.range(5).count()
    return spark.range(n).groupBy().count()


def test_layer_record_per_key(spark, capsys):
    queries = {
        "a_ok": lambda spark, sf_dir: spark.range(3),
        "b_bad": _boom,
        "c_collect": _collects_while_building,
    }
    failed: set[str] = set()
    layers: dict[str, list[dict]] = {}
    timings = bench.timed_pass(spark, queries, SF_SMOKE, False, failed, layers)
    bench.timed_pass(spark, queries, SF_SMOKE, True, failed, layers)
    assert set(layers) == set(queries)
    assert all(len(recs) == 2 for recs in layers.values())
    assert set(timings) == {"a_ok", "c_collect"}
    assert failed == {"b_bad"}

    for rec in layers["b_bad"]:
        assert rec["error"] == "RuntimeError: boom: no such table"
        assert rec["wall"] is None
    for name in ("a_ok", "c_collect"):
        for rec in layers[name]:
            assert rec["error"] is None
            assert PROBE_NAMES <= set(rec)
            assert rec["exec.jobs"] >= 1
            assert rec["wall"] == pytest.approx(
                rec["build_s"] + rec["action_s"], abs=2e-3
            )
    assert [r["build_jobs"] for r in layers["c_collect"]] == [1, 1]
    assert [r["build_jobs"] for r in layers["a_ok"]] == [0, 0]
    assert layers["a_ok"][0]["wall"] == timings["a_ok"]
    assert "timed b_bad failed: RuntimeError" in capsys.readouterr().err


def _unresolved(spark, sf_dir):
    return spark.range(3).select("no_such_col")


def test_jvm_error_record_keeps_class_and_message(spark):
    """With call-site capture off, an analysis error still reaches the
    record with its exception class and message."""
    failed: set[str] = set()
    layers: dict[str, list[dict]] = {}
    bench.timed_pass(spark, {"bad": _unresolved}, SF_SMOKE, False, failed, layers)
    assert failed == {"bad"}
    err = layers["bad"][0]["error"]
    assert err.startswith("AnalysisException: [UNRESOLVED_COLUMN"), err
    assert "no_such_col" in err


def test_watched_line_is_registry_keys_and_fits_the_tail():
    """The final line names a fixed set of ~45 registry keys and stays
    well under a 2,000-character stdout tail with realistic figures."""
    from piper_spark import registry

    assert 40 <= len(bench.WATCHED) <= 50
    assert len(set(bench.WATCHED)) == len(bench.WATCHED)
    assert set(bench.WATCHED) <= set(registry.all_queries())
    timings = {k: 12.345 for k in registry.all_queries()}
    _, compact = bench.summary_lines(timings, set(), 0.1, 0.123)
    line = bench.watched_line(compact, timings)
    assert list(line["queries"]) == list(bench.WATCHED)
    assert len(json.dumps(line, separators=(",", ":"))) < 1800


def test_keys_flag_warms_up_and_times_only_those_keys(
    spark, monkeypatch, tmp_path, capsys
):
    calls: list[tuple[str, str]] = []

    def key(name):
        def fn(spark, sf_dir):
            calls.append((name, sf_dir))
            return spark.range(2)

        return fn

    monkeypatch.setattr(
        bench.registry, "all_queries", lambda: {k: key(k) for k in "xyz"}
    )
    monkeypatch.setattr(bench, "get_spark", lambda name: spark)
    monkeypatch.setattr(bench, "HERE", str(tmp_path))
    sf_dir = str(tmp_path / "sf0.5")
    monkeypatch.setattr(bench, "WATCHED", ("z", "not_run"))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_PINS", raising=False)
    bench.main(["--keys", "z", "x"])

    warm = SF_SMOKE  # bench.py warms up at the smallest scale factor
    assert calls == [("x", warm), ("z", warm), ("x", sf_dir), ("z", sf_dir)]
    with open(tmp_path / "BENCH_DETAIL.json") as fh:
        detail = json.load(fh)
    assert set(detail["queries"]) == set(detail["layers"]) == {"x", "z"}
    lines = [json.loads(s) for s in capsys.readouterr().out.splitlines()]
    assert lines[1]["n_queries"] == 2
    assert len(lines) == 3
    assert list(lines[2]["queries"]) == ["z"]
    assert lines[2]["value"] == lines[1]["value"]

    with pytest.raises(SystemExit):
        bench.main(["--keys", "x", "no_such_key"])


def test_compare_pins_tags_noise_in_both_directions(monkeypatch, tmp_path, capsys):
    """A flagged key whose new runs' spread contains the old median is
    tagged noise-suspect whether it got slower or faster; a key that
    moved outside that spread is printed bare."""
    from scripts import compare_pins

    pins = {
        "old": [{"slow": 1.0, "fast": 1.0, "real": 1.0, "flat": 1.0}] * 3,
        "new": [
            {"slow": 1.0, "fast": 0.5, "real": 0.5, "flat": 1.0},
            {"slow": 2.0, "fast": 0.5, "real": 0.5, "flat": 1.1},
            {"slow": 2.0, "fast": 1.0, "real": 0.6, "flat": 0.9},
        ],
    }
    for tag, runs in pins.items():
        for i, queries in enumerate(runs, 1):
            (tmp_path / f"BENCH_PIN_{tag}_run{i}.json").write_text(
                json.dumps({"queries": queries})
            )
    monkeypatch.setattr(compare_pins, "HERE", str(tmp_path))
    compare_pins.main(["old", "new", "1.3"])

    lines = {
        line.split()[1]: line
        for line in capsys.readouterr().out.splitlines()[1:]
    }
    assert set(lines) == {"slow", "fast", "real"}
    assert lines["slow"].startswith("REGRESS") and "noise-suspect" in lines["slow"]
    assert lines["fast"].startswith("improve") and "noise-suspect" in lines["fast"]
    assert lines["real"].startswith("improve") and "noise-suspect" not in lines["real"]
