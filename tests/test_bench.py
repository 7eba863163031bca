"""bench.py failure handling: a key that raises is reported, not fatal."""

from __future__ import annotations

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
