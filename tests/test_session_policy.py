"""Round-14 session-policy contracts: input-size-derived adaptivity,
the core-count parallelism floor, fan_out's conditional spread, and the
table() analyzed-plan memo. These pin the OPTIMIZATION semantics — the
policy must keep every core busy locally AND stay byte-derived at
scale — so a future tuning pass cannot silently reintroduce the
4-partition collapse measured in round 14 (OPTIMIZATION_r14.md)."""

from __future__ import annotations

import pytest

from piper_spark.session import (
    _derived_shuffle_partitions,
    fan_out,
    table,
)

SF_SMOKE = "/root/testdata/sf0.001"


def test_derived_partitions_floor_is_quarter_cores():
    # Tiny input → cpus/4 floor (shuffle-bound stages only; CPU-heavy
    # map stages are fanned out explicitly by the operators). Measured
    # on the 26 heaviest keys: 8 partitions beat 32 by ~17% at sf0.1.
    assert _derived_shuffle_partitions(17 << 20, 32) == 8
    assert _derived_shuffle_partitions(0, 8) == 2
    assert _derived_shuffle_partitions(1 << 20, 2) == 2


def test_derived_partitions_byte_derived_above_floor():
    # One partition per 4 MiB once that exceeds the core count...
    assert _derived_shuffle_partitions(400 << 20, 32) == 100
    # ...capped at 4x the core count to bound scheduling overhead.
    assert _derived_shuffle_partitions(900 << 20, 16) == 64


def test_fan_out_spreads_narrow_input(spark):
    few = spark.range(0, 1000, 1, 2)
    assert (
        fan_out(few).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_fan_out_is_noop_on_wide_input(spark):
    p = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, p + 3)
    # Already at/above the session parallelism: the SAME plan comes
    # back — at scale the round-robin exchange must never be paid.
    assert fan_out(wide) is wide
    assert fan_out(wide).rdd.getNumPartitions() == p + 3


def test_fan_out_preserves_rows(spark):
    few = spark.range(0, 257, 1, 1).selectExpr("id", "id * id AS sq")
    got = sorted(r["sq"] for r in fan_out(few).collect())
    assert got == sorted(i * i for i in range(257))


def test_table_memo_returns_same_plan(spark):
    # Plan reuse only — the same analyzed DataFrame object comes back,
    # so repeated table() calls skip the driver-side footer re-read.
    d1 = table(spark, SF_SMOKE, "documents")
    d2 = table(spark, SF_SMOKE, "documents")
    assert d1 is d2


def test_table_memo_keyed_on_dir_and_name(spark):
    d = table(spark, SF_SMOKE, "documents")
    e = table(spark, SF_SMOKE, "embeddings")
    assert d is not e
    other = table(spark, "/root/testdata/sf0.01", "documents")
    assert d is not other
    # Different dirs really are different relations, not stale plans
    # (documents keeps 500 rows across SFs; lineitem does not).
    assert (
        table(spark, "/root/testdata/sf0.01", "lineitem").count()
        != table(spark, SF_SMOKE, "lineitem").count()
    )


def test_table_reads_footer_schema_without_a_job(spark):
    """Each table's first read passes its parquet footer schema, which
    equals the one Spark infers, and fires no schema-inference job."""
    import uuid

    from piper_spark.session import TABLE_NAMES, _read_parquet

    sf = "/root/testdata/sf0.01"
    sc = spark.sparkContext
    group = f"footer-schema-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "footer schema reads")
    try:
        footer = {n: _read_parquet(spark, f"{sf}/{n}.parquet") for n in TABLE_NAMES}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    for name in TABLE_NAMES:
        inferred = spark.read.parquet(f"{sf}/{name}.parquet").schema
        assert footer[name].schema == inferred, name


def test_nanosecond_events_keep_the_inferred_read(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file is read by Spark's legacy
    inference (the footer schema cannot name it) and normalized to
    session-UTC microseconds, truncating the nanoseconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
        coerce_timestamps=None,
        version="2.6",
    )
    df = table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType == TimestampType()
    got = df.orderBy("event_id").selectExpr("unix_micros(ts) AS us").collect()
    assert [r.us for r in got] == [n // 1000 for n in ns]


def test_call_site_capture_is_off(spark):
    """get_spark turns off PySpark's per-call call-site capture."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_fan_out_skips_shuffled_plans(spark):
    """Round-15 (ADVICE 2): a plan already containing an Exchange comes
    back UNCHANGED and unprobed — `.rdd` on an Exchange-bearing plan
    under AQE eagerly executes its query stages, so fan_out must never
    touch one (its partitioning was set by the shuffle anyway)."""
    from pyspark.sql import functions as F

    agg = (
        spark.range(0, 100, 1, 2)
        .groupBy((F.col("id") % 10).alias("k"))
        .count()
    )
    assert fan_out(agg) is agg
    rep = spark.range(0, 100, 1, 2).repartition(3)
    assert fan_out(rep) is rep


def test_eager_fill_returns_same_relation(spark):
    """Round-15 (VERDICT 1): eager_fill is a pure materialization — the
    SAME DataFrame comes back (caller keeps the cache handle) and the
    rows are untouched."""
    from piper_spark.session import eager_fill

    df = spark.range(0, 57).selectExpr("id", "id * 3 AS t").persist()
    out = eager_fill(df)
    assert out is df
    assert sorted(r["t"] for r in out.collect()) == [
        3 * i for i in range(57)
    ]
    df.unpersist()


def test_identical_codegen_stages_share_one_class(spark):
    """Generated classes are named by their code, not their stage id, so
    a query whose branches have identical stage code (like graph_cc's
    rounds) compiles each distinct stage once and takes no more of the
    codegen cache than one branch would."""
    import uuid

    jvm = spark.sparkContext._jvm
    compiled = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def compiles(df) -> int:
        before = compiled.getCount()
        df.write.format("noop").mode("overwrite").save()
        return compiled.getCount() - before

    def branch(m: int):
        # a fresh literal, so no class from an earlier query is reused
        return spark.range(0, 1000, 1, 2).selectExpr(f"id % {m} AS k").groupBy("k").count()

    m = 1000 + uuid.uuid4().int % 10**6
    compiles(branch(m))  # the classes that hold no literal
    one = compiles(branch(m + 1))
    assert one > 0
    assert compiles(branch(m + 2).unionByName(branch(m + 2))) == one


def test_lloyd_seeds_out_rows_are_lowest_vec_ids(spark):
    """Round-15 (VERDICT 4): lloyd_centroids hands the seed ROWS back —
    the k lowest vec_ids with their xq — so consumers read the
    vec_id = 0 query vector from seeds_out[0] instead of running a
    filter/head job. Seeds must equal the initial centroids."""
    from piper_spark.functions.similarity import (
        _km_xq_col,
        lloyd_centroids,
    )

    vecs = (
        table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", _km_xq_col().alias("xq"))
        .persist()
    )
    seeds: list = []
    cents = lloyd_centroids(vecs, k=4, seeds_out=seeds)
    assert [int(r["vec_id"]) for r in seeds] == sorted(
        int(r["vec_id"]) for r in seeds
    )
    assert int(seeds[0]["vec_id"]) == 0  # fixture vec_ids are 0-based
    assert len(seeds) == len(cents) == 4
    assert all(len(r["xq"]) > 0 for r in seeds)  # rows carry xq
    vecs.unpersist()


#: Keys that spread the documents scan before CPU-heavy per-row work.
_DOC_SPREAD_KEYS = [
    "dedup_substring",
    "dedup_containment",
    "text_decontam",
    "text_boilerplate",
    "text_substring_clean",
    "text_boilerplate_lines",
    "text_self_repeat",
    "text_dup_grams",
    "pipeline_curate",
]


@pytest.fixture(scope="module")
def many_split_sf(spark, tmp_path_factory):
    """SF_SMOKE with `documents` rewritten as one file per core, so its
    scan already has the session's parallelism."""
    import os

    d = tmp_path_factory.mktemp("sf_many_splits")
    for f in os.listdir(SF_SMOKE):
        if f != "documents.parquet":
            os.symlink(os.path.join(SF_SMOKE, f), d / f)
    p = spark.sparkContext.defaultParallelism
    spark.read.parquet(f"{SF_SMOKE}/documents.parquet").repartition(p).write.parquet(
        str(d / "documents.parquet")
    )
    return str(d)


def _round_robin_over_scan(plan: str) -> list[str]:
    """RoundRobin repartition exchanges whose subtree reaches a file scan
    before any other exchange."""

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-|"))

    lines = plan.splitlines()
    hits = []
    for i, line in enumerate(lines):
        if "RoundRobinPartitioning" not in line or "REPARTITION_BY_NUM" not in line:
            continue
        for sub in lines[i + 1 :]:
            if depth(sub) <= depth(line) or "Exchange" in sub:
                break
            if "FileScan parquet" in sub:
                hits.append(line.strip())
                break
    return hits


@pytest.mark.parametrize("key", _DOC_SPREAD_KEYS)
def test_doc_spread_is_noop_on_many_split_input(spark, many_split_sf, key):
    """The documents scan is spread with `fan_out`: with one split per
    core already, no round-robin exchange sits on it."""
    from piper_spark import registry

    assert table(spark, many_split_sf, "documents").rdd.getNumPartitions() >= (
        spark.sparkContext.defaultParallelism
    )
    df = registry.all_queries()[key](spark, many_split_sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not _round_robin_over_scan(plan), plan
