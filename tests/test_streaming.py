"""Batch/stream parity smoke tests (SURVEY.md §5 strategy #5).

The streaming twins must produce the same rows as their oracle-checked
batch counterparts when the whole input is drained via availableNow.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from piper_spark.functions.sessions import (
    event_hwm,
    event_sessions,
    event_sliding,
    event_tumbling,
)
from piper_spark.session import table
from piper_spark.streaming import (
    read_event_stream,
    run_available_now,
    stream_dedup,
    stream_sessionize,
    stream_sliding,
    stream_tumbling,
)
from piper_spark.streaming.events import stream_high_water_marks
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(spark):
    """events table re-materialized as clean (µs-timestamp) parquet files."""
    d = tempfile.mkdtemp(prefix="piper_events_")
    table(spark, SF_SMOKE, "events").repartition(4).write.mode("overwrite").parquet(d)
    return d


def _per_user_totals(df):
    return {
        r.user_id: (r.n_sessions, r.n_events)
        for r in df.groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events"))
        .collect()
    }


def test_stream_tumbling_matches_batch(spark, events_dir):
    stream = read_event_stream(spark, events_dir, max_files_per_trigger=2)
    run_available_now(stream_tumbling(stream), "tumbling_out")
    got = {
        (r.day, r.event_type): (r.cnt, r.total_value)
        for r in spark.table("tumbling_out").collect()
    }
    want = {
        (r.day, r.event_type): (r.cnt, r.total_value)
        for r in event_tumbling(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_stream_sliding_matches_batch(spark, events_dir):
    stream = read_event_stream(spark, events_dir)
    run_available_now(stream_sliding(stream), "sliding_out")
    got = {
        (r.win_start, r.event_type): r.cnt
        for r in spark.table("sliding_out").collect()
    }
    want = {
        (r.win_start, r.event_type): r.cnt
        for r in event_sliding(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_stream_dedup_drops_watermark_duplicates(spark, events_dir):
    # duplicate the whole input: two copies of every event_id arrive
    doubled = tempfile.mkdtemp(prefix="piper_events_dup_")
    e = table(spark, SF_SMOKE, "events")
    e.unionAll(e).repartition(4).write.mode("overwrite").parquet(doubled)
    stream = read_event_stream(spark, doubled)
    run_available_now(stream_dedup(stream), "dedup_out", output_mode="append")
    assert spark.table("dedup_out").count() == e.count()


def test_stream_custom_state_matches_batch(spark, events_dir):
    """applyInPandasWithState (custom per-user running-max state) must
    converge to the oracle-checked batch twin after draining the input.
    Updates arrive per micro-batch; the memory sink keeps every update,
    so compare each user's LAST emitted count (single-file trigger
    order is the file order, monotone per user)."""
    # Running-max state is order-sensitive, so the fixture must deliver
    # micro-batches in time order. The file source picks files oldest-
    # mtime-first under maxFilesPerTrigger, so write three consecutive
    # time slices as separate appends with distinct mtimes.
    import time

    ordered = tempfile.mkdtemp(prefix="piper_events_ord_")
    e = table(spark, SF_SMOKE, "events")
    cut1, cut2 = "2024-01-11", "2024-01-21"
    slices = [
        e.filter(F.col("ts") < F.lit(cut1).cast("timestamp")),
        e.filter(
            (F.col("ts") >= F.lit(cut1).cast("timestamp"))
            & (F.col("ts") < F.lit(cut2).cast("timestamp"))
        ),
        e.filter(F.col("ts") >= F.lit(cut2).cast("timestamp")),
    ]
    for s in slices:
        s.coalesce(1).sortWithinPartitions("ts", "event_id").write.mode(
            "append"
        ).parquet(ordered)
        time.sleep(1.1)  # distinct mtimes → deterministic trigger order
    stream = read_event_stream(spark, ordered, max_files_per_trigger=1)
    run_available_now(
        stream_high_water_marks(stream), "hwm_out", output_mode="update"
    )
    got = {
        r.user_id: r.n_records
        for r in spark.table("hwm_out")
        .groupBy("user_id")
        .agg(F.max("n_records").alias("n_records"))
        .collect()
    }
    want = {r.user_id: r.n_records for r in event_hwm(spark, SF_SMOKE).collect()}
    assert got == want


def test_stream_anomaly_counts_match_prequential_batch(spark, events_dir):
    """applyInPandasWithState (running-moment anomaly fold) must equal
    the oracle-checked exclusive-window batch twin after draining the
    input in time order — same prequential semantics, same integer
    moments, same IEEE comparisons."""
    import time

    from piper_spark.functions.sessions import event_anomaly_run
    from piper_spark.streaming.events import stream_anomaly_counts

    ordered = tempfile.mkdtemp(prefix="piper_events_anom_")
    e = table(spark, SF_SMOKE, "events")
    cut1, cut2 = "2024-01-11", "2024-01-21"
    slices = [
        e.filter(F.col("ts") < F.lit(cut1).cast("timestamp")),
        e.filter(
            (F.col("ts") >= F.lit(cut1).cast("timestamp"))
            & (F.col("ts") < F.lit(cut2).cast("timestamp"))
        ),
        e.filter(F.col("ts") >= F.lit(cut2).cast("timestamp")),
    ]
    for s in slices:
        s.coalesce(1).sortWithinPartitions("ts", "event_id").write.mode(
            "append"
        ).parquet(ordered)
        time.sleep(1.1)  # distinct mtimes → deterministic trigger order
    stream = read_event_stream(spark, ordered, max_files_per_trigger=1)
    run_available_now(
        stream_anomaly_counts(stream), "anom_out", output_mode="update"
    )
    got = {
        (r.user_id, r.n_events, r.n_flagged)
        for r in spark.table("anom_out")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("n_flagged").alias("n_flagged"),
        )
        .collect()
    }
    want = {
        (r.user_id, r.n_events, r.n_flagged)
        for r in event_anomaly_run(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_stream_running_topk_matches_batch_any_order(spark, events_dir):
    """The running top-3 state must converge to the oracle-checked
    batch twin from an UNORDERED fixture — the top-k multiset is
    order-insensitive, which is the point of choosing it as state."""
    from piper_spark.functions.sessions import event_topk_run
    from piper_spark.streaming.events import stream_running_topk

    stream = read_event_stream(spark, events_dir, max_files_per_trigger=1)
    run_available_now(
        stream_running_topk(stream), "topk_out", output_mode="update"
    )
    # Every emission is best-so-far, so each slot is monotone
    # non-decreasing per user (None first) — the final state is the
    # per-user elementwise max, no emission-order bookkeeping needed.
    got = {
        r.user_id: (r.top1, r.top2, r.top3)
        for r in spark.table("topk_out")
        .groupBy("user_id")
        .agg(
            F.max("top1").alias("top1"),
            F.max("top2").alias("top2"),
            F.max("top3").alias("top3"),
        )
        .collect()
    }
    want = {
        r.user_id: (r.top1, r.top2, r.top3)
        for r in event_topk_run(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_stream_sessionize_matches_batch_totals(spark, events_dir):
    stream = read_event_stream(spark, events_dir)
    run_available_now(stream_sessionize(stream), "sessions_out")
    # session_window merges by gap exactly like the lag-based batch op:
    # same session count and event total per user
    got = _per_user_totals(spark.table("sessions_out"))
    want = _per_user_totals(event_sessions(spark, SF_SMOKE))
    assert got == want


def test_stream_pii_scrub_matches_batch(spark):
    """Stateless streaming twin: the PII redaction expression set must
    produce identical per-doc facts on a stream as on the batch table
    (no watermark, no state — append mode, one row out per row in)."""
    import tempfile as _tf

    from piper_spark.functions.text import text_pii
    from piper_spark.streaming.events import read_document_stream, stream_pii_scrub

    d = _tf.mkdtemp(prefix="piper_docs_")
    table(spark, SF_SMOKE, "documents").repartition(3).write.mode(
        "overwrite"
    ).parquet(d)
    stream = read_document_stream(spark, d)
    run_available_now(stream_pii_scrub(stream), "pii_out", output_mode="append")
    got = {
        r.doc_id: (r.n_emails, r.n_phones, r.n_ips, r.clean_len)
        for r in spark.table("pii_out").collect()
    }
    want = {
        r.doc_id: (r.n_emails, r.n_phones, r.n_ips, r.clean_len)
        for r in text_pii(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_stream_append_mode_watermark_eviction_observed(spark):
    """Soak beyond the availableNow smokes: time-ordered micro-batches in
    APPEND mode, where a window row is emitted only once the watermark
    passes its end — and the state store must EVICT it at that point.
    Asserts eviction from the engine's own state-operator metrics, not
    from output shape alone."""
    import time

    ordered = tempfile.mkdtemp(prefix="piper_events_soak_")
    e = table(spark, SF_SMOKE, "events")
    cuts = ["2024-01-08", "2024-01-15", "2024-01-22"]
    lo = F.lit("1900-01-01").cast("timestamp")
    bounds = [(lo, cuts[0]), (cuts[0], cuts[1]), (cuts[1], cuts[2]), (cuts[2], None)]
    for lo_b, hi_b in bounds:
        s = e.filter(F.col("ts") >= lo_b)
        if hi_b is not None:
            s = s.filter(F.col("ts") < F.lit(hi_b).cast("timestamp"))
        s.coalesce(1).write.mode("append").parquet(ordered)
        time.sleep(1.1)  # distinct mtimes → deterministic trigger order
    stream = read_event_stream(spark, ordered, max_files_per_trigger=1)
    q = (
        stream_tumbling(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("soak_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    progress = [p.asDict(recursive=True) if hasattr(p, "asDict") else p
                for p in q.recentProgress]
    import json as _json

    progress = [p if isinstance(p, dict) else _json.loads(p.json) for p in q.recentProgress]
    fed = [p for p in progress if p["numInputRows"] > 0]
    assert len(fed) >= 3, "soak must span multiple micro-batches"
    # watermark advanced across batches
    wms = [p["eventTime"].get("watermark") for p in progress if p.get("eventTime")]
    wms = [w for w in wms if w and not w.startswith("1970")]
    assert len(set(wms)) >= 2, f"watermark never advanced: {wms}"
    # state rows were REMOVED when the watermark passed their window
    removed = sum(
        so.get("numRowsRemoved", 0) for p in progress for so in p.get("stateOperators", [])
    )
    assert removed > 0, "no state eviction observed across the soak"
    # append-mode output is exactly the batch windows the final watermark
    # passed — a subset of the oracle-checked batch twin, never different
    got = {
        (r.day, r.event_type): (r.cnt, r.total_value)
        for r in spark.table("soak_out").collect()
    }
    want = {
        (r.day, r.event_type): (r.cnt, r.total_value)
        for r in event_tumbling(spark, SF_SMOKE).collect()
    }
    assert got, "append mode emitted nothing — watermark never closed a window"
    for k, v in got.items():
        assert want.get(k) == v, f"append-mode row diverges from batch twin: {k}"


def test_stream_rate_source_soak_live_triggers(spark):
    """A genuinely live (non-availableNow) run: rate source + processing-
    time trigger, stopped after several micro-batches. Exercises the
    always-on path — trigger scheduling, watermark advance on live
    event time, state eviction — that backlog drains can't."""
    import time

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 7).alias("user_id"),
        )
    )
    windowed = (
        rate.withWatermark("ts", "2 seconds")
        .groupBy(F.window("ts", "1 second").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("sec"), "user_id", "cnt")
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("rate_soak")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    import json as _json

    deadline = time.time() + 120  # generous: live triggers share cores
                                  # with whatever else the host runs
    removed, full = 0, []
    while time.time() < deadline:
        progress = [_json.loads(p.json) if not isinstance(p, dict) else p
                    for p in q.recentProgress]
        removed = sum(
            so.get("numRowsRemoved", 0)
            for p in progress
            for so in p.get("stateOperators", [])
        )
        # The FIRST closed window is usually partial (the stream starts
        # mid-second), so don't stop until a COMPLETE one has been
        # emitted — under host load that can take several extra batches.
        per_sec = {
            r.sec: r.total
            for r in spark.table("rate_soak")
            .groupBy("sec")
            .agg(F.sum("cnt").alias("total"))
            .collect()
        }
        full = [v for v in per_sec.values() if v == 200]
        if removed > 0 and full:
            break
        time.sleep(1)
    q.stop()
    assert removed > 0, "live soak: no watermark-driven state eviction"
    # every emitted (closed) window carries a full second of the rate
    # source: 200 rows/s over 7 users → per-user counts must total 200
    assert full, f"no complete 1-second window observed: {per_sec}"


def test_stateful_ops_build_apply_in_pandas_with_state_plan(spark, events_dir):
    """The three custom stateful ops build the applyInPandasWithState
    plan (FlatMapGroupsInPandasWithState)."""
    from piper_spark.streaming.events import (
        stream_anomaly_counts,
        stream_running_topk,
    )

    stream = read_event_stream(spark, events_dir)
    for op in (stream_high_water_marks, stream_anomaly_counts, stream_running_topk):
        df = op(stream)
        assert (
            "FlatMapGroupsInPandasWithState"
            in df._jdf.queryExecution().logical().toString()
        )


def test_stream_countmin_matches_batch_counters_and_estimates(spark):
    """The streaming CMS twin (per-occurrence path, update-mode agg)
    must land on the SAME counter grid the batch op derives through its
    vocabulary-hash shortcut — and a pure-Python reimplementation of
    the sketch probe must reproduce the registered op's estimates from
    the streamed counters."""
    import tempfile as _tf

    from piper_spark.operators.aggregates import (
        CMS_MIXERS,
        CMS_MOD,
        CMS_WIDTH,
        agg_countmin,
    )
    from piper_spark.functions.text import WORD_HASH_MOD
    from piper_spark.streaming.events import (
        read_document_stream,
        stream_countmin,
    )

    d = _tf.mkdtemp(prefix="piper_docs_cms_")
    table(spark, SF_SMOKE, "documents").repartition(3).write.mode(
        "overwrite"
    ).parquet(d)
    run_available_now(
        stream_countmin(read_document_stream(spark, d)),
        "cms_out",
        output_mode="complete",
    )
    streamed = {
        (r.r, r.bkt): r.cnt for r in spark.table("cms_out").collect()
    }

    # Batch counters, rebuilt from exact per-word counts (the registered
    # op's vocabulary path) in plain Python.
    wc: dict[str, int] = {}
    for row in table(spark, SF_SMOKE, "documents").select("text").collect():
        for w in row.text.split(" "):
            wc[w] = wc.get(w, 0) + 1

    def h(word: str) -> int:
        acc = 0
        for ch in word:
            acc = (acc * 31 + ord(ch)) % WORD_HASH_MOD
        return acc

    batch: dict[tuple[int, int], int] = {}
    for w, c in wc.items():
        for r, a, b in CMS_MIXERS:
            key = (r, ((h(w) * a + b) % CMS_MOD) % CMS_WIDTH)
            batch[key] = batch.get(key, 0) + c
    assert streamed == batch

    # The registered op's estimates must equal a probe of the STREAMED
    # counters: est(word) = min over rows of counter[r, b_r(word)].
    for row in agg_countmin(spark, SF_SMOKE).collect():
        est = min(
            streamed[(r, ((h(row.word) * a + b) % CMS_MOD) % CMS_WIDTH)]
            for r, a, b in CMS_MIXERS
        )
        assert est == row.cms_est, row.word


def test_stream_ohlc_matches_batch(spark, events_dir):
    """Hourly OHLC bars from the drained stream must equal the
    oracle-checked batch `ts_ohlc` — including the min_by/max_by
    open/close keepers, whose composite key makes them arrival-order
    independent (files arrive 2 per trigger, out of original order)."""
    from piper_spark.functions.sessions import ts_ohlc
    from piper_spark.streaming import stream_ohlc

    stream = read_event_stream(spark, events_dir, max_files_per_trigger=2)
    run_available_now(stream_ohlc(stream), "ohlc_out")
    got = {
        (r.bar_ts, r.event_type): (
            r.open, r.high, r.low, r.close, r.n_trades, r.volume_cents
        )
        for r in spark.table("ohlc_out").collect()
    }
    want = {
        (r.bar_ts, r.event_type): (
            r.open, r.high, r.low, r.close, r.n_trades, r.volume_cents
        )
        for r in ts_ohlc(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_stream_drift_matches_batch_counts(spark):
    """Round-9: the drift audit's count stage must converge to the
    batch histogram from a stream drained in any micro-batch order
    (fixed ≤10-bin key space — update-mode state never grows)."""
    import tempfile as _tf

    from piper_spark.pipelines import drift_counts
    from piper_spark.streaming.events import read_document_stream, stream_drift

    d = _tf.mkdtemp(prefix="piper_docs_")
    table(spark, SF_SMOKE, "documents").repartition(5).write.mode(
        "overwrite"
    ).parquet(d)
    run_available_now(
        stream_drift(read_document_stream(spark, d)),
        "drift_out",
        output_mode="complete",
    )
    got = {
        r.bin: (r.ref_n, r.cur_n) for r in spark.table("drift_out").collect()
    }
    want = {
        r.bin: (r.ref_n, r.cur_n)
        for r in drift_counts(table(spark, SF_SMOKE, "documents")).collect()
    }
    assert got == want


def test_stream_hll_matches_batch_registers(spark, events_dir):
    """Round-10: the streaming HLL twin (update-mode MAX aggregation,
    fixed |types|·64 key space) must land on the SAME register relation
    the batch `hll_registers` derives from the full table — max merges
    across micro-batches exactly as across shards — and the batch
    estimate finish applied to the STREAMED registers must be
    self-consistent (alpha·m²/Σ2^−reg over 64 registers)."""
    from piper_spark.operators.aggregates import HLL_M, hll_registers
    from piper_spark.streaming.events import stream_hll

    stream = read_event_stream(spark, events_dir, max_files_per_trigger=2)
    run_available_now(stream_hll(stream), "hll_out", output_mode="complete")
    streamed = {
        (r.g, r.bucket): r.reg for r in spark.table("hll_out").collect()
    }
    batch = {
        (r.g, r.bucket): r.reg
        for r in hll_registers(
            table(spark, SF_SMOKE, "events"), "event_type", "user_id"
        ).collect()
    }
    assert streamed == batch

    # Estimate finish from the streamed snapshot: exact powers of two,
    # so plain Python float arithmetic reproduces the engine doubles.
    import math

    types = {g for g, _ in streamed}
    for g in types:
        regs = [streamed.get((g, b), 0) for b in range(HLL_M)]
        inv = sum(1.0 / (1 << r) for r in regs)
        est = (0.709 * 4096.0) / inv
        zeros = regs.count(0)
        # The FULL Flajolet finish, including the small-range
        # linear-counting branch the registered key deliberately omits
        # (it needs ln(), which is libm- not IEEE-contractual — fine
        # here in the consumer, where bit-exactness is not at stake):
        # the smoke fixture's per-type cardinality (~15) is deep in
        # the n < 2.5m regime where the raw estimate alone is biased.
        if est <= 2.5 * HLL_M and zeros > 0:
            est = HLL_M * math.log(HLL_M / zeros)
        exact = (
            table(spark, SF_SMOKE, "events")
            .filter(F.col("event_type") == g)
            .select("user_id").distinct().count()
        )
        assert 0.5 * exact <= est <= 2.0 * exact, (g, est, exact)
