"""Structured Streaming twins of the batch event operators.

The LOGIC is the exact same column expressions as the oracle-checked
batch queries (functions/sessions.py) — `F.window` for tumbling,
`F.session_window` for sessionization — wrapped in readStream /
writeStream with watermarks for late data. Batch mode carries the
correctness burden (SURVEY.md §2B streaming note); stream mode is
smoke-tested for batch/stream parity via the availableNow trigger
(tests/test_streaming.py).

The reference has NO streaming — its Luigi keep_alive worker loop is
batch re-polling (reference: docker/luigi_worker.sh:2-14, SURVEY.md
§2A) — so this layer is new engine surface, not a port.

Scale notes: state is keyed by (window, event_type) / (session, user)
— bounded by the watermark horizon; shuffle partitions carry state
shards, and `spark.sql.streaming.statefulOperator.*` defaults apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from piper_spark.functions.numeric import dsum

#: Schema of the events table AFTER the ns→us shim (session.table).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over parquet event batches."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_tumbling(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Tumbling 1-day per-type counts — streaming twin of `event_tumbling`."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(F.col("w.start").alias("day"), "event_type", "cnt", "total_value")
    )


def stream_sliding(events: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Sliding 2-day/1-day per-type counts — twin of `event_sliding`."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("win_start"), "event_type", "cnt")
    )


def stream_ohlc(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Hourly OHLC bars — streaming twin of `ts_ohlc`, sharing its
    `ohlc_aggs()` fold verbatim (min_by/max_by/min/max/sum/count are
    all partial-agg-able, so the streaming state per (type, hour) bar
    is one combiner buffer — sketches and bars are streaming-native
    the same way `stream_countmin` is).  The open/close keeper key is
    the same composite rel-microsecond + event_id DECIMAL(38,0) as the
    batch projection (`_OHLC_K_SPARK`, shared text — wide arithmetic,
    so no id-range assumption; a stream has no footer to assert from),
    so a bar's open/close converge to the batch answer from ANY
    micro-batch arrival order once the watermark closes the window."""
    from piper_spark.functions.sessions import _OHLC_K_SPARK, ohlc_aggs

    proj = events.withWatermark("ts", watermark).select(
        "ts",
        "event_type",
        F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("cents"),
        F.expr(_OHLC_K_SPARK).alias("k"),
    )
    return (
        proj.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(*ohlc_aggs())
        .select(
            F.col("w.start").alias("bar_ts"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_trades",
            "volume_cents",
        )
    )


def stream_sessionize(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "1 hour") -> DataFrame:
    """Session windows per user — native stateful twin of `event_sessions`."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop duplicate event_ids arriving within the watermark horizon —
    streaming twin of exact dedup; state is bounded by the watermark
    (dropDuplicatesWithinWatermark), so it runs forever at any rate."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def _fold_hwm(maxv, cnt, pdfs):  # pragma: no cover — runs in worker
    """Running-max fold: gather the group's Arrow chunks (they arrive
    in arbitrary order; the fold is order-dependent), sort ONCE by
    (ts, event_id), fold."""
    import pandas as pd  # local import: executes in the Python worker

    chunks = [pdf for pdf in pdfs]
    if chunks:
        batch = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        for v in batch["value"]:
            if maxv is None or v > maxv:
                maxv, cnt = float(v), cnt + 1
    return maxv, cnt


def _hwm_update(key, pdfs, state):  # pragma: no cover — runs in worker
    """applyInPandasWithState update fn: carry (running max, record
    count) per user; emit the count after each batch."""
    import pandas as pd  # local import: executes in the Python worker

    if state.exists:
        maxv, cnt = state.get
    else:
        maxv, cnt = None, 0
    maxv, cnt = _fold_hwm(maxv, cnt, pdfs)
    state.update((maxv, cnt))
    yield pd.DataFrame({"user_id": [key[0]], "n_records": [cnt]})


def stream_high_water_marks(events: DataFrame) -> DataFrame:
    """CUSTOM stateful operator: per-user record-setting event counts —
    state a native windowed agg can't hold (an order-dependent running
    max + counter). Batch twin: `event_hwm` (functions/sessions.py),
    oracle-checked; parity tested with the availableNow trigger.

    Scale notes: state is two scalars per user key, sharded across
    shuffle partitions like any keyed state; within a micro-batch the
    group's rows arrive as Arrow batches, sorted here by (ts, event_id)
    for deterministic tie-breaks.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _hwm_update,
        outputStructType="user_id long, n_records long",
        stateStructType="maxv double, cnt long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _fold_anomaly(n, s1, s2, flagged, pdfs):  # pragma: no cover — worker
    """Prequential anomaly fold — test each purchase against the
    moments of STRICTLY PRIOR purchases (the rearranged
    (x−mean)² > 4·var z-test: no sqrt, no zero-std division). Sorts the
    group's chunks once by (ts, event_id)."""
    import math
    import pandas as pd  # local import: executes in the Python worker

    chunks = [pdf for pdf in pdfs]
    if chunks:
        batch = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        for v in batch["value"]:
            x = int(math.floor(float(v) * 100.0 + 0.5))
            if n >= 2:
                mean = s1 / float(n)
                var = (s2 - s1 * mean) / float(n - 1)
                dev = float(x) - mean
                if dev * dev > 4.0 * var:
                    flagged += 1
            n, s1, s2 = n + 1, s1 + x, s2 + x * x
    return n, s1, s2, flagged


def _anomaly_update(key, pdfs, state):  # pragma: no cover — runs in worker
    """applyInPandasWithState update fn: carry (n, Σx, Σx², flagged)."""
    import pandas as pd  # local import: executes in the Python worker

    if state.exists:
        n, s1, s2, flagged = state.get
    else:
        n, s1, s2, flagged = 0, 0, 0, 0
    n, s1, s2, flagged = _fold_anomaly(n, s1, s2, flagged, pdfs)
    state.update((n, s1, s2, flagged))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "n_flagged": [flagged]}
    )


def stream_anomaly_counts(events: DataFrame) -> DataFrame:
    """CUSTOM stateful operator #2: online per-user anomaly counts with
    prequential (never-look-ahead) semantics — exactly the fold the
    oracle-checked batch twin `event_anomaly_run`
    (functions/sessions.py) expresses with an exclusive-frame running
    window; parity tested with availableNow.

    Scale notes: state is four integers per user key (the mergeable
    moments of `agg_stats`), sharded across shuffle partitions; the
    float comparisons are the same IEEE doubles the batch plan
    evaluates, so the counts agree exactly.
    """
    purchases = events.filter(F.col("event_type") == "purchase")
    from pyspark.sql.streaming.state import GroupStateTimeout

    return purchases.groupBy("user_id").applyInPandasWithState(
        _anomaly_update,
        outputStructType="user_id long, n_events long, n_flagged long",
        stateStructType="n long, s1 long, s2 long, flagged long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _fold_topk(best, pdfs):  # pragma: no cover — runs in worker
    """Top-3 fold (scaled cents). The top-3 MULTISET is
    order-insensitive, so the state converges to the batch twin from
    ANY micro-batch arrival order — no sorting of the batch needed."""
    import math

    for pdf in pdfs:
        cents = [
            int(math.floor(float(v) * 100.0 + 0.5)) for v in pdf["value"]
        ]
        best = sorted(best + cents, reverse=True)[:3]
    return (best + [None, None, None])[:3]


def _topk_update(key, pdfs, state):  # pragma: no cover — runs in worker
    """Update fn: fold each micro-batch's purchase values into the
    per-user top-3 triple."""
    import pandas as pd

    best = []
    if state.exists:
        best = [v for v in state.get if v is not None]
    padded = _fold_topk(best, pdfs)
    state.update(tuple(padded))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "top1": [padded[0]],
            "top2": [padded[1]],
            "top3": [padded[2]],
        }
    )


def stream_running_topk(events: DataFrame) -> DataFrame:
    """CUSTOM stateful operator #3: each user's running top-3 purchase
    values (scaled cents) as three longs of keyed state. Unlike the
    running-max and running-moments operators, this state is
    ORDER-INSENSITIVE (a multiset of maxima), so the parity test drains
    an UNORDERED fixture on purpose and still matches the
    oracle-checked batch twin `event_topk_run` exactly.
    """
    purchases = events.filter(F.col("event_type") == "purchase")
    from pyspark.sql.streaming.state import GroupStateTimeout

    return purchases.groupBy("user_id").applyInPandasWithState(
        _topk_update,
        outputStructType="user_id long, top1 long, top2 long, top3 long",
        stateStructType="t1 long, t2 long, t3 long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(df: DataFrame, name: str, output_mode: str = "complete") -> None:
    """Drain all available input through the stream into a memory sink.

    Result readable as ``spark.table(name)``. availableNow processes the
    backlog with watermark semantics, then stops — the batch/stream
    parity harness.
    """
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_document_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over parquet document batches."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    return spark.readStream.schema(schema).parquet(path)


def stream_pii_scrub(docs: DataFrame) -> DataFrame:
    """Streaming twin of the batch `text_pii` query — the SAME
    expression set (`functions.text.pii_facts`), applied to a document
    stream. Stateless per-row maps need no watermark and no state
    store; append mode emits each scrubbed row exactly once. This is
    how the redaction pass runs on a live ingest feed instead of a
    static corpus.
    """
    from piper_spark.functions.text import pii_facts

    return pii_facts(docs)


def stream_countmin(docs: DataFrame) -> DataFrame:
    """Streaming Count-Min sketch over a document stream.

    The batch twin is `operators.aggregates.agg_countmin`; this is the
    shared `cms_counters` relation applied to the exploded word stream.
    No custom state processor is needed — the counter grid is a plain
    update-mode aggregation whose key space is FIXED at d·w = 4096
    regardless of how long the stream runs, and counters merge by
    addition across micro-batches exactly as they do across shards.
    """
    from piper_spark.functions.text import words_col
    from piper_spark.operators.aggregates import cms_counters

    return cms_counters(docs.select(F.explode(words_col()).alias("word")))


def stream_drift(docs: DataFrame) -> DataFrame:
    """Streaming twin of the batch `dq_drift` audit's count stage —
    the SAME `pipelines.drift_counts` fold applied to a document
    stream: per-length-bin reference/current counts as an update-mode
    aggregation whose key space is FIXED (≤ 10 bins), so state is
    histogram-sized forever and counts merge by addition across
    micro-batches exactly as across shards (the `stream_countmin`
    argument — bounded-key statistics are streaming-native).  The ppm
    shares and total-variation delta are a finish the CONSUMER derives
    from the counts snapshot, exactly as the batch key does."""
    from piper_spark.pipelines import drift_counts

    return drift_counts(docs)


def stream_hll(events: DataFrame) -> DataFrame:
    """Streaming HyperLogLog registers over the event stream — the
    max-mergeable member of the streaming sketch family beside
    `stream_countmin` (add-mergeable counters) and `stream_drift`
    (add-mergeable histogram): the SAME `hll_registers` relation the
    batch `agg_hll` builds, applied to (event_type, user_id), as an
    update-mode aggregation whose key space is fixed at |types|·64 —
    state is sketch-sized forever, and registers merge by MAX across
    micro-batches exactly as across shards or days. The estimate is a
    finish the consumer derives from the register snapshot (the batch
    key's alpha·m²/Σ2^−reg expression), exactly as `stream_countmin`
    leaves the min-probe to the reader."""
    from piper_spark.operators.aggregates import hll_registers

    return hll_registers(events, "event_type", "user_id")
