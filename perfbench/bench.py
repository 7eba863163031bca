"""One benchmark run, in the process that owns the Spark session.

Starts a session, runs ``WARMUP_PASSES`` untimed warm-up passes over the
workload's keys, then runs whole timed passes for ``--seconds`` (at least
``MIN_PASSES``).  Each execution builds the key's frame
(``fn(spark, sf_dir)``), runs it into the workload's sink, clears the
cache and checks the output's row count against the stored reference.
A key that raises or returns the wrong count is recorded as failed and
the run goes on.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics.  The last
stdout line is the result object; the line before it carries the detail
(per-key times, pass walls, failures, host calibration and steal time).

Run it through ``perfbench/run.py``, which pins the environment.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from spans import SparkProbe, Tracer, self_times
from workloads import DEFAULT_SEED, WORKLOADS, pass_order

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
EXPECTED_ROWS = HERE / "expected_rows.json"
#: Untimed passes before the timed ones.  Per-pass wall time falls over
#: the first four or five passes of a fresh session, while the JIT compiles
#: Spark's planner and the generated code as they get hot; after three,
#: what is left is within the pass-to-pass noise.
WARMUP_PASSES = 3
#: Whole passes run until the next one would overrun ``--seconds``, but
#: never fewer than this.  On a shared host other guests stall the machine
#: for seconds at a time; a key's median over five passes is not moved by
#: a stall that covers one or two of them.
MIN_PASSES = 5
#: Traced runs cycle through these pass kinds, so drift cancels out of
#: the tracing overhead.
TRACE_CYCLE = (False, True, True, False)


@dataclass
class Execution:
    key: str
    pass_no: int
    traced: bool
    seconds: float
    ok: bool
    error: str | None = None
    #: Per-layer counts of a traced execution, by metric name.
    counts: dict[str, float] = field(default_factory=dict)


def calibrate() -> float:
    """Seconds for a fixed CPU-only loop: the host's speed, beside the
    result."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) % 1_000_003
    return time.perf_counter() - t


def steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests since boot,
    summed over CPUs.  On a shared host it is one reason runs of the same
    code differ; its growth over the timed passes sits beside the result."""
    with open("/proc/stat") as fh:
        steal_ticks = int(fh.readline().split()[8])
    return steal_ticks / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(spark) -> float:
    """The Spark JVM's peak resident set (VmHWM), in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def module_layer(fn) -> str:
    """The repo module a key's build is charged to: ``operators``,
    ``functions``, ``sources`` or ``pipelines``."""
    parts = fn.__module__.split(".")
    return parts[1] if len(parts) > 1 else parts[0]


class KeyRunner:
    """Runs single executions of registry keys and checks their output."""

    def __init__(self, spark, sf_dir, sink, sink_dir, queries, expected):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from piper_spark.sources.sinks import write_partitioned

        self.spark = spark
        self.sf_dir = sf_dir
        self.sink = sink
        self.sink_dir = Path(sink_dir)
        self.queries = queries
        self.expected = expected
        self._observation = Observation
        self._count = F.count(F.lit(1)).alias("rows")
        self._write_partitioned = write_partitioned

    def run(self, key, pass_no, tracer=None, probe=None) -> Execution:
        spark = self.spark
        sc = spark.sparkContext
        span = tracer.span if tracer else (lambda name, key=None: nullcontext())
        if probe:
            probe.begin(key)
        counts: dict[str, float] = {}
        obs = None
        error = None
        t0 = time.perf_counter()
        try:
            with span("key", key):
                with span("build", key):
                    sc.setJobGroup(f"{key}:build", key)
                    df = self.queries[key](spark, self.sf_dir)
                if self.sink == "noop":
                    obs = self._observation()
                    df = df.observe(obs, self._count)
                if tracer:
                    with span("plans", key):
                        df._jdf.queryExecution().executedPlan()
                if probe:
                    probe.sample()
                sc.setJobGroup(f"{key}:action", key)
                if self.sink == "noop":
                    with span("action", key):
                        df.write.format("noop").mode("overwrite").save()
                else:
                    with span("sinks", key):
                        self._write_partitioned(df, str(self.sink_dir / key), [])
                if probe:
                    probe.sample()
                with span("cache.clear", key):
                    spark.catalog.clearCache()
        except Exception as e:  # noqa: BLE001 - a failing key is a result
            error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            spark.catalog.clearCache()
        seconds = time.perf_counter() - t0
        if error is None:
            rows = self._rows(key, obs, counts)
            if rows != self.expected[key]:
                error = f"row count {rows} != expected {self.expected[key]}"
        if probe:
            layer_counts = probe.end(key)
            layer = module_layer(self.queries[key])
            counts[f"{layer}.build_jobs"] = layer_counts.pop("build_jobs")
            counts.update(layer_counts)
        return Execution(
            key, pass_no, tracer is not None, seconds, error is None, error, counts
        )

    def _rows(self, key, obs, counts) -> int:
        if obs is not None:
            return int(obs.get["rows"])
        import pyarrow.parquet as pq

        files = sorted((self.sink_dir / key).rglob("*.parquet"))
        counts["sinks.files"] = len(files)
        counts["sinks.bytes"] = sum(f.stat().st_size for f in files)
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def run_pass(runner, keys, seed, pass_no, tracer=None, probe=None):
    """One pass over ``keys`` in the seed's order for this pass."""
    return [
        runner.run(key, pass_no, tracer, probe)
        for key in pass_order(tuple(keys), seed, pass_no)
    ]


def warm_up(runner, keys, seed):
    """The untimed passes, numbered 0, -1, ... so that their key orders
    differ from the timed passes'."""
    return [
        e for p in range(WARMUP_PASSES) for e in run_pass(runner, keys, seed, -p)
    ]


def timed_passes(runner, keys, seed, seconds, tracer=None, probe=None):
    """Whole passes until the next would overrun ``seconds`` (at least
    ``MIN_PASSES``).  With a tracer, passes follow ``TRACE_CYCLE`` and stop
    only at the end of a cycle."""
    executions: list[Execution] = []
    walls: list[float] = []
    t_start = time.perf_counter()
    pass_no = 0
    while True:
        pass_no += 1
        traced = tracer is not None and TRACE_CYCLE[(pass_no - 1) % len(TRACE_CYCLE)]
        t = time.perf_counter()
        executions += run_pass(
            runner,
            keys,
            seed,
            pass_no,
            tracer if traced else None,
            probe if traced else None,
        )
        walls.append(time.perf_counter() - t)
        elapsed = time.perf_counter() - t_start
        if tracer is not None and pass_no % len(TRACE_CYCLE):
            continue
        if pass_no >= MIN_PASSES and elapsed + statistics.mean(walls) > seconds:
            return executions, walls


def pass_seconds(executions) -> float:
    """Sum over keys of each key's median time across ``executions``."""
    by_key: dict[str, list[float]] = {}
    for e in executions:
        if e.ok:
            by_key.setdefault(e.key, []).append(e.seconds)
    return sum(statistics.median(v) for v in by_key.values())


def end_to_end(setup_s, warm, timed) -> dict[str, float]:
    walls = [e.seconds for e in timed if e.ok]
    everything = warm + timed
    return {
        "setup_s": setup_s,
        "pass_s": pass_seconds(timed),
        "query_p50_s": statistics.median(walls),
        "ok_frac": sum(e.ok for e in everything) / len(everything),
    }


#: Span name -> the layer metric its self time is charged to; ``build``
#: spans go to the key's module.
SPAN_METRIC = {
    "plans": "plans.plan_s",
    "action": "exec.action_s",
    "sinks": "sinks.write_s",
    "cache.clear": "cache.clear_s",
}


def per_layer(tracer, traced, plain, layer_of, names) -> dict[str, float]:
    """Per-layer metrics of a traced run.  Times are sums over keys of
    per-key medians of span self time; counts are sums of per-key medians,
    except ``exec.task_skew_max`` (the largest per-key median) and
    ``exec.task_attempts_per_task`` (a ratio of sums)."""
    out = dict.fromkeys(names, 0.0)
    per_key: dict[str, dict[str, list[float]]] = {}

    def add(key, metric, value):
        per_key.setdefault(key, {}).setdefault(metric, []).append(value)

    # Self times, one value per key span (i.e. per traced execution).
    spans = tracer.spans
    own = self_times(spans)
    by_exec: dict[int, dict[str, float]] = {}
    for i, s in enumerate(spans):
        if s.name == "session.get_spark":
            out["session.get_spark_s"] = own[i]
            continue
        if s.name == "key":
            by_exec[i] = {}
            continue
        metric = (
            f"{layer_of[s.key]}.build_s" if s.name == "build" else SPAN_METRIC[s.name]
        )
        by_exec[s.parent][metric] = by_exec[s.parent].get(metric, 0.0) + own[i]
    for i, times in by_exec.items():
        for metric, v in times.items():
            add(spans[i].key, metric, v)
    for e in traced:
        for metric, v in e.counts.items():
            add(e.key, metric, v)

    skews, tasks, attempts = [], 0.0, 0.0
    for key, metrics in per_key.items():
        for metric, values in metrics.items():
            m = statistics.median(values)
            if metric == "exec.task_skew":
                skews.append(m)
            elif metric == "exec.task_attempts":
                attempts += m
            else:
                if metric == "exec.tasks":
                    tasks += m
                out[metric] = out.get(metric, 0.0) + m
    out["exec.task_skew_max"] = max(skews, default=1.0)
    out["exec.task_attempts_per_task"] = attempts / tasks if tasks else 1.0
    out["trace.overhead_s"] = pass_seconds(traced) - pass_seconds(plain)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sink-dir", required=True)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    with open(EXPECTED_ROWS) as fh:
        expected = json.load(fh)["rows"]

    calib = [calibrate()]
    t0 = time.perf_counter()
    tracer = Tracer() if args.trace else None
    with tracer.span("session.get_spark") if tracer else nullcontext():
        from piper_spark import registry
        from piper_spark.session import DEFAULT_SF_DIR, get_spark

        if not Path(DEFAULT_SF_DIR).is_dir():
            print(f"perfbench: no input tables at {DEFAULT_SF_DIR}", file=sys.stderr)
            return 2
        spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()
    runner = KeyRunner(
        spark, DEFAULT_SF_DIR, wl.sink, args.sink_dir, queries, expected
    )
    warm = warm_up(runner, wl.keys, args.seed)
    setup_s = time.perf_counter() - t0

    probe = SparkProbe(spark) if args.trace else None
    steal = steal_s()
    timed, walls = timed_passes(
        runner, wl.keys, args.seed, args.seconds, tracer, probe
    )
    steal = steal_s() - steal
    calib.append(calibrate())
    rss_mb = jvm_peak_rss_mb(spark)
    spark.stop()

    everything = warm + timed
    failures = [
        {"key": e.key, "pass": e.pass_no, "error": e.error}
        for e in everything
        if not e.ok
    ]
    for f in failures:
        print(f"perfbench: FAILED {f['key']} pass {f['pass']}: {f['error']}", file=sys.stderr)
    plain = [e for e in timed if not e.traced]
    latencies = [e.seconds for e in plain if e.ok]
    by_key: dict[str, list[float]] = {}
    for e in plain:
        by_key.setdefault(e.key, []).append(round(e.seconds, 4))
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "keys": list(wl.keys),
        "setup_s": setup_s,
        "warmup_key_s": {
            k: [e.seconds for e in warm if e.key == k] for k in wl.keys
        },
        "pass_walls_s": walls,
        # p90 is not an end-to-end metric: a run times far fewer than the
        # 100 executions it needs.
        "n_timed": len(latencies),
        "query_p90_s": statistics.quantiles(latencies, n=10, method="inclusive")[8],
        "key_seconds": by_key,
        "failures": failures,
        "host.calib_s": calib,
        "host.steal_s": steal,
        "jvm.peak_rss_mb": rss_mb,
    }
    if args.trace:
        layer_of = {k: module_layer(queries[k]) for k in wl.keys}
        traced = [e for e in timed if e.traced]
        values = per_layer(
            tracer, traced, plain, layer_of, [m["name"] for m in spec["per_layer"]]
        )
        values["host.calib_s"] = statistics.median(calib)
        values["jvm.peak_rss_mb"] = rss_mb
        chosen = spec["per_layer"]
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        with open(out_dir / f"{wl.name}-seed{args.seed}-spans.json", "w") as fh:
            json.dump([vars(s) for s in tracer.spans], fh)
    else:
        values = end_to_end(setup_s, warm, timed)
        chosen = spec["end_to_end"]
    print(json.dumps(detail))
    result = {
        "correct": not failures,
        "attempted": len(everything),
        "failed": len(failures),
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in chosen
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
