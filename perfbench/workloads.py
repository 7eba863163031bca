"""The benchmark's workloads: which registry keys each one runs, and why.

Every workload is a closed loop with one client: one process, one query at
a time, on a ``local[nproc]`` session over the sf0.1 tables
(``piper_spark.session.DEFAULT_SF_DIR``).  The key lists
are trimmed from the full families so that one run (session start, warm-up
passes and timed passes) fits the benchmark's time budget; each list keeps
the keys that exercise the layers the workload is meant to stress.  Each
list has an odd number of keys, so the median execution of a pass is one
key's and not the mean of two keys' times.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

#: Seed used when ``--seed`` is not given.
DEFAULT_SEED = 1
#: Seed held out for verifying a claimed gain: never use it while tuning.
HELD_OUT_SEED = 2


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    #: "noop" discards the output; "parquet" writes it through
    #: ``sources.sinks.write_partitioned``.
    sink: str
    why: str


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="llm_curation",
            keys=(
                "graph_cc",
                "dedup_minhash",
                "sim_topk",
                "dedup_exact",
                "dedup_url",
            ),
            sink="noop",
            why=(
                "Jobs fired while a frame is built (fits, fills, iteration "
                "rounds), persisted relations, an Arrow UDF pass and a "
                "banded LSH self-join. graph_cc is a build-phase leader: 11 jobs "
                "of declared iteration rounds."
            ),
        ),
        Workload(
            name="image_etl",
            keys=(
                "pipeline_image_curate",
                "img_meta",
                "audio_wav_energy",
                "video_frames",
                "img_channels",
            ),
            sink="parquet",
            why=(
                "Piper's own dataflow: scan a corpus, decode in Python, "
                "write files. The only workload that writes, so a gain on "
                "reads that costs writes shows here."
            ),
        ),
    )
}


def pass_order(keys: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The key order of one pass: a permutation fixed by ``seed`` and the
    pass number, so the same seed replays the same sequence of orders."""
    return random.Random(f"{seed}:{pass_no}").sample(list(keys), len(keys))
