"""Benchmark launcher: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1``, run from the root of a checkout.

Pins the environment the measured process sees, runs ``bench.py`` in a
scratch directory inside the checkout, waits for it and every process it
started, then deletes the scratch directory.  The last stdout line is the
result object printed by ``bench.py``; it is missing when the run fails.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

from workloads import DEFAULT_SEED, WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: The measured process is killed past this; the run then fails.
TIMEOUT_S = 150
JVM_MEMORY = "4g"


def bench_env(work: Path) -> dict[str, str]:
    # Engine knobs left in the caller's environment would change what is
    # measured; the inputs are the repo's default tables.
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = work / "tmp"
    env.update(
        # get_spark falls back to local[32] without it.
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_WAREHOUSE=str(work / "warehouse"),
        SPARK_DRIVER_MEM=JVM_MEMORY,
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(tmp),
        # Python workers import piper_spark for every UDF.
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        # Every JVM (Spark's launcher too) keeps its temp files in the
        # checkout and writes no hsperfdata file outside it.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    return env


def _alive_in_session(sid: int) -> list[int]:
    """Processes of the session that have not ended (zombies have).  The
    session, not the process group: PySpark's worker daemon makes a group
    of its own."""
    pids = []
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit():
            continue
        try:
            stat = (entry / "stat").read_text()
        except OSError:
            continue
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry.name))
    return pids


def stop_session(sid: int, grace_s: float = 15.0) -> None:
    """Wait for every process of the session to end, terminating what is
    left after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    sig = None
    while pids := _alive_in_session(sid):
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            deadline = time.monotonic() + 5.0
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="piper_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "piper_spark" / "__init__.py").is_file():
        print(f"perfbench: no piper_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    cmd = [
        sys.executable,
        str(HERE / "bench.py"),
        f"--workload={args.workload}",
        f"--seed={args.seed}",
        f"--seconds={args.seconds}",
        f"--trace={args.trace}",
        f"--sink-dir={work / 'sink'}",
    ]
    proc = subprocess.Popen(cmd, cwd=work, env=bench_env(work), start_new_session=True)
    code = 124
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s; stopped", file=sys.stderr)
        proc.kill()
        proc.wait()
    finally:
        stop_session(proc.pid, grace_s=15.0 if code != 124 else 0.0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    return code


if __name__ == "__main__":
    sys.exit(main())
