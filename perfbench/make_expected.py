"""Regenerate ``expected_rows.json``: the row count every workload key must
return at sf0.1.

Keys with a DuckDB oracle take the oracle's count; the rows-only keys (no
oracle by design) take Spark's count as the stored reference.  Run from
the root of a checkout: ``python3 perfbench/make_expected.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

from run import ROOT, bench_env
from workloads import WORKLOADS

OUT = ROOT / "perfbench" / "expected_rows.json"


def main() -> int:
    work = ROOT / ".perfbench_work" / f"expected-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ.update(bench_env(work))
    sys.path.insert(0, str(ROOT))
    import duckdb

    from piper_spark import registry
    from piper_spark.session import DEFAULT_SF_DIR as SF_DIR
    from piper_spark.session import TABLE_NAMES, get_spark

    keys = sorted({k for w in WORKLOADS.values() for k in w.keys})
    oracles = registry.all_oracles()
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'")
    rows: dict[str, int] = {}
    source: dict[str, str] = {}
    spark = None
    try:
        for key in keys:
            if key in oracles:
                sql = oracles[key].strip().rstrip(";")
                rows[key] = con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
                source[key] = "oracle"
            else:
                spark = spark or get_spark("perfbench_expected")
                rows[key] = registry.all_queries()[key](spark, SF_DIR).count()
                source[key] = "reference"
            print(f"{key}: {rows[key]} ({source[key]})", file=sys.stderr)
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    with open(OUT, "w") as fh:
        json.dump(
            {"sf": Path(SF_DIR).name, "rows": rows, "source": source}, fh, indent=1
        )
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
