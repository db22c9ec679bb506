#!/usr/bin/env python3
"""Pin the benchmark's expected answers into ``expected.json``.

    python3 perfbench/pin.py

Run it when the generated inputs (gen_data.py), the query list or the
fixtures change. It is not part of a timed run: the benchmark only reads
the pins.

- Queries with a DuckDB oracle (``get_oracles()``) pin the oracle's row
  count and ``tests/oracle.py::rows_fingerprint``; the engine's answer is
  compared with it here as well, and pinning stops on a mismatch.
- Queries without an oracle (q228) pin the engine's own fingerprint.
- lake-etl pins the per-table row counts of one lake build.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import gen_data
import run  # first: puts the repository root on sys.path for the imports below
from data_engineer_capstone_spark.pipeline import build
from data_engineer_capstone_spark.plans import get_oracles, get_queries
from data_engineer_capstone_spark.session import get_spark
from tests.oracle import rows_fingerprint, run_duckdb


def main() -> int:
    conf = run._prepare_env()

    digest = gen_data.ensure(run.DATA)
    oracles, queries = get_oracles(), get_queries()
    spark = get_spark(app_name="perfbench-pin", extra_conf=conf)
    pins: dict = {
        "data_digest": digest,
        "scale": {"documents": gen_data.N_DOCUMENTS, "embeddings": gen_data.N_EMBEDDINGS},
        "queries": {},
        "lake_rows": {},
    }
    status = 0
    for name in run.CURATION_QUERIES:
        df = queries[name](spark, run.DATA)
        got = rows_fingerprint(df.columns, [tuple(r) for r in df.collect()])
        if name in oracles:
            cols, rows = run_duckdb(oracles[name], run.DATA)
            want = rows_fingerprint(cols, rows)
            if got != want:
                print(f"{name}: engine {got} != oracle {want}", file=sys.stderr)
                status = 1
            source = "oracle"
        else:
            want, source = got, "engine"
        pins["queries"][name] = list(want)
        print(f"{name}: {want[0]} rows, {source} fingerprint {want[1][:12]}")

    out = os.path.join(run.WORK, "pin-lake")
    shutil.rmtree(out, ignore_errors=True)
    tables = build.build_all(spark, weekday="iso")
    build.write_lake(tables, out)
    for name in sorted(tables):
        pins["lake_rows"][name] = spark.read.parquet(os.path.join(out, name)).count()
        if run._lake_rows(os.path.join(out, name)) != pins["lake_rows"][name]:
            print(f"{name}: footer row count differs from Spark's count", file=sys.stderr)
            status = 1
    shutil.rmtree(out, ignore_errors=True)
    print("lake rows:", pins["lake_rows"])
    spark.stop()
    if status == 0:
        with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
            json.dump(pins, fh, indent=2, sort_keys=True)
            fh.write("\n")
    return status


if __name__ == "__main__":
    sys.exit(main())
