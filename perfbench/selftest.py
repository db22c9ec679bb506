#!/usr/bin/env python3
"""Self-test of the benchmark's own measurement code.

    python3 perfbench/selftest.py

- Job attribution by id range: one lake-etl operation must report 9, 18
  and 13 jobs for ``build_all``, ``run_quality_gates`` and ``write_lake``
  (``write_lake`` submits its six writes from ``materialize_all``'s pool
  threads, which a job-group filter would miss), and the row counts read
  back from the lake must match the pins.
- The SQL-metric parser and the traced-minus-untraced overhead arithmetic.

Exits 0 when every check holds.
"""

from __future__ import annotations

import argparse
import sys

import run
from layers import _metric_total

EXPECTED_LAKE_JOBS = {"pipeline.build": 9, "pipeline.gates": 18, "pipeline.write": 13}


def expect(got, want, what: str) -> None:
    if got != want:
        raise SystemExit(f"selftest: {what}: got {got!r}, want {want!r}")


def check_units() -> None:
    expect(_metric_total("8.5 KiB"), 8.5 * 1024, "size metric")
    expect(_metric_total("total (min, med, max (stageId: taskId))\n"
                         "3.0 s (585 ms, 756 ms, 897 ms (stage 7.0: task 17))"), 3.0, "timing metric")
    expect(round(_metric_total("total (min, med, max)\n756 ms (1 ms, 2 ms, 3 ms)"), 9), 0.756, "ms metric")
    passes = [{"wall": w, "traced": t} for w, t in
              [(10.0, False), (9.5, True), (8.0, False), (8.5, True), (7.0, False)]]
    # the untraced neighbours cancel the drift: 9.5 - 9.0 and 8.5 - 7.5
    expect(run.Bench.trace_overhead(passes), 0.75, "trace overhead")


def check_lake_jobs() -> None:
    args = argparse.Namespace(workload=run.LAKE, seed=0, seconds=0.0, trace=1)
    bench = run.Bench(args, run._prepare_env())
    try:
        bench.start_session()
        for i in range(2):  # cold, then warm: the counts must not move
            stats = bench.run_lake(traced=True, index=i)
            got = {layer: stats[layer]["jobs"] for layer in EXPECTED_LAKE_JOBS}
            print(f"lake-etl operation {i}: jobs per phase {got}")
            expect(got, EXPECTED_LAKE_JOBS, "lake-etl jobs per phase")
        expect(bench.failures, [], "lake-etl output checks")
    finally:
        bench.shutdown()


def main() -> int:
    check_units()
    check_lake_jobs()
    print("perfbench selftest OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
