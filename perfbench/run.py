#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client driving the engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload curation --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload lake-etl --seed 1 --seconds 20 --trace 1

Workloads (README.md in this directory says why each was chosen):

- ``curation``: q92 and q228 over ``documents`` and ``embeddings`` tables
  generated at the sf0.1 row counts (gen_data.py), checked against pinned
  answers;
- ``lake-etl``: ``build_all`` -> ``run_quality_gates`` -> ``write_lake``
  over the committed ``fixtures/``, into a fresh directory each time.

A run launches the JVM and starts its session once, registers its inputs,
runs ``WARMUP_PASSES`` warm-up passes, then runs timed passes until
``--seconds`` have elapsed. ``--seed`` permutes the order of operations in
every pass. The last stdout line is the result JSON; the line before it is
the run record (cpus, Spark version, scale, plan md5s, count stability).
With ``--trace 1`` every other timed pass is traced: each layer call is
timed, its jobs, stages and SQL metrics are read from Spark's status
stores, and the spans are written to ``.bench_build/perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import pyarrow.parquet as pq  # noqa: E402
import pyspark  # noqa: E402

import gen_data  # noqa: E402
from data_engineer_capstone_spark import catalog  # noqa: E402
from data_engineer_capstone_spark.pipeline import build  # noqa: E402
from data_engineer_capstone_spark.plans import get_queries  # noqa: E402
from data_engineer_capstone_spark.session import get_spark  # noqa: E402
from layers import StatusStores, Tracer, catalyst_ms, jvm_peak_rss_mb  # noqa: E402
from tests.oracle import _canon, rows_fingerprint  # noqa: E402
from tools.profile_query import plan_md5  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(WORK, "data")
WARMUP_PASSES = 1

CURATION = "curation"
CURATION_QUERIES = ("q92_minhash_lsh_dedup", "q228_ann_ivf_pq")
LAKE = "lake-etl"
LAKE_PHASES = ("build", "gates", "write")
WORKLOADS = (CURATION, LAKE)
# the engine calls a traced pass attributes jobs, stages and SQL metrics to
LAYER_CALLS = ("plans.build", "action", *(f"pipeline.{ph}" for ph in LAKE_PHASES))

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_geomean_s": "s",
    "output_bytes_per_input_byte": "B/B",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "catalog.load_s": "s",
    "catalog.load_jobs": "count",
    "catalog.input_bytes": "B",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_stages": "count",
    "plans.build_exec_cpu_s": "s",
    "plans.build_shuffle_bytes": "B",
    "plans.build_idle_core_s": "s",
    "plans.catalyst_ms": "ms",
    "action.s": "s",
    "action.jobs": "count",
    "action.stages": "count",
    "action.tasks": "count",
    "action.exec_run_s": "s",
    "action.exec_cpu_s": "s",
    "action.idle_core_s": "s",
    "action.shuffle_write_bytes": "B",
    "action.shuffle_read_bytes": "B",
    "action.spill_bytes": "B",
    "action.task_skew": "ratio",
    "action.result_rows": "count",
    "functions.python_total_s": "s",
    "functions.python_boot_s": "s",
    "functions.python_bytes": "B",
    "pipeline.build_s": "s",
    "pipeline.build_jobs": "count",
    "pipeline.gates_s": "s",
    "pipeline.gates_jobs": "count",
    "pipeline.write_s": "s",
    "pipeline.write_jobs": "count",
    "sources.files_written": "count",
    "sources.bytes_written": "B",
    "ops.attempted": "count",
    "ops.failed": "count",
    "trace.overhead_s": "s",
    "trace.store_read_s": "s",
}


def _prepare_env() -> dict[str, str]:
    """Keep every file Spark writes inside the checkout; return the
    session conf the benchmark adds to the engine's own."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_TABLE_CACHE"] = "off"  # as bench.py: pay the scan
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher too: temp files in the checkout,
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _engine_key(cpus: int) -> str:
    """Digest of what a count depends on: the engine's source, the Spark
    version and the core width."""
    h = hashlib.sha256(f"{cpus} {pyspark.__version__}".encode())
    pkg = os.path.join(ROOT, "data_engineer_capstone_spark")
    for d, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, n), pkg).encode())
                with open(os.path.join(d, n), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _parquet_files(table_dir: str) -> list[str]:
    return [os.path.join(d, n) for d, _, names in os.walk(table_dir)
            for n in names if n.endswith(".parquet")]


def _lake_rows(table_dir: str) -> int:
    """Row count of one written table, read back from its Parquet footers."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(table_dir))


class Bench:
    def __init__(self, args, conf: dict[str, str]):
        self.args = args
        self.conf = conf
        self.workload = args.workload
        self.run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        self.tracer = Tracer(self.run_id, enabled=bool(args.trace))
        with open(os.path.join(HERE, "expected.json")) as fh:
            self.expected = json.load(fh)
        self.spark = None
        self.stores = None
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.plan_md5s: dict[str, str] = {}
        self.rng = random.Random(args.seed)
        # a traced run needs untraced, traced, untraced at the least
        self.min_passes = 3 if args.trace else 2
        if self.workload == LAKE:
            self.input_bytes = sum(
                os.path.getsize(os.path.join(d, n))
                for d, _, names in os.walk(build.FIXTURES_DIR) for n in names
            )
        else:
            digest = gen_data.ensure(DATA)
            if digest != self.expected["data_digest"]:
                raise SystemExit(
                    f"generated inputs digest {digest} != pinned "
                    f"{self.expected['data_digest']}; re-run perfbench/pin.py"
                )
            self.queries = get_queries()
            self.input_bytes = sum(
                os.path.getsize(os.path.join(DATA, f"{t}.parquet")) for t in gen_data.TABLES
            )

    # -- session ---------------------------------------------------------
    def start_session(self) -> float:
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=self.conf)
        self.stores = StatusStores(self.spark)
        return time.perf_counter() - t0

    def register_inputs(self) -> tuple[float, int]:
        """The benchmark's own ``load_table`` call per table: time, jobs."""
        if self.workload == LAKE:
            return 0.0, 0
        self.stores.settle()
        before = self.stores.last_job_id()
        t0 = time.perf_counter()
        for t in gen_data.TABLES:
            with self.tracer.span("catalog.load_table", table=t):
                catalog.load_table(self.spark, DATA, t)
        dt = time.perf_counter() - t0
        self.stores.settle()
        return dt, self.stores.last_job_id() - before

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- operations ------------------------------------------------------
    def _call(self, traced: bool, layer: str, fn, stats: dict):
        """Run ``fn`` once and time it; when traced, also attribute its jobs,
        stages and Python SQL metrics by id range."""
        if traced:
            with self.tracer.span("trace.store_read"):
                self.stores.settle()
                before_job = self.stores.last_job_id()
                before_exec = self.stores.last_execution_id()
        with self.tracer.span(layer):
            t0 = time.perf_counter()
            out = fn()
            stats[layer] = {"s": time.perf_counter() - t0}
        if traced:
            with self.tracer.span("trace.store_read"):
                self.stores.settle()
                jobs = range(before_job + 1, self.stores.last_job_id() + 1)
                stats[layer].update(self.stores.stage_totals(jobs))
                stats[layer].update(self.stores.python_metrics(before_exec))
        return out

    def run_query(self, name: str, traced: bool) -> dict:
        stats: dict = {}
        with self.tracer.span("op", op=name):
            df = self._call(traced, "plans.build", lambda: self.queries[name](self.spark, DATA), stats)
            result = self._call(traced, "action", df.collect, stats)
        stats["latency_s"] = stats["plans.build"]["s"] + stats["action"]["s"]
        t0 = time.perf_counter()
        with self.tracer.span("check"):
            rows = [tuple(r) for r in result]
            ok = list(rows_fingerprint(df.columns, rows)) == self.expected["queries"][name]
            stats["result_rows"] = len(rows)
            # size of the answer as the canonical text the fingerprint hashes
            stats["bytes"] = sum(len(_canon(v).encode()) for r in rows for v in r)
            if traced:
                with self.tracer.span("trace.store_read"):
                    stats["catalyst_ms"] = catalyst_ms(df)
            if name not in self.plan_md5s:
                self.plan_md5s[name] = plan_md5(df)
        stats["check_s"] = time.perf_counter() - t0
        self._count(ok, name)
        return stats

    def run_lake(self, traced: bool, index: int) -> dict:
        out_dir = os.path.join(WORK, "lake", f"{self.run_id}-{index}")
        shutil.rmtree(out_dir, ignore_errors=True)
        stats: dict = {}
        with self.tracer.span("op", op="lake"):
            tables = self._call(traced, "pipeline.build",
                                lambda: build.build_all(self.spark, weekday="iso"), stats)
            gates = self._call(traced, "pipeline.gates",
                               lambda: build.run_quality_gates(tables, weekday="iso"), stats)
            self._call(traced, "pipeline.write", lambda: build.write_lake(tables, out_dir), stats)
        stats["latency_s"] = sum(stats[f"pipeline.{ph}"]["s"] for ph in LAKE_PHASES)
        t0 = time.perf_counter()
        with self.tracer.span("check"):
            ok = all(all(checks.values()) for checks in gates.values())
            for name, expected_rows in self.expected["lake_rows"].items():
                ok = ok and _lake_rows(os.path.join(out_dir, name)) == expected_rows
            files = _parquet_files(out_dir)
            stats["files"] = len(files)
            stats["bytes"] = sum(os.path.getsize(f) for f in files)
            for df in tables.values():
                df.unpersist()
            shutil.rmtree(out_dir, ignore_errors=True)
        stats["check_s"] = time.perf_counter() - t0
        self._count(ok, "lake")
        return stats

    def _count(self, ok: bool, name: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(name)

    def run_pass(self, traced: bool, index: int) -> dict:
        """One pass over the workload's operations, in seeded order."""
        t0 = time.perf_counter()
        if self.workload == LAKE:
            ops = {"lake": self.run_lake(traced, index)}
        else:
            order = list(CURATION_QUERIES)
            self.rng.shuffle(order)
            ops = {name: self.run_query(name, traced) for name in order}
        # correctness checks are not part of the measured work
        wall = time.perf_counter() - t0 - sum(s["check_s"] for s in ops.values())
        return {"ops": ops, "wall": wall, "traced": traced}

    def op_latencies(self, p: dict) -> list[float]:
        if self.workload == LAKE:
            return [p["ops"]["lake"][f"pipeline.{ph}"]["s"] for ph in LAKE_PHASES]
        return [s["latency_s"] for s in p["ops"].values()]

    # -- the run ---------------------------------------------------------
    def run(self) -> dict:
        # Set-up: the cold JVM launch and session start, input registration
        # and the warm-up the run needs, all in the session that is timed.
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            session_s = self.start_session()
            load_s, load_jobs = self.register_inputs()
            start_s = time.perf_counter() - t0
            with self.tracer.span("warmup"):
                for i in range(WARMUP_PASSES):
                    self.run_pass(traced=False, index=-1 - i)
        setup_s = time.perf_counter() - t0

        passes: list[dict] = []
        t_end = time.perf_counter() + self.args.seconds
        while time.perf_counter() < t_end or len(passes) < self.min_passes or passes[-1]["traced"]:
            # traced runs alternate untraced and traced passes and end on an
            # untraced one, so each traced pass has an untraced pass on both
            # sides in the same warm session (see trace_overhead)
            traced = bool(self.args.trace) and len(passes) % 2 == 1
            with self.tracer.span("pass", index=len(passes), traced=traced):
                passes.append(self.run_pass(traced, len(passes)))

        plain = [p for p in passes if not p["traced"]]
        return {
            "start_s": start_s,
            "warmup_s": setup_s - start_s,
            "passes": passes,
            "setup_s": setup_s,
            "wall_s": _median([p["wall"] for p in plain]),
            "query_geomean_s": _median([_geomean(self.op_latencies(p)) for p in plain]),
            # lake-etl: Parquet bytes written; curation: bytes of the answers
            "output_bytes_per_input_byte": _median(
                [sum(s["bytes"] for s in p["ops"].values()) for p in plain]) / self.input_bytes,
            "session_s": session_s,
            "rss_mb": jvm_peak_rss_mb(self.spark),
            "load_s": load_s,
            "load_jobs": float(load_jobs),
        }

    # -- reporting -------------------------------------------------------
    def layer_metrics(self, res: dict) -> dict[str, float]:
        """Per-layer metrics: per traced pass, the sum over its operations;
        the median over the run's traced passes."""
        traced = [p for p in res["passes"] if p["traced"]]
        cores = self.stores.cores

        def per_pass(fn) -> float:
            return _median([fn(p) for p in traced])

        def total(layer, key):
            return lambda p: sum(s[layer].get(key, 0) for s in p["ops"].values() if layer in s)

        def all_calls(key):
            return lambda p: sum(total(layer, key)(p) for layer in LAYER_CALLS)

        def idle(layer):
            return lambda p: cores * total(layer, "s")(p) - total(layer, "exec_run_s")(p)

        def op_sum(key):
            return lambda p: sum(s.get(key, 0) for s in p["ops"].values())

        m = {
            "session.start_s": res["session_s"],
            "session.jvm_peak_rss_mb": res["rss_mb"],
            "catalog.load_s": res["load_s"],
            "catalog.load_jobs": res["load_jobs"],
            "catalog.input_bytes": per_pass(all_calls("input_bytes")),
            "plans.build_s": per_pass(total("plans.build", "s")),
            "plans.build_jobs": per_pass(total("plans.build", "jobs")),
            "plans.build_stages": per_pass(total("plans.build", "stages")),
            "plans.build_exec_cpu_s": per_pass(total("plans.build", "exec_cpu_s")),
            "plans.build_shuffle_bytes": per_pass(total("plans.build", "shuffle_write_bytes")),
            "plans.build_idle_core_s": per_pass(idle("plans.build")),
            "plans.catalyst_ms": per_pass(op_sum("catalyst_ms")),
            "action.s": per_pass(total("action", "s")),
            "action.idle_core_s": per_pass(idle("action")),
            "action.task_skew": per_pass(lambda p: max(
                [s["action"]["task_skew"] for s in p["ops"].values() if "action" in s] or [0.0])),
            "action.result_rows": per_pass(op_sum("result_rows")),
            "functions.python_total_s": per_pass(all_calls("python_total_s")),
            "functions.python_boot_s": per_pass(all_calls("python_boot_s")),
            "functions.python_bytes": per_pass(all_calls("python_bytes")),
            "sources.files_written": per_pass(op_sum("files")),
            "sources.bytes_written": per_pass(
                lambda p: sum(s["bytes"] for s in p["ops"].values() if "files" in s)),
            "ops.attempted": float(self.attempted),
            "ops.failed": float(self.failed),
            "trace.overhead_s": self.trace_overhead(res["passes"]),
            "trace.store_read_s": self.tracer.self_times().get("trace.store_read", 0.0) / len(traced),
        }
        for key in ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
                    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            m[f"action.{key}"] = per_pass(total("action", key))
        for ph in LAKE_PHASES:
            m[f"pipeline.{ph}_s"] = per_pass(total(f"pipeline.{ph}", "s"))
            m[f"pipeline.{ph}_jobs"] = per_pass(total(f"pipeline.{ph}", "jobs"))
        return {k: m[k] for k in PER_LAYER}

    @staticmethod
    def trace_overhead(passes: list[dict]) -> float:
        """Traced minus untraced pass wall, each traced pass against the mean
        of the untraced passes before and after it, which cancels a linear
        warm-up drift across the passes."""
        walls = [p["wall"] for p in passes]
        return _median([
            walls[i] - (walls[i - 1] + walls[i + 1]) / 2
            for i, p in enumerate(passes)
            if p["traced"] and 0 < i < len(passes) - 1
        ])

    @staticmethod
    def counts(passes: list[dict]) -> dict[str, list]:
        """Per operation and count: the values seen over the traced passes."""
        out: dict[str, list] = {}
        for p in passes:
            if not p["traced"]:
                continue
            for op, s in p["ops"].items():
                for layer in LAYER_CALLS:
                    if layer in s:
                        for key in ("jobs", "stages"):
                            out.setdefault(f"{op}/{layer}.{key}", []).append(s[layer][key])
                if "result_rows" in s:
                    out.setdefault(f"{op}/result_rows", []).append(s["result_rows"])
        return out

    def record(self, res: dict) -> dict:
        rec = {
            "run_id": self.run_id,
            "workload": self.workload,
            "seed": self.args.seed,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "engine_key": _engine_key(int(os.environ["SPARK_GRAFT_CPUS"])),
            "spark_version": pyspark.__version__,
            "scale": (
                {"fixtures_bytes": self.input_bytes} if self.workload == LAKE else
                {**self.expected["scale"], "input_bytes": self.input_bytes}
            ),
            "plan_md5": self.plan_md5s,
            "start_s": round(res["start_s"], 4),
            "warmup_s": round(res["warmup_s"], 4),
            "pass_walls_s": [round(p["wall"], 4) for p in res["passes"]],
            "error_rate": self.failed / self.attempted,
            "failures": self.failures,
        }
        if self.args.trace:
            rec["count_stability"] = self._stability(self.counts(res["passes"]), rec["engine_key"])
            rec["self_s"] = {k: round(v, 4) for k, v in self.tracer.self_times().items()}
            path = os.path.join(WORK, "traces", f"{self.run_id}.json")
            self.tracer.dump(path)
            rec["trace_file"] = os.path.relpath(path, ROOT)
        return rec

    def _stability(self, counts: dict[str, list], key: str) -> dict:
        """Which counts repeated exactly across this run's traced passes and
        every earlier traced run of the workload in this checkout with the
        same engine source, Spark version and core width (``key``)."""
        hist_path = os.path.join(WORK, "records", f"{self.workload}-{key}.jsonl")
        history: list[dict] = []
        if os.path.exists(hist_path):
            with open(hist_path) as fh:
                history = [json.loads(line) for line in fh if line.strip()]
        os.makedirs(os.path.dirname(hist_path), exist_ok=True)
        with open(hist_path, "a") as fh:
            fh.write(json.dumps(counts) + "\n")
        out = {"runs": len(history) + 1, "exact": [], "varied": {}}
        for name, vals in sorted(counts.items()):
            seen = set(vals)
            for h in history:
                seen.update(h.get(name, []))
            if len(seen) == 1:
                out["exact"].append(name)
            else:
                out["varied"][name] = sorted(seen)
        return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench = Bench(args, _prepare_env())
    try:
        res = bench.run()
        if args.trace:
            layers = bench.layer_metrics(res)
            metrics = {k: (layers[k], u) for k, u in PER_LAYER.items()}
        else:
            metrics = {k: (res[k], u) for k, u in END_TO_END.items()}
        rec = bench.record(res)
    finally:
        bench.shutdown()

    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    print(f"error_rate = {rec['error_rate']:.6g} 1")
    if args.workload == LAKE and not args.trace:
        print(f"lake_bytes_per_input_byte = {res['output_bytes_per_input_byte']:.6g} B/B")
    print(json.dumps({"record": rec}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
