"""Benchmark of the elevate_data_pipeline_spark engine.

    python3 perfbench/run.py --workload etl_spec --seed 1 --seconds 3 --trace 0

Run from the repository root. One run, in one process running Spark on
``local[<cores>]`` with the engine's default session:

1. writes the fixed input tables into a work directory under the
   repository (``.perfbench-work``) and generates the run's seeded spec
   documents;
2. sets a session up: imports the engine, starts the JVM, calls
   ``session.get_spark`` and waits for the catalog's session warm-up
   job; this cold start is ``cold_s``;
3. sets the session up again several times (stop, ``get_spark``, the
   warm-up) and reports the median (``setup_s``);
4. runs one warm pass over the workload's operations, checking every
   output against ``expected.json`` or, for seeded specs, against DuckDB;
5. runs ``TIMED_PASSES`` timed passes, a closed loop with one client.
   Their number is fixed, so that a faster engine is not measured
   further into the JIT's warm-up than a slower one; when they end
   before ``--seconds`` have passed, more passes fill the time, and
   those count in no metric. A background thread samples the process
   tree's resident memory from the cold start to the end of the timed
   passes (``peak_rss_mb``).

With ``--trace 1`` the run skips step 3, times ``TRACED_PASSES``
untraced passes, then sets up a session with a plain-JSON Spark event
log (its set-up gives ``session.start_s`` and ``session.warm_s``) and times
``TRACED_PASSES`` traced passes, with spans around each layer call and
one job group per operation (each side after one untimed pass, and each
filled to half the seconds as above), then runs ``bench.shuffle_probe``;
it reports the per-layer metrics.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it holds the details (per-operation latencies, the tail
percentile, steal per pass, failures). Every run also writes its record,
with the spans of a traced run, under ``.perfbench-out``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "elevate_data_pipeline_spark"

SETUPS = 3
TIMED_PASSES = 2
TRACED_PASSES = 1  # on each side of a traced run
HIGH_STEAL_PCT = 5.0
# environment knobs that change the engine's behaviour: a benchmark run
# uses the engine's defaults
ENGINE_KNOBS = ("SPARK_GRAFT_SHARED_SCANS", "SPARK_GRAFT_DRIVER_MEM",
                "SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_CMS_ADVISOR",
                "SPARK_GRAFT_VP8_FOREIGN")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="elevate_data_pipeline_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Bench:
    def __init__(self, args):
        sys.path[:0] = [ROOT, HERE]
        import check
        import inputs
        import layers
        import workloads

        self.check, self.inputs, self.layers = check, inputs, layers
        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(workloads.WORKLOADS)}")
        self.args = args
        self.workload = workloads.WORKLOADS[args.workload]
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f)

        self.work = os.path.join(ROOT, ".perfbench-work", f"{os.getpid()}")
        self.data = os.path.join(self.work, "data")
        self.sink = os.path.join(self.work, "sink")
        self.cores = len(os.sched_getaffinity(0))
        # when enabled, also job groups and statusTracker counts
        self.tracer = layers.Tracer(False)
        self.spark = None
        self.attempted = 0
        self.failures: list[dict] = []
        self.op_jobs: dict[str, dict] = {}  # op id -> statusTracker job counts
        self.specs: dict[str, tuple[dict, str]] = {}

    # -- inputs ------------------------------------------------------------

    def prepare(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        for knob in ENGINE_KNOBS:
            os.environ.pop(knob, None)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # temporary files (the JVM gateway's handshake file among them)
        # stay inside the checkout too
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.makedirs(os.environ["TMPDIR"])
        tempfile.tempdir = None
        # Python workers import the engine from this checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        fingerprint = self.inputs.write_tables(self.data)
        if fingerprint != self.expected["tables_sha256"]:
            raise SystemExit(
                "generated input tables differ from the ones expected.json was "
                "made from; rerun perfbench/make_expected.py")
        self.specs = self.inputs.specs(self.args.seed)
        self.duck = self.check.load_oracle_util().duckdb_con(self.data)

    # -- output checks -----------------------------------------------------

    def fail(self, op: str, why: str) -> None:
        self.failures.append({"op": op, "why": why})
        print(f"perfbench: operation {op} failed: {why}", file=sys.stderr)

    def verify(self, op: str, kind: str, name: str, got: dict) -> None:
        if kind == "spec":
            want = self.check.duckdb_digest(self.duck, self.specs[name][1])
        else:
            want = self.expected["digests"][name]
        if got != want:
            self.fail(op, f"output {got} != expected {want}")

    # -- the engine --------------------------------------------------------

    def setup(self, **conf) -> tuple[float, float]:
        """Stop the session and set a fresh one up: ``get_spark``, then the
        catalog's session warm-up job, waited for. Returns the seconds of
        (``get_spark``, warm-up)."""
        from elevate_data_pipeline_spark.session import get_spark
        from elevate_data_pipeline_spark.sources import Catalog

        if self.spark is not None:
            self.wait_idle()
            self.spark.stop()
        t0 = time.perf_counter()
        with self.tracer.span("setup", "get_spark"):
            self.spark = get_spark("perfbench", **conf)
        t1 = time.perf_counter()
        before = set(threading.enumerate())
        Catalog(self.spark, self.data)
        for thread in set(threading.enumerate()) - before:
            thread.join()
        return t1 - t0, time.perf_counter() - t1

    def wait_idle(self, timeout: float = 60.0) -> None:
        """Wait for jobs the engine started in the background (a session
        warm-up) before stopping the session."""
        tracker = self.spark.sparkContext.statusTracker()
        deadline = time.perf_counter() + timeout
        while tracker.getActiveJobsIds() and time.perf_counter() < deadline:
            time.sleep(0.05)

    def jobs(self, op_id: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(op_id))

    def run_op(self, op_id: str, kind: str, name: str, check: bool) -> float | None:
        """One operation; returns its latency, or None when it failed."""
        from elevate_data_pipeline_spark.plans import compile_pipeline
        from elevate_data_pipeline_spark.queries import QUERIES
        from elevate_data_pipeline_spark.sources import Catalog
        from elevate_data_pipeline_spark.sources.sink import write_parquet
        from elevate_data_pipeline_spark.spec import parse_spec

        span, spark, trace = self.tracer.span, self.spark, self.tracer.enabled
        path = os.path.join(self.sink, op_id)
        self.attempted += 1
        if trace:
            counts = self.op_jobs.setdefault(op_id, {})
            spark.sparkContext.setJobGroup(op_id, op_id)
        try:
            t0 = time.perf_counter()
            if kind == "spec":
                doc = self.specs[name][0]
                with span(op_id, "parse_spec"):
                    spec = parse_spec(doc["input_data_schema"], doc.get("data_mapping"),
                                      doc.get("output_data_schema"))
                before = self.jobs(op_id) if trace else 0
                with span(op_id, "compile_pipeline"):
                    (df,) = compile_pipeline(Catalog(spark, self.data), spec)
                if trace:
                    counts["compile_jobs"] = self.jobs(op_id) - before
            else:
                before = self.jobs(op_id) if trace else 0
                with span(op_id, "QUERIES[name]"):
                    df = QUERIES[name](spark, self.data)
                if trace:
                    counts["build_jobs"] = self.jobs(op_id) - before
            if kind == "collect":
                with span(op_id, "collect"):
                    rows = df.collect()
            else:
                with span(op_id, "write_parquet"):
                    write_parquet(df, path)
            latency = time.perf_counter() - t0
            if check:
                if kind == "collect":
                    got = self.check.digest(df.columns, rows)
                else:
                    got = self.check.parquet_digest(path)
                self.verify(op_id, kind, name, got)
        except Exception:
            self.fail(op_id, traceback.format_exc())
            return None
        return latency

    def run_pass(self, tag: str, number: int, check: bool = False) -> dict:
        """One pass over the workload's operations in a seeded order."""
        ops = list(self.workload["ops"])
        random.Random(f"order:{self.args.seed}:{tag}{number}").shuffle(ops)
        shutil.rmtree(self.sink, ignore_errors=True)
        os.makedirs(self.sink)
        steal0 = self.layers.cpu_ticks()
        trace = self.tracer.enabled
        gc0 = self.jvm_gc_ms() if trace else 0
        t0 = time.perf_counter()
        lat = {}
        for i, (kind, name) in enumerate(ops):
            op_id = f"{tag}{number}.{i}.{name}"
            lat[op_id] = self.run_op(op_id, kind, name, check)
        wall = time.perf_counter() - t0
        gc_ms = self.jvm_gc_ms() - gc0 if trace else 0
        steal = self.layers.steal_pct(steal0, self.layers.cpu_ticks())
        end_rss = self.layers.tree_rss_bytes(os.getpid()) / self.layers.MB
        return {"tag": tag, "number": number, "wall_s": wall, "steal_pct": steal,
                "high_steal": steal > HIGH_STEAL_PCT, "end_rss_mb": end_rss,
                "gc_ms": gc_ms, "latency_s": lat}

    def jvm_gc_ms(self) -> int:
        """Collection time of every JVM garbage collector so far. Local
        mode runs all of Spark in this one JVM."""
        management = self.spark.sparkContext._jvm.java.lang.management
        return sum(b.getCollectionTime()
                   for b in management.ManagementFactory.getGarbageCollectorMXBeans())

    def fill(self, tag: str, number: int, deadline: float) -> list[float]:
        """More passes until ``deadline``, when the timed ones ended before
        it; they count in no metric. Returns their wall times."""
        walls = []
        while time.perf_counter() < deadline:
            walls.append(self.run_pass(tag, number + len(walls))["wall_s"])
        return walls

    def probe(self) -> float:
        """``bench.shuffle_probe``: the seconds this box's shuffle
        machinery takes right now, a record of how noisy the box was."""
        import bench

        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup("probe", "probe")
        return bench.shuffle_probe(self.spark)

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.wait_idle()
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    # -- the run -------------------------------------------------------------

    def run(self) -> dict:
        phases: dict[str, float] = {}
        t0 = time.perf_counter()
        self.prepare()
        details: dict = {"workload": self.args.workload, "seed": self.args.seed,
                         "trace": self.args.trace, "cores": self.cores,
                         "phases_s": phases}
        t1 = time.perf_counter()
        # this process, the JVM and the Python workers
        self.memory = self.layers.PeakRss()
        self.setup()  # the first imports the engine and starts the JVM
        details["cold_s"] = time.perf_counter() - t1
        if not self.args.trace:  # a traced run reports no setup_s
            details["setups_s"] = [sum(self.setup()) for _ in range(SETUPS)]
        t2 = time.perf_counter()
        details["warm_pass_s"] = self.run_pass("w", 0, check=True)["wall_s"]
        t3 = time.perf_counter()
        if self.args.trace:
            metrics = self.run_traced(details)
        else:
            metrics = self.run_timed(details)
        details["peak_rss_mb"] = self.memory.stop()
        t4 = time.perf_counter()
        self.shutdown()
        phases.update(prepare=t1 - t0, cold=details["cold_s"],
                      setups=t2 - t1 - details["cold_s"], warm=t3 - t2,
                      measure=t4 - t3, shutdown=time.perf_counter() - t4)
        details["op_fail_ratio"] = len(self.failures) / self.attempted
        details["failures"] = self.failures
        return {"metrics": metrics, "details": details}

    def run_timed(self, details: dict) -> dict:
        t0 = time.perf_counter()
        passes = [self.run_pass("p", i) for i in range(TIMED_PASSES)]
        peak_rss_mb = self.memory.stop()  # before passes whose number varies
        summary = self.describe(passes)
        details.update(summary,
                       fill_passes_s=self.fill("p", TIMED_PASSES, t0 + self.args.seconds))
        return {
            "setup_s": (statistics.median(details["setups_s"]), "s"),
            "cold_s": (details["cold_s"], "s"),
            "pass_s": (summary["pass_s"], "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }

    def describe(self, passes: list[dict]) -> dict:
        """Latency summary of timed passes. ``pass_s`` sums each
        operation's median latency; ``op_p50_s`` is the median of every
        latency sample, and ``op_tail`` the highest percentile with at
        least ten samples beyond it, when there are enough samples."""
        per_op: dict[str, list[float]] = {}
        for p in passes:
            for op_id, v in p["latency_s"].items():
                if v is not None:
                    per_op.setdefault(op_id.split(".", 2)[2], []).append(v)
        lat = sorted(v for vs in per_op.values() for v in vs)
        n = len(lat)
        tail = None
        if n > 10:
            # nearest rank: the (n-10)th smallest has ten samples above it
            tail = {"percentile": 100.0 * (n - 10) / n, "value_s": lat[n - 11],
                    "samples": n}
        return {
            "pass_s": sum(statistics.median(v) for v in per_op.values()),
            "op_p50_s": statistics.median(lat) if lat else float("nan"),
            "op_samples": n,
            "op_tail": tail,
            "op_median_s": {k: statistics.median(v) for k, v in sorted(per_op.items())},
            "passes": [{k: v for k, v in p.items() if k != "latency_s"} for p in passes],
        }

    def run_traced(self, details: dict) -> dict:
        layers = self.layers
        half = self.args.seconds / 2
        # one more untimed pass on each side, so that the untraced and the
        # traced passes are equally far into the JIT's warm-up
        self.run_pass("u", 0)
        t0 = time.perf_counter()
        plain = [self.run_pass("p", i) for i in range(TRACED_PASSES)]
        fill = self.fill("p", TRACED_PASSES, t0 + half)

        log_dir = os.path.join(self.work, "eventlog")
        os.makedirs(log_dir)
        self.tracer = layers.Tracer(True)
        setup = self.setup(**layers.EVENT_LOG_CONF, **{"spark.eventLog.dir": log_dir})
        self.run_pass("v", 0)  # also starts the new session's Python workers
        t0 = time.perf_counter()
        traced = [self.run_pass("t", i) for i in range(TRACED_PASSES)]
        fill += self.fill("t", TRACED_PASSES, t0 + half)
        probe_s = self.probe()
        self.shutdown()
        log = layers.read_event_log(log_dir)

        summary, plain_summary = self.describe(traced), self.describe(plain)
        details.update(summary, plain=plain_summary, spans=self.tracer.spans,
                       op_jobs=self.op_jobs, probe_s=probe_s, fill_passes_s=fill)
        steal = [p["steal_pct"] for p in plain + traced]
        return self.layer_metrics(log, traced, summary["pass_s"], plain_summary["pass_s"],
                                  setup, probe_s, statistics.median(steal))

    def layer_metrics(self, log, traced, pass_s, plain_s, setup, probe_s,
                      steal_pct) -> dict:
        MB = self.layers.MB
        n = len(traced)
        ops = {op for p in traced for op in p["latency_s"]}
        groups = [log["groups"][op] for op in ops if op in log["groups"]]

        def per_pass(key: str, scale: float = 1.0) -> float:
            return sum(g[key] for g in groups) / scale / n

        def jobs_per_pass(key: str) -> float:
            """Median over traced passes of the summed statusTracker counts."""
            return statistics.median(
                sum(self.op_jobs.get(op, {}).get(key, 0) for op in p["latency_s"])
                for p in traced)

        def span(layer: str) -> float:
            return self.tracer.total(layer, ops) / n

        exec_s = span("collect") + span("write_parquet")
        run_s = per_pass("run_ms", 1e3)
        py_run_s = per_pass("py_run", 1e3)
        out_rows = sum(g["output_rows"] for g in groups)
        skews = [v for sid, v in log["stage_skew"].items()
                 if log["stage_group"].get(sid) in ops]
        return {
            "session.start_s": (setup[0], "s"),
            "session.warm_s": (setup[1], "s"),
            "spec.parse_s": (span("parse_spec"), "s"),
            "plans.compile_s": (span("compile_pipeline"), "s"),
            "plans.compile_jobs": (jobs_per_pass("compile_jobs"), "count"),
            "queries.build_s": (span("QUERIES[name]"), "s"),
            "queries.build_jobs": (jobs_per_pass("build_jobs"), "count"),
            "queries.build_share": (span("QUERIES[name]") / pass_s, "ratio"),
            "sources.sink_write_s": (span("write_parquet"), "s"),
            "sources.sink_bytes_per_row": (
                sum(g["output_bytes"] for g in groups) / out_rows if out_rows else 0.0,
                "B/row"),
            "sources.scan_mb": (per_pass("input", MB), "MB"),
            "operators.exec_s": (exec_s, "s"),
            "operators.jobs": (per_pass("jobs"), "count"),
            "operators.stages": (per_pass("stages"), "count"),
            "operators.tasks": (per_pass("tasks"), "count"),
            "operators.task_run_s": (run_s, "s"),
            "operators.task_cpu_s": (per_pass("cpu_ns", 1e9), "s"),
            "operators.gc_s": (statistics.mean(p["gc_ms"] for p in traced) / 1e3, "s"),
            "operators.shuffle_write_mb": (per_pass("shuffle_write", MB), "MB"),
            "operators.shuffle_read_mb": (per_pass("shuffle_read", MB), "MB"),
            "operators.spill_mb": (per_pass("spill", MB), "MB"),
            "operators.core_util": (run_s / (exec_s * self.cores) if exec_s else 0.0,
                                    "ratio"),
            "operators.stage_skew": (statistics.median(skews) if skews else 1.0, "ratio"),
            "operators.untagged_jobs": (log["untagged_jobs"], "count"),
            "functions.py_run_s": (py_run_s, "s"),
            "functions.py_boot_s": (per_pass("py_boot", 1e3) + per_pass("py_init", 1e3),
                                    "s"),
            "functions.py_sent_mb": (per_pass("py_sent", MB), "MB"),
            "functions.py_recv_mb": (per_pass("py_recv", MB), "MB"),
            "functions.py_share": (py_run_s / run_s if run_s else 0.0, "ratio"),
            "host.steal_pct": (steal_pct, "%"),
            "host.probe_s": (probe_s, "s"),
            "trace.overhead_frac": (pass_s / plain_s - 1.0, "ratio"),
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE} package beside {HERE}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    bench = Bench(args)
    try:
        out = bench.run()
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()}
    record = {"correct": not bench.failures, "attempted": bench.attempted,
              "failed": len(bench.failures), "metrics": metrics}
    out_dir = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({**record, "details": out["details"]}, f, indent=1, default=str)
    details = {k: v for k, v in out["details"].items() if k not in ("spans", "op_jobs")}
    print(json.dumps(details, default=str))
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
