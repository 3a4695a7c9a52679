"""Closed-loop benchmark of cudf_spark: one client, one query at a time.

Run from the repository root::

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 8 --trace 0

One process drives ``local[<cpus>]``. It starts the session, runs one
untimed pass that collects every query and compares it with its DuckDB
oracle and one untimed warm pass, then runs timed passes (``build()`` plus
a noop write per query), at least two, until ``--seconds`` have
elapsed. Each pass's query order is drawn from ``--seed``.
The last stdout line is the result JSON: end-to-end metrics with
``--trace 0``; per-layer metrics, with spans written to
``.perfbench_out/``, with ``--trace 1``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
FIXTURES = HERE / "fixtures" / "sf0.01"
OUT = ROOT / ".perfbench_out"
# At least two timed passes, so the tail is never one pass's maximum. More
# do not fit: 4 + 22 x 3 runs must end within 3420 s, and on a slow host a
# third pass pushed the sum to that limit.
MIN_PASSES = 2
MAX_PASSES = 50

sys.path.insert(0, str(HERE))

from stats import error_rate, pass_orders, slowest_per_pass, tail  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def process_age_s() -> float:
    """Seconds since this process started, interpreter start-up included."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def driver_memory_mb() -> int:
    """A driver heap that fits the host: a quarter of RAM, at most 2 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(512, min(2048, total_kb // 4096))


def configure_env(work: Path) -> None:
    """Host sizing and scratch locations, set before the JVM starts."""
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_DRIVER_MEMORY"] = f"{driver_memory_mb()}m"
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["TMPDIR"] = str(work / "tmp")
    # Python workers import cudf_spark too (pandas UDF bodies), whatever
    # the caller's working directory.
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")]))
    env["PYSPARK_PYTHON"] = sys.executable
    # Every JVM, the spark-submit launcher included, keeps its temp files and
    # perf-data out of /tmp.
    env["JAVA_TOOL_OPTIONS"] = shlex.join([f"-Djava.io.tmpdir={work / 'tmp'}", "-XX:-UsePerfData"])
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        ["--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}", "pyspark-shell"]
    )


def load_conftest():
    """The suite's own row normalizers (``tests/conftest.py``)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("perfbench_conftest", ROOT / "tests" / "conftest.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def clear_session(spark) -> int:
    """Drop cached tables and persistent RDDs; return how many RDDs were left."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs().toList()
    leaked = rdds.size()
    it = rdds.iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)
    return leaked


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.sf_dir = str(FIXTURES)
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.tracer = None
        self.probe = None
        self.spark = None

    # -- set-up ---------------------------------------------------------
    def start(self) -> None:
        if self.args.trace:
            from tracing import Tracer

            import cudf_spark.catalog as catalog

            # Query modules bind ``load`` at import, so wrap it first.
            self.tracer = Tracer()
            catalog.load = self.tracer.wrap("catalog.load", catalog.load)
        from cudf_spark.queries import REGISTRY
        from cudf_spark.session import get_spark

        self.registry = REGISTRY
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            from tracing import SparkProbe

            self.probe = SparkProbe(self.spark)

    def check_pass(self, order: list[str]) -> None:
        """Untimed pass: collect each query and compare with its oracle."""
        import duckdb
        from cudf_spark.catalog import TABLES

        conftest = load_conftest()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
            for name in order:
                self.attempted += 1
                try:
                    got = conftest.rows_from_spark(self.registry[name].build(self.spark, self.sf_dir))
                    want = conftest.rows_from_duck(con, self.registry[name].oracle)
                except Exception:
                    self.fail(name)
                else:
                    if got != want:
                        self.failed += 1
                        self.mismatches.append(name)
                        print(f"perfbench: {name}: result differs from its DuckDB oracle", file=sys.stderr)
                clear_session(self.spark)
                if self.probe:
                    self.probe.drain()
        finally:
            con.close()

    def fail(self, name: str) -> None:
        self.failed += 1
        print(f"perfbench: {name} failed:\n{traceback.format_exc()}", file=sys.stderr)

    # -- timed passes ---------------------------------------------------
    def run_query(self, name: str, eid: str) -> dict | None:
        """One end-to-end execution; ``None`` when it raised."""
        query = self.registry[name]
        self.attempted += 1
        try:
            if self.tracer is None:
                t0 = time.perf_counter()
                df = query.build(self.spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                rec = {"latency_s": time.perf_counter() - t0}
            else:
                rec = self.run_traced(query, name, eid)
        except Exception:
            self.fail(name)
            rec = None
            if self.probe:
                # Drop the failed query's events so the next query's counters stay its own.
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                self.probe.drain()
        leaked = clear_session(self.spark)
        if rec is not None:
            rec["query"] = name
            rec["exec.leaked_rdds"] = leaked
        return rec

    def run_traced(self, query, name: str, eid: str) -> dict:
        sc = self.spark.sparkContext
        tr = self.tracer
        with tr.span("query", exec=eid, query=name) as q:
            with tr.span("build") as b:
                sc.setJobGroup(f"{eid}/build", name)
                df = query.build(self.spark, self.sf_dir)
            with tr.span("action") as a:
                sc.setJobGroup(f"{eid}/action", name)
                df.write.format("noop").mode("overwrite").save()
        sc.setLocalProperty("spark.jobGroup.id", None)
        return self.phase_counters(eid, q, b, a)

    def phase_counters(self, eid: str, q: dict, b: dict, a: dict) -> dict:
        from tracing import plan_counters, stream_counters

        qes, progress = self.probe.drain()
        build_jobs = self.probe.jobs(f"{eid}/build")
        action = self.probe.jobs(f"{eid}/action")
        b["jobs"], a["jobs"] = build_jobs["job_ids"], action["job_ids"]
        loads = [s for s in self.tracer.spans if s["exec"] == eid and s["name"] == "catalog.load"]
        rec = defaultdict(float)
        rec.update(
            {
                "latency_s": q["end"] - q["start"],
                "catalog.load_calls": len(loads),
                "catalog.load_s": sum(s["end"] - s["start"] for s in loads),
                "queries.build_s": b["end"] - b["start"],
                "queries.build_jobs": len(build_jobs["job_ids"]),
                "exec.s": a["end"] - a["start"],
                "exec.jobs": len(action["job_ids"]),
                "exec.stages": action["stages"],
                "exec.tasks": action["tasks"],
                "exec.scan_bytes": action["scan_bytes"],
                "exec.scan_rows": action["scan_rows"],
                "exec.shuffle_write_bytes": action["shuffle_write_bytes"],
                "exec.shuffle_read_bytes": action["shuffle_read_bytes"],
                "exec.spill_bytes": action["spill_bytes"],
                "peak_memory_bytes": action["peak_memory_bytes"],
                "skews": action["skews"],
            }
        )
        # The noop write is the last execution the listener reports; the
        # ones before it ran eagerly inside build().
        for i, qe in enumerate(qes):
            counters = plan_counters(qe)
            for k, v in counters.items():
                if k.startswith(("udf.", "io.")) or i == len(qes) - 1:
                    rec[k] += v
        for k, v in stream_counters(progress).items():
            rec[k] += v
        return rec

    def run_pass(self, order: list[str], label: str) -> list[dict]:
        records = []
        with self.tracer.span("pass", exec=None, label=label) if self.tracer else nullcontext():
            for i, name in enumerate(order):
                rec = self.run_query(name, f"{label}q{i}")
                if rec is not None:
                    records.append(rec)
        return records

    def timed(self, orders: list[list[str]]) -> tuple[list[list[dict]], list[float], float]:
        """Whole passes until ``--seconds`` have elapsed, at least two;
        returns each pass's records."""
        passes: list[list[dict]] = []
        pass_s: list[float] = []
        t0 = time.perf_counter()
        for p, order in enumerate(orders):
            tp = time.perf_counter()
            passes.append(self.run_pass(order, f"p{p}"))
            pass_s.append(time.perf_counter() - tp)
            if len(pass_s) >= MIN_PASSES and time.perf_counter() - t0 >= self.args.seconds:
                break
        return passes, pass_s, time.perf_counter() - t0

    # -- teardown -------------------------------------------------------
    def stop(self) -> None:
        if self.spark is None:
            return
        if self.probe:
            self.probe.close()
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def end_to_end(by_pass: list[list[dict]], wall_s: float, setup_s: float) -> tuple[dict, dict]:
    records = [r for recs in by_pass for r in recs]
    lat = [r["latency_s"] for r in records]
    by_query = defaultdict(list)
    for r in records:
        by_query[r["query"]].append(r["latency_s"])
    # The pooled rule (highest percentile with ten samples beyond) is only
    # recorded: the 6-20 samples a run affords give only the median.
    p, value, n_beyond = tail(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "queries_per_min": (60.0 * len(records) / wall_s, "1/min"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (slowest_per_pass([[r["latency_s"] for r in recs] for recs in by_pass]), "s"),
    }
    info = {
        "samples": len(lat),
        "passes": len(by_pass),
        "pooled_tail": {"percentile": p, "value_s": value, "samples_beyond": n_beyond},
        "pass_latency_s": sum(lat) / len(by_pass),
        "query_latency_s": by_query,
    }
    return metrics, info


# Per-layer counters summed over a pass's queries, with their units.
PER_PASS = {
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.scan_bytes": "bytes",
    "exec.scan_rows": "rows",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.checkpoint_scans": "count",
    "exec.leaked_rdds": "count",
    "udf.nodes": "count",
    "udf.rows_to_python": "rows",
    "udf.bytes_to_python": "bytes",
    "udf.bytes_from_python": "bytes",
    "udf.python_time_s": "s",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.input_rows": "rows",
    "streaming.state_rows_updated": "rows",
    "streaming.state_commit_s": "s",
    "io.files_written": "count",
    "io.bytes_written": "bytes",
}


def per_layer(bench: Bench, records: list[dict], passes: int, gc_s: float) -> dict:
    from tracing import jvm_pid, peak_rss_mb

    m = {k: (sum(r.get(k, 0) for r in records) / passes, u) for k, u in PER_PASS.items()}
    lat = sum(r["latency_s"] for r in records)
    skews = [s for r in records for s in r["skews"]]
    examined = sum(r.get("examined_rows", 0) for r in records)
    out_rows = sum(r.get("output_rows", 0) for r in records)
    m.update(
        {
            "session.start_s": (bench.session_start_s, "s"),
            "queries.latency_s": (lat / passes, "s"),
            "queries.build_share": (sum(r["queries.build_s"] for r in records) / lat, "ratio"),
            "exec.task_skew": (statistics.median(skews) if skews else 1.0, "ratio"),
            "exec.peak_memory_bytes": (max(r["peak_memory_bytes"] for r in records), "bytes"),
            "exec.rows_examined_per_output_row": (examined / max(out_rows, 1), "ratio"),
            "streaming.state_memory_bytes": (
                max(r.get("streaming.state_memory_bytes", 0) for r in records),
                "bytes",
            ),
            "jvm.peak_rss_mb": (peak_rss_mb(jvm_pid(bench.spark)), "MB"),
            "jvm.gc_s": (gc_s / passes, "s"),
            "py.peak_rss_mb": (peak_rss_mb(), "MB"),
        }
    )
    return m


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in (ROOT / "cudf_spark", ROOT / "tests" / "conftest.py", FIXTURES) if not p.exists()]
    if missing:
        print(f"perfbench: not inside a cudf_spark checkout; missing {missing}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    configure_env(work)
    sys.path.insert(0, str(ROOT))
    bench = Bench(args)
    orders = pass_orders(bench.workload.queries, args.seed, MAX_PASSES + 2)
    try:
        bench.start()
        with bench.tracer.span("check_pass", exec="check") if bench.tracer else nullcontext():
            bench.check_pass(orders[0])
        # One more untimed pass through the timed code path: after the check
        # pass alone the first timed pass ran 10-50% slower than the next
        # (JIT warm-up).
        bench.run_pass(orders[1], "warm")
        setup_s = process_age_s()
        gc0 = _gc(bench)
        by_pass, pass_s, wall_s = bench.timed(orders[2:])
        gc_s = _gc(bench) - gc0
        if not any(by_pass):
            print("perfbench: every timed execution failed", file=sys.stderr)
            return 1
        e2e, info = end_to_end(by_pass, wall_s, setup_s)
        records = [r for recs in by_pass for r in recs]
        metrics = per_layer(bench, records, len(by_pass), gc_s) if args.trace else e2e
        info.update(
            pass_s=pass_s,
            workload=args.workload,
            seed=args.seed,
            trace=args.trace,
            fixtures="sf0.01",
            default_parallelism=bench.spark.sparkContext.defaultParallelism,
            driver_memory=bench.spark.conf.get("spark.driver.memory"),
            error_rate=error_rate(bench.attempted, bench.failed),
            mismatches=bench.mismatches,
            end_to_end={k: v for k, (v, _) in e2e.items()},
        )
        write_record(args, info, metrics, bench)
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _gc(bench: Bench) -> float:
    if not bench.args.trace:
        return 0.0
    from tracing import jvm_gc_s

    return jvm_gc_s(bench.spark)


def trace_overhead(traced_spans_s: float, untraced_path: Path) -> dict:
    """The traced run's build + action spans per pass against the latency
    per pass of the untraced run of the same workload and seed."""
    if not untraced_path.exists():
        print(
            f"perfbench: no untraced record {untraced_path.name}; run the same "
            "workload and seed with --trace 0 first to measure the tracing overhead",
            file=sys.stderr,
        )
        return {"measured": False, "missing": untraced_path.name, "traced_spans_s": traced_spans_s}
    base = json.loads(untraced_path.read_text())["pass_latency_s"]
    return {
        "measured": True,
        "untraced_pass_latency_s": base,
        "traced_spans_s": traced_spans_s,
        "residual_s": traced_spans_s - base,
        "ratio": traced_spans_s / base - 1.0,
    }


def write_record(args, info: dict, metrics: dict, bench: Bench) -> None:
    """Untraced runs leave their record; traced runs add spans and overhead."""
    OUT.mkdir(exist_ok=True)
    stem = OUT / f"{args.workload}-seed{args.seed}"
    untraced = stem.with_name(stem.name + "-untraced.json")
    if not args.trace:
        untraced.write_text(json.dumps(info, indent=1))
        return
    spans_s = metrics["queries.build_s"][0] + metrics["exec.s"][0]
    info["trace_overhead"] = trace_overhead(spans_s, untraced)
    record = {
        "info": info,
        "per_layer": {k: v for k, (v, _) in metrics.items()},
        "spans": bench.tracer.with_self_time(),
    }
    (stem.with_name(stem.name + "-trace.json")).write_text(json.dumps(record, indent=1))


if __name__ == "__main__":
    sys.exit(main())
