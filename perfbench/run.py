"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> [--seed N] [--seconds S] [--trace 0|1]
    python3 perfbench/run.py --workload all      # every workload, one after another

Run from the repository root. Workloads: fuel_etl_runs,
curation_keeplist, query_mix (see perfbench/README.md).

One run: set up ``SETUPS`` times (session start, warm-up query, writing
the seeded inputs; the first set-up also launches the JVM), then run
whole passes over the workload's operations until ``--seconds`` of
timed work is done, grading every operation's output outside the timed
region. ``--trace 1`` then repeats those passes twice, each in a
restarted session over regenerated inputs: untraced, then with the Spark
event log on and the layer spans installed, and reports per-layer
metrics instead of end-to-end ones.

Everything the run writes lives in a temporary directory under the
working directory, which is deleted at exit. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("fuel_etl_runs", "curation_keeplist", "query_mix")
# BENCHMARK.json lists the first two: one query_mix pass (ten cold
# queries) takes 45 s or more on 4 cores, too long for a benchmark whose
# runs are repeated many times
SETUPS = 3
# the metrics of BENCHMARK.json: the ones whose spread between seeds
# stays inside a 25% regression bound
END_TO_END = {"setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s"}
# printed with them: the query mix's per-operation latencies depend on
# which queries the seeded order makes pay the cold-start costs, the
# JVM's high-water RSS moves with GC timing, and the last two are 0 on
# some workloads
REPORT_ONLY = {
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
    "fail_frac": "ratio",
    "bytes_stored_per_input_byte": "ratio",
}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "sinks.bytes_written":
        return "bytes"
    if name == "sources.fetches_per_key":
        return "ratio"
    return "count"


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    operations beyond it; the maximum (p100) when there are fewer than
    eleven operations."""
    s = sorted(latencies)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def _session_conf(tmp: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
    }
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _warm_up(spark) -> None:
    """One shuffle and one Python-worker round trip, so the timed
    operations pay neither for the session's first job nor for starting
    its Python workers."""
    (
        spark.range(200_000)
        .selectExpr("id % 97 AS k")
        .groupBy("k")
        .count()
        .mapInPandas(lambda batches: batches, "k long, count long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


class Run:
    def __init__(self, args, tmp: str):
        from perfbench import workloads

        self.args, self.tmp = args, tmp
        self.cls = workloads.BY_NAME[args.workload]
        self.spark = None
        self.attempted = self.failed = 0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        try:
            self.stop_session()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)
                SparkContext._gateway = SparkContext._jvm = None

    def start_session(self, trace: bool) -> float:
        from etl_fuel_priceguide_ec2_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_session(
            "perfbench", extra_conf=_session_conf(self.tmp, trace)
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def set_up(self) -> tuple[list[float], list[float]]:
        totals, starts = [], []
        for k in range(SETUPS):
            self.wl = self.cls(self.args.seed)
            self.stop_session()
            t0 = time.perf_counter()
            starts.append(self.start_session(trace=False))
            _warm_up(self.spark)
            self.wl.prepare(os.path.join(self.tmp, f"inputs{k}"))
            totals.append(time.perf_counter() - t0)
            self.wl.start(self.spark)
        return totals, starts

    def passes(self, tracer, n_passes: int | None, tag: str, check=True):
        """Whole passes until ``--seconds`` of timed work (or exactly
        ``n_passes``); returns per-pass wall times and op latencies.
        ``check=False`` only counts operations that raise: for repeat
        passes over inputs equal to ones already graded."""
        walls, lats = [], []
        while True:
            self.wl.begin_pass(os.path.join(self.tmp, f"{tag}{len(walls)}"))
            wall, verdicts = 0.0, []
            for op in self.wl.ops():
                e0, t0 = time.time(), time.perf_counter()
                try:
                    out, ok = self.wl.run_op(self.spark, tracer, op), True
                except Exception:  # a failed op is counted, the run goes on
                    traceback.print_exc(file=sys.stderr)
                    out, ok = None, False
                lat = time.perf_counter() - t0
                tracer.record_op(e0, time.time())
                wall += lat
                lats.append(lat)
                verdicts.append((op, _grade(self.wl.check, op, out) if ok and check else ok))
            self.wl.end_pass()
            self.count(verdicts)
            walls.append(wall)
            if n_passes is not None:
                if len(walls) == n_passes:
                    return walls, lats
            elif sum(walls) >= self.args.seconds:
                return walls, lats

    def count(self, verdicts) -> None:
        """Count a pass's operations; a verdict a check deferred (a
        callable) is computed now, outside the timed region, with the
        pass's other deferred checks in parallel."""
        deferred = [v for _, v in verdicts if callable(v)]
        with ThreadPoolExecutor(max_workers=4) as pool:
            done = dict(zip(deferred, pool.map(_grade, deferred)))
        for op, v in verdicts:
            ok = done[v] if callable(v) else v
            if not ok:
                print(f"FAILED {self.cls.name} op {op!r}", file=sys.stderr)
            self.attempted += 1
            self.failed += not ok

    def restarted_passes(self, tag: str, layers: dict | None = None):
        """As many passes as the graded run made, in a new session over
        regenerated inputs, without grading the outputs again. With
        ``layers`` (layer -> modules) the session logs events and the
        passes run traced. Returns the pass wall times and the tracer."""
        from perfbench import trace as tr

        self.wl = self.cls(self.args.seed)
        self.wl.prepare(os.path.join(self.tmp, f"inputs-{tag}"))
        self.stop_session()
        e0 = time.time()
        self.start_session(trace=layers is not None)
        session_span = (e0, time.time())
        _warm_up(self.spark)
        self.wl.start(self.spark)
        if layers is None:
            walls, _ = self.passes(tr.NullTracer(), self.n_passes, tag, check=False)
            return walls, None
        tracer = tr.Tracer(self.spark.sparkContext)
        tracer.record("session", "get_session", *session_span)
        tracer.install(layers)
        try:
            walls, _ = self.passes(tracer, self.n_passes, tag, check=False)
        finally:
            tracer.uninstall()
        return walls, tracer

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")

    def end_to_end(self) -> dict[str, float]:
        from perfbench.trace import NullTracer

        setups, starts = self.set_up()
        self.session_start_s = statistics.median(starts)
        walls, lats = self.passes(NullTracer(), None, "pass")
        self.n_passes, self.wall_s = len(walls), statistics.median(walls)
        tail_v, tail_p = tail(lats)
        self.tail_note = f"p{tail_p:.1f} of {len(lats)} ops"
        stored = self.wl.stored_bytes
        return {
            "setup_s": statistics.median(setups),
            "wall_s": self.wall_s,
            "op_p50_s": statistics.median(lats),
            "op_tail_s": tail_v,
            "rows_per_s": self.wl.rows_per_pass() / self.wall_s,
            "peak_rss_mb": self.peak_rss_mb(),
            "fail_frac": self.failed / self.attempted,
            "bytes_stored_per_input_byte": (
                stored / self.wl.input_bytes_per_pass() if stored else 0.0
            ),
        }

    def per_layer(self) -> dict[str, float]:
        from etl_fuel_priceguide_ec2_spark import sinks
        from etl_fuel_priceguide_ec2_spark.operators import (
            asof, clustering, dedup, joins, projections, windows,
        )
        from etl_fuel_priceguide_ec2_spark.sources import catalog, rest
        from perfbench import trace as tr

        self.end_to_end()
        # The graded first passes ran cold. The overhead compares two
        # passes that each start from a restarted session and regenerated
        # copies of the same inputs: one untraced, one traced.
        untraced, _ = self.restarted_passes("untraced")
        walls, tracer = self.restarted_passes(
            "traced",
            {
                "sources": [rest, catalog], "projections": [projections],
                "joins": [joins], "asof": [asof], "windows": [windows],
                "dedup": [dedup], "clustering": [clustering], "sinks": [sinks],
            },
        )
        self.stop_session()
        jobs = tr.parse_event_log(tr.find_event_log(os.path.join(self.tmp, "eventlog")))
        m = tr.layer_metrics(tracer.trace, jobs)
        m["session.start_s"] = self.session_start_s
        m["trace.overhead_s"] = statistics.median(walls) - statistics.median(untraced)
        m.update(self.wl.layer_extras())
        return {k: m.get(k, 0) for k in tr.layer_metric_names()}


def _grade(check, *args):
    """A check's verdict; a check that raises fails its operation."""
    try:
        return check(*args)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return False


def _report(name: str, metrics: dict, units: dict, notes: dict) -> None:
    print(f"== {name}")
    for k, v in metrics.items():
        note = f"  ({notes[k]})" if k in notes else ""
        print(f"  {k:34s} {v:14.6g} {units[k]}{note}")


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def run_one(args) -> int:
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, _terminate)
    sys.path.insert(0, ROOT)
    cwd = os.getcwd()
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=cwd)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "TZ": "UTC",
        }
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    time.tzset()
    tempfile.tempdir = tmp
    os.chdir(tmp)
    run = None
    try:
        try:
            import etl_fuel_priceguide_ec2_spark  # noqa: F401
            from perfbench.trace import layer_metric_names
        except ImportError as e:
            print(f"perfbench: the engine package is not importable: {e}", file=sys.stderr)
            return 2
        run = Run(args, tmp)
        if args.trace:
            metrics = run.per_layer()
            names = layer_metric_names()
            units = {k: _unit(k) for k in names}
            _report(f"{args.workload} per layer (traced)", metrics, units, {})
        else:
            metrics = run.end_to_end()
            names = list(END_TO_END)
            units = {**END_TO_END, **REPORT_ONLY}
            _report(
                f"{args.workload} end to end (seed {args.seed}, {run.n_passes} passes)",
                metrics, units, {"op_tail_s": run.tail_note},
            )
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in names},
        }
        print(json.dumps(result))
        return 0
    finally:
        try:
            if run is not None:
                run.shutdown()
        finally:
            os.chdir(cwd)
            shutil.rmtree(tmp, ignore_errors=True)


def run_all(args) -> int:
    """Every workload in its own process (peak RSS is per process)."""
    code = 0
    for name in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        code |= subprocess.run(cmd, check=False).returncode
    return code


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
