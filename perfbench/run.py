#!/usr/bin/env python3
"""Benchmark of the profiling and validation engine on the host it runs on.

    python3 perfbench/run.py --workload suite --seed 1 --seconds 10 --trace 0

Run from the root of the repository. One process, one client, closed loop:
a pass starts when the previous one has finished and been checked. The run
boots a local Spark session sized from this host, makes the workload's
inputs from the seed, runs the workload's untimed warm-up passes, then
timed passes until ``--seconds`` have gone by, and checks every pass's
outputs. The last line of stdout is one JSON object; ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json and ``--trace 1`` its per-layer
metrics. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PASS = "pass"
COLD_PASS = "warmup.cold_pass"
MAX_HEAP_MB = 2048
CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_sizing() -> dict:
    """Cores this process may use and a driver heap of a quarter of
    MemAvailable, at most MAX_HEAP_MB."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        meminfo = {ln.split(":")[0]: int(ln.split()[1]) for ln in f}
    avail_mb = meminfo["MemAvailable"] // 1024
    heap_mb = max(1024, min(MAX_HEAP_MB, avail_mb // 4 // 256 * 256))
    return {"cpus": cpus, "mem_available_mb": avail_mb, "heap_mb": heap_mb}


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (parent pid, peak resident set in kB, CPU clock ticks) for
    every process. The ticks are user + system time of the process and of
    the children it has reaped, so a worker that exits mid-pass still
    counts, through its parent."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{d}/status") as f:
                hwm = next((int(ln.split()[1]) for ln in f if ln.startswith("VmHWM")), 0)
        except (OSError, ValueError, IndexError):
            continue
        table[int(d)] = (int(fields[1]), hwm, sum(int(x) for x in fields[11:15]))
    return table


def descendants(table: dict[int, tuple[int, int, int]] | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def engine_peak_rss_mb() -> float:
    """Sum of the peak resident sets of the processes this one started: the
    Spark JVM, the Python worker daemon and its workers."""
    table = _proc_table()
    return sum(table[p][1] for p in descendants(table)) / 1024


def cpu_s() -> float:
    """CPU seconds used so far by this process (the engine's Python side:
    plan building, driver-side sketch merges) and every process it started
    (the Spark JVM, the Python worker daemon and its workers). Time the
    hypervisor gave to other guests is not in it, so on a shared host it
    varies far less than wall time."""
    table = _proc_table()
    return sum(table[p][2] for p in [os.getpid(), *descendants(table)]) / CLK_TCK


class Run:
    """One run: a Spark session, a workload, and the tally of its checks."""

    def __init__(self, args, host: dict, run_dir: Path) -> None:
        import duckdb

        from tracing import Tracer
        from workloads import WORKLOADS

        self.args, self.host, self.dir = args, host, run_dir
        self.tracer = Tracer()
        self.con = duckdb.connect(
            config={
                "threads": host["cpus"],
                "memory_limit": "1GB",
                "temp_directory": str(run_dir / "duckdb"),
            }
        )
        self.spark = None
        self.spark_conf = None
        self.walls: list[float] = []
        self.setup_wall = 0.0
        self.wl = WORKLOADS[args.workload](None, self.tracer, self.con, args.seed, run_dir)
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.rss_mb = 0.0
        self.per_pass: dict[str, list[float]] = {}

    def conf(self, traced: bool) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.dir / "spark-local"),
            "spark.sql.warehouse.dir": str(self.dir / "warehouse"),
            # no perf-data file in /tmp; the JVM's temp files and any crash
            # report in the run directory, not in the working directory
            "spark.driver.defaultJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={self.dir / 'tmp'}"
                f" -XX:ErrorFile={self.dir / 'hs_err_pid%p.log'}"
            ),
            "spark.eventLog.enabled": str(traced).lower(),
        }
        if traced:
            (self.dir / "eventlog").mkdir(exist_ok=True)
            conf["spark.eventLog.dir"] = (self.dir / "eventlog").as_uri()
            conf["spark.eventLog.compress"] = "false"
        return conf

    def start_session(self, traced: bool) -> None:
        from data_profiler_spark import get_spark

        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.args.workload}", extra_conf=self.conf(traced)
            )
        self.wl.spark = self.spark
        self.tracer.spark = self.spark if traced else None
        if self.spark_conf is None:
            self.spark_conf = dict(sorted(self.spark.sparkContext.getConf().getAll()))

    def one_pass(self, i: int, name: str = PASS) -> float:
        """Run, time and check one pass; returns its wall time. Its CPU
        seconds go into the pass's span."""
        out = self.dir / "out" / str(i)
        cpu0 = cpu_s()
        with self.tracer.span(name) as span:
            result = self.wl.run_pass(out)
        span["cpu"] = cpu_s() - cpu0
        wall = span["end"] - span["start"]
        self.rss_mb = max(self.rss_mb, engine_peak_rss_mb())
        checks = self.wl.check(out, result)
        self.attempted += len(checks)
        bad = [k for k, ok in checks.items() if not ok]
        self.failed += len(bad)
        self.failures += [f"{name} {i}: {k}" for k in bad]
        if name == PASS:
            self.record("cpu_s", span["cpu"])
            self.record("write_bytes", result["bytes_written"])
            self.record("constraints.violation_rows", getattr(self.wl, "violation_rows", 0))
            for key in ("checkpoint.files_written", "checkpoint.bytes_written"):
                self.record(key, result.get(key, 0))
            if "resume" in result:
                self.record("checkpoint.buckets_skipped", result["resume"]["buckets_skipped"])
        shutil.rmtree(out, ignore_errors=True)
        return wall

    def record(self, key: str, value: float) -> None:
        self.per_pass.setdefault(key, []).append(float(value))

    def passes(self, seconds: float, first: int) -> list[float]:
        """At least one pass; another only if it should end within
        ``seconds`` of the first one's start."""
        walls: list[float] = []
        t0 = time.perf_counter()
        while not walls or time.perf_counter() - t0 + walls[-1] <= seconds:
            walls.append(self.one_pass(first + len(walls)))
        return walls

    def setup(self, traced: bool) -> tuple[float, float]:
        """Boot, inputs and the warm-up pass; returns their wall and CPU
        seconds. The DuckDB reference results are computed here too but not
        counted."""
        cpu0 = cpu_s()
        self.start_session(traced)
        self.wl.setup()
        cpu = cpu_s() - cpu0
        self.wl.oracle()
        self.one_pass(0, COLD_PASS)
        spans = [
            s
            for s in self.tracer.spans
            if s["name"] in ("session.get_spark", "datagen.synth", COLD_PASS)
        ]
        return sum(s["end"] - s["start"] for s in spans), cpu + spans[-1]["cpu"]

    def untraced(self) -> dict[str, float]:
        self.setup_wall, setup_cpu = self.setup(traced=False)
        self.walls = self.passes(self.args.seconds, 1)
        cpu = statistics.median(self.per_pass["cpu_s"])
        return {
            "setup_s": setup_cpu,
            "cpu_s": cpu,
            "rows_per_cpu_s": self.wl.rows / cpu,
            "write_bytes_per_input_byte": statistics.median(self.per_pass["write_bytes"])
            / self.wl.input_bytes,
            "peak_rss_mb": self.rss_mb,
        }

    def traced(self) -> dict[str, float]:
        """Traced passes first (their spans and event log are the per-layer
        figures), then untraced passes in a fresh session of the same JVM;
        the difference of the two medians is the tracing overhead. The
        untraced passes run in a warmer JVM but with new Python workers, so
        the figure is rough and can come out negative on ``profile``."""
        from tracing import fold_event_log, per_layer

        self.setup_wall, _ = self.setup(traced=True)
        traced_walls = self.passes(self.args.seconds / 2, 1)
        self.tracer.spark = None
        self.spark.stop()
        counts = fold_event_log(str(self.dir / "eventlog"))
        layers = per_layer(self.tracer, counts, PASS, COLD_PASS)
        for key, values in self.per_pass.items():
            layers[key] = statistics.median(values)
        self.start_session(traced=False)
        # a new session forks new Python workers; start them before timing
        self.spark.range(0, 64, 1, self.host["cpus"]).mapInPandas(
            lambda batches: batches, "id long"
        ).collect()
        walls = self.passes(self.args.seconds / 2, 1 + len(traced_walls))
        layers["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(walls)
        self.walls = traced_walls + walls
        return layers

    def close(self) -> None:
        """Stop Spark, its JVM and every process they started, and wait for
        each to end."""
        from pyspark import SparkContext

        kids = descendants()
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            # marks the Python side disconnected, so py4j objects collected
            # later do not call into the exited JVM
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - the JVM must not outlive the run
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while any(os.path.exists(f"/proc/{p}") for p in kids) and time.time() < deadline:
            time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.con.close()


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, default=spec["run_seconds"])
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if not (ROOT / "data_profiler_spark" / "__init__.py").is_file():
        print(f"engine package data_profiler_spark not found under {ROOT}", file=sys.stderr)
        return 2

    host = host_sizing()
    run_dir = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # The JVM and the Python workers it forks inherit this environment;
    # without the repository on PYTHONPATH, workers cannot import the engine.
    os.environ.update(
        SPARK_GRAFT_DRIVER_MEM=f"{host['heap_mb']}m",
        SPARK_GRAFT_CPUS=str(host["cpus"]),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        TMPDIR=str(run_dir / "tmp"),
    )
    sys.path.insert(0, str(ROOT))

    try:
        run = Run(args, host, run_dir)
        try:
            values = run.traced() if args.trace else run.untraced()
        finally:
            run.close()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for failure in run.failures:
        print(f"check failed: {failure}", file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }
    info = {
        "host": host,
        "spark_conf": run.spark_conf,
        "input_rows": run.wl.rows,
        "input_bytes": run.wl.input_bytes,
        "fingerprints": run.wl.fingerprints,
        "setup_wall_s": run.setup_wall,
        "pass_walls_s": run.walls,
        "pass_cpu_s": run.per_pass["cpu_s"],
    }
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
