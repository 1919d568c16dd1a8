"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. The run generates its inputs
from ``--seed`` under ``.perfbench_work/`` in the checkout, starts one
local Spark session with every core of the host, builds the workload's
fixtures, makes one warm pass, then makes timed passes over the
workload's operations until ``--seconds`` of operation time have
accrued; ``run_seconds`` in BENCHMARK.json fixes that length for every
run. One process is one closed-loop client: each call starts after
the previous one has finished. Every output is checked outside the
timers; failed calls and wrong outputs count in ``failed``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics instead: passes run in pairs, every operation is
traced in one pass of each pair, and each traced call leaves one record
in ``.perfbench_out/trace-<workload>-<seed>.jsonl``.

Operation times in the end-to-end metrics are net of CPU steal: each
call's wall time is scaled by the share of its run-ready CPU time that
the host granted, so a run on a busy virtual machine reads like one on
a quiet machine. ``setup_s`` is plain wall time. Per-call wall and net
times go to standard error.

Read and write latencies report p50 and a tail percentile. The tail is
p90 when at least 10 samples lie beyond it; otherwise it is the highest
percentile with 10 samples beyond it, but never below p50. The sample
counts and the percentile used go to standard error with the run's
cpus, load averages and versions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import numpy as np
import pyspark

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# The package defaults to a 48g driver and 32 cores; the benchmark pins a
# heap that fits small hosts and the cores it may actually use.
DRIVER_MEMORY = "1g"
TAIL_SAMPLES = 10


def tail(values: list[float], q: float = 0.9) -> tuple[float, float]:
    """The ``q`` quantile of ``values``, lowered until ``TAIL_SAMPLES``
    samples lie beyond it (never below the median); also returns the
    quantile used."""
    used = max(0.5, min(q, 1.0 - TAIL_SAMPLES / len(values)))
    return float(np.quantile(values, used)), used


def cpu_s(pids: tuple[str, ...]) -> float:
    """User plus system CPU seconds used so far by the processes ``pids``."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the host has withheld from this machine so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python process plus the driver JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def start_session(work: str, extra: dict[str, str]):
    from etl_apache_kafka_python_doker_aws_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby",
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra)
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


class Runner:
    def __init__(self, pids, tracer=None):
        self.pids = pids
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def call(self, op, check: bool, traced: bool, keep: bool = False):
        """Run one operation; return ``(wall, net)`` seconds, or None when
        it raised. ``net`` is the wall time scaled by the share of the
        run-ready CPU time the host granted, ``cpu / (cpu + steal)``, so
        time the host withheld from this machine does not count. A traced
        call pays its tracing inside the timed window. ``keep`` persists a
        DataFrame result before the drain so the check reads it back
        instead of recomputing it; only the warm pass uses it."""
        self.attempted += 1
        c0, s0 = cpu_s(self.pids), steal_s()
        t0 = time.perf_counter()
        try:
            rec = self.tracer.before(op) if traced else None
            w0 = time.time()
            out = op.call()
            w1 = time.time()
            if hasattr(out, "write"):
                if keep:
                    out = out.persist()
                out.write.mode("overwrite").format("noop").save()
            if traced:
                self.tracer.after(rec, op, out, w0, w1, time.time())
            wall = time.perf_counter() - t0
        except Exception:
            self.fail(op, traceback.format_exc(limit=3))
            return None
        cpu, steal = cpu_s(self.pids) - c0, steal_s() - s0
        net = wall * cpu / (cpu + steal) if cpu + steal > 0 else wall
        if check:
            try:
                problem = op.check(out)
            except Exception:
                problem = traceback.format_exc(limit=3)
            if problem:
                self.fail(op, problem)
        if keep and hasattr(out, "unpersist"):
            out.unpersist()
        return wall, net

    def fail(self, op, detail: str) -> None:
        self.fail_run(f"{op.name}: {detail}")

    def fail_run(self, detail: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(detail)


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import datagen
    import layers
    import suite

    if args.workload not in suite.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(suite.WORKLOADS)}")
    import etl_apache_kafka_python_doker_aws_spark as package

    if not package.__file__.startswith(ROOT + os.sep):
        sys.exit(f"perfbench: no package source under {ROOT}; run from a source checkout")

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.path.join(work, "tmp")
    event_dir = os.path.join(work, "events")
    kind = suite.WORKLOADS[args.workload]
    data = os.path.join(work, "data")
    datagen.write(data, args.seed, kind.sf, kind.tables)
    load_before = os.getloadavg()
    spark = None
    tracer = None
    try:
        extra = {}
        if args.trace:
            os.makedirs(event_dir)
            extra = layers.spark_conf(event_dir)
        t0 = time.perf_counter()
        spark = start_session(work, extra)
        session_s = time.perf_counter() - t0

        # Fixtures are built from scratch in a fresh directory each time;
        # the last build serves the run.
        reps = []
        wl = None
        for rep in range(SETUP_REPS):
            if wl is not None:
                wl.close()
                suite.remove(wl.root)
            wl = kind(spark, os.path.join(work, f"rep{rep}"), data, args.seed)
            os.makedirs(wl.root)
            t0 = time.perf_counter()
            wl.setup()
            reps.append(time.perf_counter() - t0)

        tracer = layers.Tracer(spark, event_dir) if args.trace else None
        pids = ("self", str(spark._jvm.java.lang.ProcessHandle.current().pid()))
        runner = Runner(pids, tracer)
        warm_s = 0.0
        for op in wl.pass_ops(0):
            got = runner.call(op, check=True, traced=False, keep=True)
            warm_s += got[0] if got else 0.0
        setup_s = session_s + statistics.median(reps) + warm_s

        # Timed passes. A traced run makes passes in pairs and traces
        # every other operation, alternating which, so each operation is
        # traced once per pair, before its plain call for half of the
        # operations and after it for the other half: state that grows
        # from pass to pass weighs on both sides of the overhead alike.
        passes: list[float] = []
        spans: list[tuple[int, int]] = []
        latency: dict[str, list[float]] = {"read": [], "write": []}
        per_op: dict[str, list[float]] = {}
        calls: list[tuple[str, bool, float]] = []
        index = 1
        while (sum(passes) < args.seconds
               or (args.trace and len(passes) % 2 != 0)):
            if args.trace and index % 2 == 1:
                first = len(tracer.records)
            pass_s = 0.0
            for i, op in enumerate(wl.pass_ops(index)):
                traced = bool(args.trace) and (i + index) % 2 == 1
                got = runner.call(op, check=op.check_every_pass, traced=traced)
                if got is None:
                    continue
                pass_s += got[1]
                per_op.setdefault(op.name, []).append([round(t, 4) for t in got])
                latency[op.kind].append(got[1])
                calls.append((op.name, traced, got[1]))
            passes.append(pass_s)
            if args.trace and index % 2 == 0:
                spans.append((first, len(tracer.records)))
            index += 1
        completed = sum(len(v) for v in per_op.values())
        rss = peak_rss_mb(spark)
        state = wl.state()
        for problem in wl.problems():
            runner.fail_run(problem)
        wl.close()
    finally:
        if spark is not None:
            stop_session(spark)
    load_after = os.getloadavg()

    read_tail, read_q = tail(latency["read"])
    write_tail, write_q = tail(latency["write"])
    if args.trace:
        tracer.finish()
        layers.write_records(os.path.join(
            ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.jsonl"),
            tracer.records)
        metrics = layers.run_metrics(tracer.records, spans, calls, session_s, state)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(passes), "s"),
            "ops_per_s": (completed / sum(passes), "1/s"),
            "read_p50_s": (statistics.median(latency["read"]), "s"),
            "read_p90_s": (read_tail, "s"),
            "write_p50_s": (statistics.median(latency["write"]), "s"),
            "write_p90_s": (write_tail, "s"),
            "peak_rss_mb": (rss, "MB"),
        }
    suite.remove(work)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "spark": pyspark.__version__, "python": platform.python_version(),
        "passes": len(passes), "read_samples": len(latency["read"]),
        "read_tail_quantile": read_q, "write_samples": len(latency["write"]),
        "write_tail_quantile": write_q,
        "fail_ratio": runner.failed / runner.attempted,
        "index_bytes_per_row": state.get("index_bytes_per_row"),
        "setup_reps_s": reps, "session_s": session_s, "warm_s": warm_s,
        "op_wall_net_s": per_op, "wall_s": time.perf_counter() - T_START,
        "errors": runner.errors,
    }), file=sys.stderr)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
