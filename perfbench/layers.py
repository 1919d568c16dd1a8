"""Per-layer instrumentation for the traced run.

Everything comes from Spark's own instrumentation or from timing calls
into the package's public functions; the package is not modified:

* Catalyst phase times from ``queryExecution().tracker().phases()``;
* job, stage and task metrics from the event log, written uncompressed
  (Spark 4 compresses with zstd by default, and the Python standard
  library cannot read zstd). Jobs are attributed to an operation by submission time, because
  streaming micro-batches run on the stream's own thread and job group;
* micro-batch ``durationMs`` from a ``StreamingQueryListener``;
* ``dedup_clusters`` call time and rounds through a wrapper installed on
  the ``functions.dedup`` module attribute.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

# Per-layer metric -> unit, direction, and the end-to-end metric and
# workload it should move ("any" when it sits on every workload). Values
# in the output are per-pass totals (median over the traced passes)
# unless listed in RUN_TOTALS, which are totals or end states of the
# whole run.
LAYER_METRICS = {
    "session.start_s": ("s", "lower", "setup_s@any"),
    "workloads.construct_s": ("s", "lower", "pass_s@analytics"),
    "workloads.eager_jobs": ("count", "lower", "pass_s@analytics"),
    "plan.analysis_ms": ("ms", "lower", "read_p50_s@indexes"),
    "plan.optimization_ms": ("ms", "lower", "read_p50_s@indexes"),
    "plan.planning_ms": ("ms", "lower", "read_p50_s@indexes"),
    "exec.drain_s": ("s", "lower", "pass_s@analytics"),
    "exec.jobs": ("count", "lower", "pass_s@analytics"),
    "exec.stages": ("count", "lower", "pass_s@analytics"),
    "exec.tasks": ("count", "lower", "pass_s@analytics"),
    "exec.executor_run_s": ("s", "lower", "pass_s@analytics"),
    "exec.executor_cpu_s": ("s", "lower", "pass_s@analytics"),
    "exec.gc_s": ("s", "lower", "pass_s@analytics"),
    "exec.shuffle_write_mb": ("MB", "lower", "pass_s@analytics"),
    "exec.shuffle_read_mb": ("MB", "lower", "pass_s@analytics"),
    "exec.spill_mb": ("MB", "lower", "pass_s@analytics"),
    "ann.search_construct_s": ("s", "lower", "read_p50_s@indexes"),
    "ann.search_drain_s": ("s", "lower", "read_p50_s@indexes"),
    "ann.meta_read_s": ("s", "lower", "read_p50_s@indexes"),
    "ann.append_s": ("s", "lower", "write_p50_s@indexes"),
    "ann.delete_s": ("s", "lower", "write_p90_s@indexes"),
    "ann.compactions": ("count", "lower", "write_p90_s@indexes"),
    "band.pairs_construct_s": ("s", "lower", "read_p50_s@indexes"),
    "band.pairs_drain_s": ("s", "lower", "read_p50_s@indexes"),
    "band.append_s": ("s", "lower", "write_p50_s@indexes"),
    "band.files": ("count", "lower", "write_p50_s@indexes"),
    "sha.append_s": ("s", "lower", "write_p50_s@indexes"),
    "sha.dedup_construct_s": ("s", "lower", "read_p50_s@indexes"),
    "sha.dedup_drain_s": ("s", "lower", "read_p50_s@indexes"),
    "stream.batches": ("count", "lower", "pass_s@analytics"),
    "stream.batch_ms": ("ms", "lower", "pass_s@analytics"),
    "stream.add_batch_ms": ("ms", "lower", "pass_s@analytics"),
    "stream.wal_commit_ms": ("ms", "lower", "pass_s@analytics"),
    "stream.query_planning_ms": ("ms", "lower", "pass_s@analytics"),
    "pipeline.run_s": ("s", "lower", "write_p50_s@analytics"),
    "cc.rounds": ("count", "lower", "pass_s@analytics"),
    "cc.construct_s": ("s", "lower", "pass_s@analytics"),
    "store.index_bytes_per_row": ("B", "lower", "write_p50_s@indexes"),
    "trace.overhead_pct": ("%", "lower", "any"),
}
RUN_TOTALS = {"session.start_s", "ann.compactions", "band.files",
              "store.index_bytes_per_row", "trace.overhead_pct"}
# End-of-run state figures of the workload -> per-layer metric.
STATE = {"ann.compactions": "ann.compactions", "band.files": "band.files",
         "index_bytes_per_row": "store.index_bytes_per_row"}

# Which layer metric receives an operation's construct and drain time,
# keyed by (layer, kind) of the operation; see suite.Op.
CONSTRUCT = {
    ("workloads", "read"): "workloads.construct_s",
    ("pipeline", "write"): "pipeline.run_s",
    ("ann", "read"): "ann.search_construct_s",
    ("band", "read"): "band.pairs_construct_s",
    ("sha", "read"): "sha.dedup_construct_s",
}
DRAIN = {
    ("ann", "read"): "ann.search_drain_s",
    ("band", "read"): "band.pairs_drain_s",
    ("sha", "read"): "sha.dedup_drain_s",
}
WRITES = {
    "ann_append": "ann.append_s",
    "ann_delete": "ann.delete_s",
    "band_append": "band.append_s",
    "sha_append": "sha.append_s",
}


class _StreamListener(StreamingQueryListener):
    def __init__(self):
        self.lock = threading.Lock()
        self.progress: list[tuple[float, dict]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self.lock:
            self.progress.append((time.time(), dict(event.progress.durationMs)))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def spark_conf(event_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": event_dir,
        "spark.eventLog.compress": "false",
    }


class Tracer:
    """Collects one record per operation call."""

    def __init__(self, spark, event_dir: str):
        self.spark = spark
        self.event_dir = event_dir
        self.listener = _StreamListener()
        spark.streams.addListener(self.listener)
        self.cc = {"s": 0.0, "rounds": 0}
        from etl_apache_kafka_python_doker_aws_spark.functions import dedup

        original = dedup.dedup_clusters
        cc = self.cc

        def dedup_clusters(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                cc["s"] += time.perf_counter() - t0
                # dedup_clusters records its rounds on the module-level
                # name, which is now this wrapper.
                cc["rounds"] += getattr(dedup_clusters, "last_rounds", 0)

        dedup.dedup_clusters = dedup_clusters
        self.records: list[dict] = []

    def before(self, op) -> dict:
        rec = {"cc_s": self.cc["s"], "cc_rounds": self.cc["rounds"]}
        meta_path = getattr(op, "meta_path", None)
        if meta_path:
            from etl_apache_kafka_python_doker_aws_spark.functions.ann_index import (
                ann_index_batches,
                ann_index_meta,
            )

            t0 = time.perf_counter()
            ann_index_meta(self.spark, meta_path)
            ann_index_batches(self.spark, meta_path)
            rec["meta_read_s"] = time.perf_counter() - t0
        return rec

    def after(self, rec: dict, op, out, t_start: float, t_built: float, t_end: float):
        """Complete ``rec`` for one call; ``t_*`` are ``time.time()``."""
        rec.update(name=op.name, layer=op.layer, kind=op.kind,
                   start=t_start, built=t_built, end=t_end)
        rec["cc_s"] = self.cc["s"] - rec["cc_s"]
        rec["cc_rounds"] = self.cc["rounds"] - rec["cc_rounds"]
        if hasattr(out, "_jdf"):
            qe = out._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for p in ("analysis", "optimization", "planning"):
                got = phases.get(p)
                rec[f"{p}_ms"] = got.get().durationMs() if got.isDefined() else 0
        self.records.append(rec)

    def finish(self) -> None:
        """Attribute event-log and streaming data to the records. Call
        after the session has stopped, so the event log is complete."""
        jobs, stage_job, stage_tasks, stages_done = _read_event_log(self.event_dir)
        with self.listener.lock:
            progress = list(self.listener.progress)
        for rec in self.records:
            lo, mid, hi = rec["start"] * 1000, rec["built"] * 1000, rec["end"] * 1000
            mine = {j for j, t in jobs.items() if lo <= t <= hi}
            rec["eager_jobs"] = sum(1 for j in mine if jobs[j] < mid)
            rec["jobs"] = len(mine) - rec["eager_jobs"]
            stages = {s for s, j in stage_job.items() if j in mine}
            rec["stages"] = len(stages & stages_done)
            agg = _sum_tasks(stage_tasks, stages)
            rec.update(agg)
            batches = [d for t, d in progress if rec["start"] <= t <= rec["end"] + 0.5]
            rec["stream_batches"] = len(batches)
            for key, field in (("stream_batch_ms", "triggerExecution"),
                               ("stream_add_batch_ms", "addBatch"),
                               ("stream_wal_commit_ms", "walCommit"),
                               ("stream_query_planning_ms", "queryPlanning")):
                rec[key] = sum(d.get(field, 0) for d in batches)


def _read_event_log(event_dir: str):
    jobs: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[dict]] = {}
    stages_done: set[int] = set()
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = ev["Submission Time"]
                    for s in ev["Stage IDs"]:
                        stage_job.setdefault(s, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    stages_done.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    stage_tasks.setdefault(ev["Stage ID"], []).append(ev["Task Metrics"])
    return jobs, stage_job, stage_tasks, stages_done


def _sum_tasks(stage_tasks, stages) -> dict:
    out = dict(tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0, shuffle_write_mb=0.0,
               shuffle_read_mb=0.0, spill_mb=0.0)
    mb = 1024.0 * 1024.0
    for s in stages:
        for m in stage_tasks.get(s, ()):
            out["tasks"] += 1
            out["run_s"] += m["Executor Run Time"] / 1000.0
            out["cpu_s"] += m["Executor CPU Time"] / 1e9
            out["gc_s"] += m["JVM GC Time"] / 1000.0
            out["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / mb
            sr = m.get("Shuffle Read Metrics", {})
            out["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)) / mb
            sw = m.get("Shuffle Write Metrics", {})
            out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
    return out


def pass_layer_totals(records: list[dict]) -> dict[str, float]:
    """Fold one pass's records into per-layer totals."""
    out = {name: 0.0 for name in LAYER_METRICS if name not in RUN_TOTALS}
    for r in records:
        key = (r["layer"], r["kind"])
        build = r["built"] - r["start"]
        drain = r["end"] - r["built"]
        if key in CONSTRUCT:
            out[CONSTRUCT[key]] += build
        if key in DRAIN:
            out[DRAIN[key]] += drain
        if r["name"] in WRITES:
            out[WRITES[r["name"]]] += r["end"] - r["start"]
        out["exec.drain_s"] += drain
        out["workloads.eager_jobs"] += r["eager_jobs"]
        out["exec.jobs"] += r["jobs"]
        out["exec.stages"] += r["stages"]
        out["exec.tasks"] += r["tasks"]
        out["exec.executor_run_s"] += r["run_s"]
        out["exec.executor_cpu_s"] += r["cpu_s"]
        out["exec.gc_s"] += r["gc_s"]
        out["exec.shuffle_write_mb"] += r["shuffle_write_mb"]
        out["exec.shuffle_read_mb"] += r["shuffle_read_mb"]
        out["exec.spill_mb"] += r["spill_mb"]
        out["ann.meta_read_s"] += r.get("meta_read_s", 0.0)
        for p in ("analysis", "optimization", "planning"):
            out[f"plan.{p}_ms"] += r.get(f"{p}_ms", 0)
        out["stream.batches"] += r["stream_batches"]
        out["stream.batch_ms"] += r["stream_batch_ms"]
        out["stream.add_batch_ms"] += r["stream_add_batch_ms"]
        out["stream.wal_commit_ms"] += r["stream_wal_commit_ms"]
        out["stream.query_planning_ms"] += r["stream_query_planning_ms"]
        out["cc.rounds"] += r["cc_rounds"]
        out["cc.construct_s"] += r["cc_s"]
    return out


def write_records(path: str, records: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def run_metrics(records, spans, calls, session_s, state) -> dict:
    """Per-layer metrics of a traced run: per-pass totals (median over
    the pass pairs, ``spans`` of ``records``; each pair traces every
    operation once), then the run-level figures. ``calls`` holds ``(name, traced, seconds)`` of every timed
    call; the tracing overhead is the median over operations of their
    traced against their plain time."""
    totals = [pass_layer_totals(records[a:b]) for a, b in spans]
    out = {name: (statistics.median(t[name] for t in totals), unit)
           for name, (unit, _better, _moves) in LAYER_METRICS.items()
           if name not in RUN_TOTALS}
    sums: dict[str, list[float]] = {}
    for name, traced, seconds in calls:
        sums.setdefault(name, [0.0, 0.0])[traced] += seconds
    ratios = [t / p for p, t in sums.values() if p > 0 and t > 0]
    out["session.start_s"] = (session_s, "s")
    out["trace.overhead_pct"] = (100.0 * (statistics.median(ratios) - 1.0), "%")
    for key, name in STATE.items():
        out[name] = (state.get(key, 0), LAYER_METRICS[name][0])
    return {k: out[k] for k in LAYER_METRICS}
