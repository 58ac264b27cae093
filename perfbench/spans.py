"""Spans around calls into the engine, and the Spark status-store
counters that fall inside them.

A span is one call into a layer: a query or stage builder (``build``),
forced Catalyst planning (``plan``), the final execution (``exec``: a
query's collect or a stage's parquet write), the CSV export (``export``) or
the JDBC upsert (``upsert``). When tracing is on, each span runs under
its own Spark job group, so every job the call starts is attributed to
it afterwards; the status store is read once, after the timed pass.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

from workloads import DOC_STAGES

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
# Plan nodes that run Python workers: *InPandas, *InArrow, *EvalPython, ...
PY_NODE = re.compile(r"Python|Pandas|Arrow")
PY_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "number of output rows": "python.rows_returned",
}
# Layers whose jobs are final execution rather than construction.
EXEC_LAYERS = ("exec", "export", "upsert")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: '1,000', '8.3 KiB' or
    'total (min, med, max ...)\\n8.3 KiB (2.8 KiB, ...)'."""
    total = text.split("\n")[-1].split(" (")[0].strip()
    m = re.fullmatch(r"([\d,.]+)\s*([A-Za-z]*)", total)
    if m is None:
        raise ValueError(f"unparsable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2), 1)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, covered_to = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > covered_to:
            total += e - max(s, covered_to)
            covered_to = e
    return total


class Tracer:
    """Records spans; with ``enabled`` false it only runs the calls."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pinned_bytes_peak = 0
        self.pinned_rdds_peak = 0

    @contextmanager
    def span(self, layer: str, op: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        group = f"{layer}:{op}"
        sc.setJobGroup(group, group)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"layer": layer, "op": op, "group": group, "start": start, "end": end})
            self._sample_pins()

    def _sample_pins(self) -> None:
        """Bytes and count of the RDDs held in storage (localCheckpoint
        pins and anything else persisted)."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.pinned_bytes_peak = max(self.pinned_bytes_peak, sum(i.memSize() + i.diskSize() for i in infos))
        self.pinned_rdds_peak = max(self.pinned_rdds_peak, len(infos))

    # --- status store, read after the pass ---------------------------------

    def _seq(self, scala_seq) -> list:
        return list(self.spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))

    def jobs(self) -> list[dict]:
        """Every job started under one of this tracer's groups, with the
        counters of the stages it ran."""
        groups = {s["group"] for s in self.spans}
        store = self.spark.sparkContext._jsc.sc().statusStore()
        out = []
        for j in self._seq(store.jobsList(None)):
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            if group not in groups or not j.submissionTime().isDefined():
                continue
            end = j.completionTime().get() if j.completionTime().isDefined() else None
            stages = []
            for sid in self._seq(j.stageIds()):
                st = store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                stages.append(
                    {
                        "id": sid,
                        "tasks": st.numCompleteTasks() + st.numFailedTasks(),
                        "run_s": st.executorRunTime() / 1e3,
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "input_bytes": st.inputBytes(),
                        "input_rows": st.inputRecords(),
                        "output_bytes": st.outputBytes(),
                        "output_rows": st.outputRecords(),
                        "shuffle_read_bytes": st.shuffleReadBytes(),
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                        "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    }
                )
            out.append(
                {
                    "id": j.jobId(),
                    "group": group,
                    "start": j.submissionTime().get().getTime() / 1e3,
                    "end": end.getTime() / 1e3 if end is not None else None,
                    "stages": stages,
                }
            )
        return out

    def python_metrics(self, job_ids: set[int]) -> dict[str, float]:
        """Totals of the Python exec nodes' SQL metrics over the SQL
        executions that ran any of ``job_ids``."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        totals = dict.fromkeys(PY_METRICS.values(), 0.0)
        for ex in self._seq(sql.executionsList()):
            if not job_ids & set(conv.asJava(ex.jobs()).keySet()):
                continue
            values = dict(conv.asJava(sql.executionMetrics(ex.executionId())).items())
            for node in self._seq(sql.planGraph(ex.executionId()).allNodes()):
                if not PY_NODE.search(node.name()):
                    continue
                metrics = {m.name(): m.accumulatorId() for m in self._seq(node.metrics())}
                if "data sent to Python workers" not in metrics:
                    continue
                for label, key in PY_METRICS.items():
                    if metrics.get(label) in values:
                        totals[key] += parse_metric(values[metrics[label]])
        return totals


def layer_metrics(spans: list[dict], jobs: list[dict]) -> dict[str, float]:
    """Per-layer totals from the spans and the jobs run inside them."""

    def span_s(layer: str, op: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["layer"] == layer and op in (None, s["op"]))

    def jobs_of(layers: tuple[str, ...], ops=None) -> list[dict]:
        out = []
        for j in jobs:
            layer, op = j["group"].split(":", 1)
            if layer in layers and (ops is None or op in ops):
                out.append(j)
        return out

    def stage_sum(js: list[dict], key: str) -> float:
        return sum(st[key] for j in js for st in j["stages"])

    eager = jobs_of(("build",))
    eager_s = 0.0
    for s in spans:
        if s["layer"] == "build":
            eager_s += union_s(
                [
                    (max(j["start"], s["start"]), min(j["end"] or s["end"], s["end"]))
                    for j in eager
                    if j["group"] == s["group"] and j["start"] < s["end"]
                ]
            )
    run = jobs_of(EXEC_LAYERS)
    out = {
        "build.s": span_s("build"),
        "build.driver_s": span_s("build") - eager_s,
        "build.eager_jobs": len(eager),
        "build.eager_job_s": eager_s,
        "plan.s": span_s("plan"),
        "exec.s": sum(span_s(layer) for layer in EXEC_LAYERS),
        "exec.jobs": len(run),
        "exec.stages": sum(len(j["stages"]) for j in run),
        "exec.tasks": stage_sum(run, "tasks"),
        "exec.executor_run_s": stage_sum(run, "run_s"),
        "exec.executor_cpu_s": stage_sum(run, "cpu_s"),
        "exec.shuffle_read_bytes": stage_sum(run, "shuffle_read_bytes"),
        "exec.shuffle_write_bytes": stage_sum(run, "shuffle_write_bytes"),
        "exec.spill_bytes": stage_sum(run, "spill_bytes"),
        "sources.input_bytes": stage_sum(jobs, "input_bytes"),
        "sources.input_rows": stage_sum(jobs, "input_rows"),
    }
    for stage, short in DOC_STAGES.items():
        out[f"doc.{short}_s"] = span_s("build", stage) + span_s("exec", stage)
    writes = jobs_of(("exec",), DOC_STAGES)
    export = jobs_of(("export",))
    upsert = jobs_of(("upsert",))
    jdbc_stage_s = union_s([(j["start"], j["end"]) for j in upsert if j["end"] is not None])
    out.update(
        {
            "sinks.parquet_rows": stage_sum(writes, "output_rows"),
            "sinks.parquet_bytes": stage_sum(writes, "output_bytes"),
            "sinks.csv_s": span_s("export"),
            "sinks.csv_rows": stage_sum(export, "output_rows"),
            "sinks.csv_bytes": stage_sum(export, "output_bytes"),
            "sinks.jdbc_stage_s": jdbc_stage_s,
            "sinks.jdbc_merge_s": span_s("upsert") - jdbc_stage_s,
        }
    )
    return out
