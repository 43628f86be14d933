"""Tracing for the per-layer run: spans, job attribution, stage metrics.

Spans come only from this file.  ``Tracer.install`` wraps the engine's
public functions at each layer boundary and rebinds every
``hadoop_lab_spark.*`` module attribute that points at a wrapped function
(plan modules import ``load_table`` and friends by name).  While a span is
open its id is the thread's Spark job group; the parent's group is
restored when it closes, so each job is attributed to the innermost span.
Stage and task metrics come from the Spark driver's status REST API on
loopback.
Spans are kept in memory and written out once, at the end of the run.

When ``active`` is false every wrapper calls straight through, so the same
process can time untraced and traced passes back to back.
"""

from __future__ import annotations

import functools
import json
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

import stats

#: Metrics the traced run reports: means per traced pass, except
#: session.start_s (the cold set-up's get_spark call) and the untraced pass
#: and overhead it is compared with.
LAYER_METRICS = (
    "session.start_s",
    "plans.build_s", "plans.build_py_cpu_s", "plans.build_jobs",
    "sources.load_calls", "sources.load_s", "sources.load_jobs", "sources.text_sink_s",
    "checkpoint.calls", "checkpoint.s", "checkpoint.jobs", "checkpoint.bytes",
    "checkpoint.rdds_leaked",
    "operators.graph_s", "operators.graph_jobs",
    "functions.s", "functions.jobs",
    "streaming.batches", "streaming.input_rows", "streaming.trigger_s", "streaming.state_rows",
    "labs.s", "labs.build_s",
    "exec.plan_s", "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.task_gc_s", "exec.idle_s", "exec.shuffle_read_mb",
    "exec.shuffle_write_mb", "exec.spill_mb",
    "jvm.gc_s", "jvm.heap_used_mb",
    "trace.harness_s", "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s",
    "trace.steal_s",
)

#: Span layer -> the metric that receives its self time.  Every span's
#: self time lands in exactly one metric, so these add up to the pass.
SELF_TIME_METRIC = {
    "pass": "trace.harness_s", "query": "trace.harness_s", "trace": "trace.harness_s",
    "plans": "plans.build_s", "sources.load": "sources.load_s",
    "sources.text_sink": "sources.text_sink_s", "checkpoint": "checkpoint.s",
    "operators.graph": "operators.graph_s", "functions": "functions.s",
    "labs": "labs.s", "labs.build": "labs.build_s",
    "exec.plan": "exec.plan_s", "exec": "exec.s",
}
#: Span layer -> the metric counting the jobs launched inside it.
JOB_METRIC = {
    "plans": "plans.build_jobs", "sources.load": "sources.load_jobs",
    "checkpoint": "checkpoint.jobs", "operators.graph": "operators.graph_jobs",
    "functions": "functions.jobs", "exec": "exec.jobs", "sources.text_sink": "exec.jobs",
}
#: Layers whose jobs are execution jobs (the noop sink and the lab text sink).
EXEC_LAYERS = ("exec", "sources.text_sink")
MB = 1024.0 * 1024.0


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    query: str
    start: float
    end: float = 0.0
    cpu: float = 0.0


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.active = False
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.query = ""
        self.job_layer: dict[int, str] = {}
        self.last_job = -1
        self.counts: dict[str, float] = defaultdict(float)
        self.progress: list[dict] = []
        port = self.sc.uiWebUrl.rsplit(":", 1)[1] if self.sc.uiWebUrl else None
        self.api = (
            f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
            if port else None
        )

    # -- spans ---------------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"perfbench-{span.sid}", span.layer)

    def open(self, layer: str, name: str) -> Span:
        if layer == "query":
            self.query = name
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), parent.sid if parent else None, layer, name, self.query,
                    time.perf_counter(), cpu=time.process_time())
        self.spans.append(span)
        self.stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.cpu = time.process_time() - span.cpu
        self.stack.pop()
        self._set_group(self.stack[-1] if self.stack else None)

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.active:
            yield None
            return
        span = self.open(layer, name)
        try:
            yield span
        finally:
            self.close(span)

    def wrap(self, fn, layer: str, top_level_only: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active or (top_level_only and any(s.layer == layer for s in self.stack)):
                return fn(*args, **kwargs)
            span = self.open(layer, fn.__name__)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.close(span)
            if layer == "checkpoint" and isinstance(out, tuple) and len(out) == 2:
                self.measure_checkpoint(out[1])
            return out

        return traced

    def install(self) -> None:
        """Wrap each layer's public functions and rebind every name that
        points at them inside ``hadoop_lab_spark``."""
        from hadoop_lab_spark import checkpoint, labs
        from hadoop_lab_spark.functions import dedup, similarity
        from hadoop_lab_spark.operators import graph
        from hadoop_lab_spark.sources import reference_text, tables

        targets = [
            (tables.load_table, "sources.load", False),
            (reference_text.write_reference_output, "sources.text_sink", False),
            (checkpoint.tracked_checkpoint, "checkpoint", True),
            (checkpoint.tracked_checkpoint_partitioned, "checkpoint", True),
            (graph.connected_components, "operators.graph", False),
            (graph.pagerank, "operators.graph", False),
            (labs.run_lab, "labs", False),
        ]
        for mod in (dedup, similarity):
            for name, fn in vars(mod).items():
                if (callable(fn) and not name.startswith("_")
                        and getattr(fn, "__module__", None) == mod.__name__
                        and "DataFrame" in str(getattr(fn, "__annotations__", {}).get("return", ""))):
                    targets.append((fn, "functions", True))
        targets += [(fn, "labs.build", False) for fn in labs.LABS.values()]

        wrapped = {id(fn): self.wrap(fn, layer, top) for fn, layer, top in targets}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == "hadoop_lab_spark" or mod_name.startswith("hadoop_lab_spark.")):
                continue
            for name, value in list(vars(mod).items()):
                if id(value) in wrapped and callable(value):
                    setattr(mod, name, wrapped[id(value)])
        for k, fn in list(labs.LABS.items()):
            if id(fn) in wrapped:
                labs.LABS[k] = wrapped[id(fn)]

    # -- collection ------------------------------------------------------------

    def _get(self, path: str):
        with urllib.request.urlopen(self.api + path, timeout=30) as resp:
            return json.load(resp)

    def collect_jobs(self) -> None:
        """Attribute the jobs finished since the last call to their spans."""
        if self.api is None:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        by_sid = {s.sid: s for s in self.spans}
        new_stage_ids = set()
        for job in self._get("/jobs"):
            jid = job["jobId"]
            if jid <= self.last_job or jid in self.job_layer:
                continue
            group = job.get("jobGroup") or ""
            layer = "unattributed"
            if group.startswith("perfbench-") and int(group[10:]) in by_sid:
                layer = by_sid[int(group[10:])].layer
            self.job_layer[jid] = layer
            if layer in JOB_METRIC:
                self.counts[JOB_METRIC[layer]] += 1
            if layer in EXEC_LAYERS:
                new_stage_ids.update(job.get("stageIds", ()))
        if self.job_layer:
            self.last_job = max(self.job_layer)
        if new_stage_ids:
            for st in self._get("/stages?details=false"):
                if st["stageId"] in new_stage_ids and st.get("status") == "COMPLETE":
                    self.counts["exec.stages"] += 1
                    self.counts["exec.tasks"] += st.get("numCompleteTasks", 0)
                    self.counts["exec.task_run_s"] += st.get("executorRunTime", 0) / 1e3
                    self.counts["exec.task_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                    self.counts["exec.task_gc_s"] += st.get("jvmGcTime", 0) / 1e3
                    self.counts["exec.shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / MB
                    self.counts["exec.shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / MB
                    self.counts["exec.spill_mb"] += (
                        st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)) / MB

    def measure_checkpoint(self, ids) -> None:
        """Add the bytes a checkpoint just stored, in a span of its own so
        the probe's cost counts as tracing overhead."""
        from hadoop_lab_spark.checkpoint import checkpointed_bytes

        span = self.open("trace", "checkpointed_bytes")
        try:
            size = checkpointed_bytes(self.sc, set(ids))
        finally:
            self.close(span)
        self.counts["checkpoint.bytes"] += (size or 0) / MB

    def streaming_listener(self):
        """A listener recording every micro-batch's progress.  Streaming
        listeners belong to one session, so the caller adds it to each
        query's session."""
        from datetime import datetime

        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append({
                    "id": str(p.id), "input_rows": p.numInputRows,
                    "trigger_ms": (p.durationMs or {}).get("triggerExecution", 0),
                    "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
                    "at": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return Listener()

    def jvm_state(self) -> tuple[float, float]:
        """(total GC seconds so far, heap used MB now)."""
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        gc_ms = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
        return gc_ms / 1e3, mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / MB

    # -- summary ---------------------------------------------------------------

    def layer_metrics(self, traced_passes: int, untraced_pass_s: float,
                      stream_window: list[tuple[float, float]]) -> dict[str, float]:
        """Per-traced-pass means of every layer metric."""
        n = max(1, traced_passes)
        out = {k: 0.0 for k in LAYER_METRICS}
        self_t = stats.self_times([(s.sid, s.parent, s.start, s.end) for s in self.spans])
        children_cpu: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                children_cpu[s.parent] += s.cpu
        for s in self.spans:
            out[SELF_TIME_METRIC[s.layer]] += self_t[s.sid]
            if s.layer == "plans":
                out["plans.build_py_cpu_s"] += s.cpu - children_cpu[s.sid]
            elif s.layer == "sources.load":
                out["sources.load_calls"] += 1
            elif s.layer == "checkpoint":
                out["checkpoint.calls"] += 1
            if s.layer in EXEC_LAYERS:
                out["exec.idle_s"] += (s.end - s.start) * self.cores
            if s.layer == "pass":
                out["trace.pass_s"] += s.end - s.start
        for k, v in self.counts.items():
            out[k] += v
        out["exec.idle_s"] -= out["exec.task_run_s"]
        state_rows: dict[str, int] = {}  # per streaming query, its largest state
        for p in self.progress:
            if any(a <= p["at"] <= b for a, b in stream_window):
                out["streaming.batches"] += 1
                out["streaming.input_rows"] += p["input_rows"]
                out["streaming.trigger_s"] += p["trigger_ms"] / 1e3
                state_rows[p["id"]] = max(state_rows.get(p["id"], 0), p["state_rows"])
        out["streaming.state_rows"] = sum(state_rows.values())
        for k in out:
            if not k.startswith(("session.", "trace.untraced", "trace.overhead")):
                out[k] /= n
        out["trace.untraced_pass_s"] = untraced_pass_s
        out["trace.overhead_s"] = out["trace.pass_s"] - untraced_pass_s
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
