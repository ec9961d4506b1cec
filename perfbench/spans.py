"""Spans around the calls the benchmark makes into each layer, with
Spark's own stage and SQL metrics attached to them afterwards.

A span is ``(id, name, parent, start, end)``.  Spans opened on the
main thread also set a Spark job group and description, so
every job they cause is labelled; jobs started elsewhere (the streaming
query's own thread) fall back to the innermost span open when they were
submitted.  Nothing is read from Spark while a span is open: after a
traced run, :meth:`Tracer.harvest` reads the jobs, stages and SQL
executions the run left in ``sparkContext``'s status store (the Spark UI
stays disabled) and attaches them to the spans.  Spans stay in memory
until the benchmark writes them out at the end.
"""

from __future__ import annotations

import itertools
import re
import threading
import time
from contextlib import contextmanager

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# SQL node metric names of the Arrow/pandas UDF operators (Spark 4.x)
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}

SPAN_TOTALS = (
    "task_s", "gc_s", "input_bytes", "output_bytes", "shuffle_write_bytes",
    "spill_bytes", "stages", "doc_scans", "doc_scan_rows", "fanout_exchanges",
    *PYTHON_METRICS.values(),
)


def parse_metric(text: str | None) -> float:
    """Value of one formatted SQL metric (``"50,000"``, ``"3.9 MiB"``,
    ``"total (min, med, max ...)\\n1.1 s (...)"``) in bytes, seconds or
    rows."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _ints(scala_iterable) -> list[int]:
    s = scala_iterable.mkString(",")
    return [int(x) for x in s.split(",")] if s else []


class Tracer:
    """Records spans when ``enabled``; a disabled tracer's :meth:`span`
    costs one attribute test, so untraced runs take the same code path."""

    def __init__(self, spark, enabled: bool, doc_paths: tuple[str, ...] = ()):
        self.spark = spark
        self.enabled = enabled
        self.doc_paths = doc_paths
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._main = threading.main_thread()
        self._last_job = -1
        self._last_exec = -1
        # a persisted plan shows up again, with the same accumulators, in
        # every execution that reads it: count each accumulator once
        self._seen_accumulators: set[int] = set()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        on_main = threading.current_thread() is self._main
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sp = {"id": next(self._ids), "name": name, "parent": parent["id"] if parent else None,
                  "start": time.time(), "end": None, "jobs": []}
            self.spans.append(sp)
            self._stack.append(sp)
        prev = sc.getLocalProperty("spark.jobGroup.id") if on_main else None
        prev_desc = sc.getLocalProperty("spark.job.description") if on_main else None
        if on_main:
            sc.setLocalProperty("spark.jobGroup.id", f"perfbench-{sp['id']}")
            sc.setLocalProperty("spark.job.description", name)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            if on_main:
                sc.setLocalProperty("spark.jobGroup.id", prev)
                sc.setLocalProperty("spark.job.description", prev_desc)
            with self._lock:
                self._stack.remove(sp)

    # -- reading Spark's status store ------------------------------------

    def _span_for(self, group: str | None, t_ms: float | None) -> dict | None:
        if group and group.startswith("perfbench-"):
            sid = int(group.split("-", 1)[1])
            for sp in self.spans:
                if sp["id"] == sid:
                    return sp
        if t_ms is None:
            return None
        t = t_ms / 1000.0
        inside = [sp for sp in self.spans
                  if sp["start"] <= t and (sp["end"] is None or t <= sp["end"])]
        return max(inside, key=lambda sp: sp["start"]) if inside else None

    def harvest(self) -> None:
        """Attach every job, stage and SQL execution Spark finished since
        the last harvest to the span that caused it."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        stage_owner: dict[int, dict] = {}
        last_job = self._last_job
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            jid = jd.jobId()
            if jid <= self._last_job:
                continue
            last_job = max(last_job, jid)
            grp = jd.jobGroup().get() if jd.jobGroup().isDefined() else None
            sub = jd.submissionTime()
            sp = self._span_for(grp, sub.get().getTime() if sub.isDefined() else None)
            if sp is None:
                continue
            sp["jobs"].append(jid)
            for sid in _ints(jd.stageIds()):
                stage_owner.setdefault(sid, sp)
        for sid, sp in stage_owner.items():
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) != "COMPLETE":
                continue
            t = sp.setdefault("own", dict.fromkeys(SPAN_TOTALS, 0.0))
            t["stages"] += 1
            t["task_s"] += sd.executorRunTime() / 1000.0
            t["gc_s"] += sd.jvmGcTime() / 1000.0
            t["input_bytes"] += sd.inputBytes()
            t["output_bytes"] += sd.outputBytes()
            t["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            t["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        self._last_job = last_job
        self._harvest_sql()

    def _harvest_sql(self) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        job_span = {j: sp for sp in self.spans for j in sp["jobs"]}
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            self._last_exec = max(self._last_exec, eid)
            job_ids = _ints(e.jobs().keys())
            sp = next((job_span[j] for j in sorted(job_ids) if j in job_span), None)
            if sp is None:
                sp = self._span_for(None, e.submissionTime())
            if sp is None:
                continue
            t = sp.setdefault("own", dict.fromkeys(SPAN_TOTALS, 0.0))
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                if name.startswith("Scan "):
                    # documents are read from their files, or inside a
                    # micro-batch from the RDD foreachBatch wraps them in
                    if "ExistingRDD" in name or any(p in node.desc() for p in self.doc_paths):
                        rows = self._node_metrics(node, values, {"number of output rows": "rows"})
                        if rows.get("rows", 0) > 0:
                            t["doc_scans"] += 1
                            t["doc_scan_rows"] += rows["rows"]
                elif name == "Exchange":
                    if "RoundRobinPartitioning" in node.desc() and self._node_metrics(
                            node, values, {"number of partitions": "n"}):
                        t["fanout_exchanges"] += 1
                elif "Python" in name or "Pandas" in name or "Arrow" in name:
                    for key, v in self._node_metrics(node, values, PYTHON_METRICS).items():
                        t[key] += v

    def _node_metrics(self, node, values, wanted: dict[str, str]) -> dict[str, float]:
        """``{wanted[name]: value}`` for the node's metrics named in
        ``wanted`` whose accumulators no earlier node has reported."""
        out: dict[str, float] = {}
        ms = node.metrics()
        for m in range(ms.size()):
            metric = ms.apply(m)
            key = wanted.get(metric.name())
            acc = metric.accumulatorId()
            if key is None or acc in self._seen_accumulators:
                continue
            self._seen_accumulators.add(acc)
            v = values.get(acc)
            out[key] = out.get(key, 0.0) + parse_metric(v.get() if v.isDefined() else None)
        return out

    # -- derived views ---------------------------------------------------

    def totals(self, sp: dict) -> dict:
        """A span's Spark totals including every descendant span."""
        out = dict(sp.get("own") or dict.fromkeys(SPAN_TOTALS, 0.0))
        for child in self.spans:
            if child["parent"] == sp["id"]:
                for k, v in self.totals(child).items():
                    out[k] += v
        return out

    def named(self, name: str, under: dict | None = None) -> list[dict]:
        """Spans called ``name``, optionally only those below ``under``."""
        found = [sp for sp in self.spans if sp["name"] == name]
        if under is None:
            return found
        by_id = {sp["id"]: sp for sp in self.spans}

        def below(sp):
            p = sp["parent"]
            while p is not None:
                if p == under["id"]:
                    return True
                p = by_id[p]["parent"]
            return False

        return [sp for sp in found if below(sp)]

    def records(self) -> list[dict]:
        """Spans as plain records, for writing out at the end."""
        return [
            {"id": sp["id"], "name": sp["name"], "parent": sp["parent"],
             "start": sp["start"], "end": sp["end"], "jobs": len(sp["jobs"]),
             **(sp.get("own") or {})}
            for sp in self.spans
        ]


def wrap_library_calls(tracer: Tracer) -> None:
    """Open spans around two library calls that run inside other
    commands: every ``ManifestStore.merge`` (inside ``validate`` and each
    micro-batch) and every micro-batch of ``stream_validation``.  The
    wrappers replace the attributes at run time; the package's files are
    not changed."""
    from hashio_spark.sources import manifest_store
    from hashio_spark.streaming import incremental

    merge = manifest_store.ManifestStore.merge

    def traced_merge(self, *args, **kwargs):
        with tracer.span("sources.manifest_store.merge"):
            return merge(self, *args, **kwargs)

    make_sink = incremental.validation_sink

    def traced_validation_sink(*args, **kwargs):
        sink = make_sink(*args, **kwargs)

        def traced_sink(batch_df, epoch_id):
            with tracer.span("streaming.incremental.batch"):
                sink(batch_df, epoch_id)

        return traced_sink

    manifest_store.ManifestStore.merge = traced_merge
    incremental.validation_sink = traced_validation_sink
