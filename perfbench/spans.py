"""In-memory spans and engine counters for the traced run.

Spans are recorded only around the benchmark's own calls into the engine:
``setup`` (``registry.import``, ``registry.queries``, ``session.start``,
``io.fill``) and, per query, ``query`` (``operators.build``,
``exec.materialize``).  Counters are read from the engine after each query
and attached to its ``query`` span.  Nothing here runs in an untraced run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    """Spans with a name, start, end and parent id; the spans of one query
    share its ``query_id``.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, query_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "query_id": query_id or (parent or {}).get("query_id"),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_time(self, rec: dict) -> float:
        """The span's duration minus the part its child spans cover."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - sum(k["end"] - k["start"] for k in kids)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


class CaptureCollect:
    """Record the DataFrame whose ``collect()`` runs inside the block, so the
    query that ``bench._materialize`` builds and executes can be inspected
    afterwards (its QueryExecution holds the phase tracker and final plan)."""

    def __init__(self, df_class):
        self.cls = df_class
        self.df = None

    def __enter__(self):
        orig = self.orig = self.cls.collect
        cap = self

        def collect(df):
            cap.df = df
            return orig(df)

        self.cls.collect = collect
        return self

    def __exit__(self, *exc):
        self.cls.collect = self.orig
        return False


def catalyst_phases(df) -> dict[str, float]:
    """Phase durations (ms) from the query's ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {
        f"catalyst.{name}_ms": float(phases.apply(name).durationMs())
        if phases.contains(name) else 0.0
        for name in ("analysis", "optimization", "planning")
    }


def _metrics(node) -> dict[str, float]:
    m = node.metrics()
    it = m.keys().iterator()
    out = {}
    while it.hasNext():
        k = it.next()
        metric = m.apply(k)
        v = float(metric.value())
        out[k] = v / 1e6 if metric.metricType() == "nsTiming" else v
    return out


# per-layer metric <- SQL metric name, summed over every node that has it
_SUMMED = {
    "exec.shuffle_bytes": "shuffleBytesWritten",
    "exec.shuffle_records": "shuffleRecordsWritten",
    "exec.peak_memory_bytes": "peakMemory",
    "exec.spill_bytes": "spillSize",
    "pyworker.boot_ms": "pythonBootTime",
    "pyworker.init_ms": "pythonInitTime",
    "pyworker.total_ms": "pythonTotalTime",
    "pyworker.bytes_sent": "pythonDataSent",
    "pyworker.bytes_received": "pythonDataReceived",
}


def plan_counters(df) -> dict[str, float]:
    """Sum the SQL metrics of the AQE-final executed plan, descending into
    ``QueryStageExec`` children (the walk of
    ``plans.explain.executed_scan_metrics``).  ``scans`` and
    ``cached_scans`` count scan nodes and the in-memory ones among them."""
    root = df._jdf.queryExecution().executedPlan()
    if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        root = root.executedPlan()
    c = dict.fromkeys(
        [*_SUMMED, "exec.scan_time_ms", "exec.scan_bytes", "exec.broadcast_bytes",
         "exec.broadcast_collect_ms", "scans", "cached_scans"],
        0.0,
    )

    def walk(n):
        cls = n.getClass().getSimpleName()
        if cls == "ReusedExchangeExec":
            return  # its metrics belong to the exchange it reuses
        m = _metrics(n)
        if cls.endswith("ScanExec"):
            c["scans"] += 1
            c["cached_scans"] += cls == "InMemoryTableScanExec"
            c["exec.scan_time_ms"] += m.get("scanTime", 0.0)
            c["exec.scan_bytes"] += m.get("filesSize", 0.0)
        if cls == "BroadcastExchangeExec":
            c["exec.broadcast_bytes"] += m.get("dataSize", 0.0)
            c["exec.broadcast_collect_ms"] += m.get("collectTime", 0.0)
        for name, sql_name in _SUMMED.items():
            c[name] += m.get(sql_name, 0.0)
        if cls.endswith("QueryStageExec"):
            walk(n.plan())
        kids = n.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(root)
    return c


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) the status tracker recorded under a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            stage = st.getStageInfo(s)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def cached_mb(spark) -> float:
    """Memory held by cached RDD blocks, from the Spark context's storage info."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20


def stream_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ts = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            self.events.append({
                "query": str(p.id),
                "wall": (ts - datetime(1970, 1, 1)).total_seconds(),
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_mem": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def stream_counters(events: list[dict], start: float, end: float) -> dict[str, float]:
    """Totals over the progress events whose trigger started in [start, end]
    (wall clock); state rows and memory are each query's last reading."""
    evs = [e for e in events if start <= e["wall"] <= end]
    last: dict[str, dict] = {}
    for e in evs:
        last[e["query"]] = e
    n = len(evs)

    def ms(phase):
        return float(sum(e["ms"].get(phase, 0) for e in evs))

    return {
        "stream.batches": float(n),
        "stream.nonempty_batch_ratio": sum(e["rows"] > 0 for e in evs) / n if n else 0.0,
        "stream.add_batch_ms": ms("addBatch"),
        "stream.get_batch_ms": ms("getBatch"),
        "stream.planning_ms": ms("queryPlanning"),
        "stream.wal_commit_ms": ms("walCommit"),
        "stream.trigger_ms": ms("triggerExecution"),
        "stream.input_rows": float(sum(e["rows"] for e in evs)),
        "stream.state_rows": float(sum(e["state_rows"] for e in last.values())),
        "stream.state_mem_bytes": float(sum(e["state_mem"] for e in last.values())),
    }
