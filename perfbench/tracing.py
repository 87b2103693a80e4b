"""Layer tracing from outside the engine.

Spans are opened by the benchmark around its calls into each layer's
public functions. Every span carries its own Spark job group, so the
jobs, stages and SQL executions a layer call starts are attributed to
it from Spark's status tracker and the driver's local UI REST API.
Catalyst phase times come from a ``QueryExecutionListener`` registered
through the py4j callback server; py4j round trips are counted and
timed by wrapping the py4j client. None of this is installed in untraced runs.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import re
import threading
import time
import urllib.request
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)?")
_STAGE_SUMS = {
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numCompleteTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


def metric_value(text: str) -> float:
    """A SQL UI metric string as a number: the total of
    ``"total (min, med, max ...)\\n1.2 MiB (...)"`` or a plain value."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "B", 1)


@dataclass
class Span:
    sid: int
    op: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    py4j_calls: int = 0
    py4j_wall: list[tuple[float, float]] = field(default_factory=list)
    jobs: list[int] = field(default_factory=list)
    stats: dict[str, float] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class _PlanListener:
    """Receives every finished query execution with its own Catalyst
    phase durations (analysis, optimization, planning)."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        phases = qe.tracker().phases()
        ms = {
            p: phases.apply(p).durationMs()
            for p in ("analysis", "optimization", "planning")
            if phases.contains(p)
        }
        plan = qe.analyzed()
        node = plan.nodeName()
        self.events.append({
            "func": func_name,
            "plan": node,
            "noop_write": node == "OverwriteByExpression"
            and plan.table().name() == "noop-table",
            "plan_s": sum(ms.values()) / 1000.0,
            # optimization and planning run inside the SQL execution
            "inner_plan_s": (ms.get("optimization", 0) + ms.get("planning", 0)) / 1000.0,
            "phases_ms": ms,
        })

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java API
        self.events.append({"func": func_name, "plan": "failed", "noop_write": False,
                            "plan_s": 0.0})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Spans, job groups and the Spark-side readings attached to them.

    ``enabled=False`` makes every method a no-op, so timed code paths
    are identical in traced and untraced runs apart from this switch.
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0
        self._thread = threading.get_ident()
        self.plan_events: list[dict] = []
        if not enabled:
            return
        sc = spark.sparkContext
        self.sc = sc
        self.status = sc.statusTracker()
        self.api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._count_py4j()
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(sc._gateway)
        self.listener = _PlanListener()
        manager = spark._jsparkSession.listenerManager()
        manager.register(self.listener)
        # py4j makes a new Java proxy each time the Python object is
        # passed, so only the registered proxy itself unregisters
        self._jlistener = manager.listListeners()[-1]
        self._listening = True
        self._seen_events = 0
        self._seen_sql = -1

    # -- py4j ----------------------------------------------------------
    def _count_py4j(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway

        tracer = self
        for cls in (py4j.clientserver.JavaClient, py4j.java_gateway.GatewayClient):
            orig = cls.send_command
            if getattr(orig, "_perfbench", False):
                continue

            def counted(self, *args, _orig=orig, **kwargs):
                # the client thread's calls only, not the listener's
                if not tracer._stack or threading.get_ident() != tracer._thread:
                    return _orig(self, *args, **kwargs)
                span = tracer._stack[-1]
                span.py4j_calls += 1
                t0 = time.time()
                try:
                    return _orig(self, *args, **kwargs)
                finally:
                    span.py4j_wall.append((t0, time.time()))

            counted._perfbench = True
            cls.send_command = counted

    # -- spans ---------------------------------------------------------
    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans), op=op if op is not None else parent.op,
            name=name, parent=parent.sid if parent else None, start=0.0,
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, f"perfbench op {s.op}: {name}")
        cpu0 = time.thread_time()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if parent is None:
                s.stats["driver_cpu_s"] = time.thread_time() - cpu0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, f"perfbench op {parent.op}: {parent.name}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def listen(self, on: bool) -> None:
        """Register the plan listener only while traced passes run, so
        untraced passes pay no py4j callback per query execution."""
        manager = self.spark._jsparkSession.listenerManager()
        if on and not self._listening:
            manager.register(self._jlistener)
        elif not on and self._listening:
            manager.unregister(self._jlistener)
        self._listening = on

    # -- readings, taken after an operation, outside its spans ----------
    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.api}/{path}", timeout=30) as r:
            return json.load(r)

    def collect(self, op: int, expect_write: bool) -> None:
        """Attach jobs, stage sums, SQL node metrics and Catalyst phases
        to the spans of ``op``. Waits for Spark's asynchronous listener
        bus to report every job of the operation as finished first."""
        spans = [s for s in self.spans if s.op == op]
        deadline = time.monotonic() + 30
        for s in spans:
            s.jobs = sorted(self.status.getJobIdsForGroup(s.group))
        pending = [j for s in spans for j in s.jobs]
        while pending and time.monotonic() < deadline:
            pending = [
                j for j in pending
                if (info := self.status.getJobInfo(j)) is None
                or info.status not in ("SUCCEEDED", "FAILED")
            ]
            if pending:
                time.sleep(0.02)
        intervals = []
        for s in spans:
            agg = dict.fromkeys(_STAGE_SUMS, 0.0)
            agg["stages"] = 0.0
            for j in s.jobs:
                job = self._get(f"jobs/{j}")
                if job.get("completionTime"):
                    intervals.append((_ts(job["submissionTime"]), _ts(job["completionTime"])))
                info = self.status.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    for att in self._stage(sid):
                        if att["status"] == "SKIPPED":
                            continue
                        agg["stages"] += 1
                        for key, (src, scale) in _STAGE_SUMS.items():
                            agg[key] += att.get(src, 0) * scale
            agg["jobs"] = float(len(s.jobs))
            s.stats.update(agg)
        intervals += self._sql_metrics(op, spans, deadline)
        spark_s = spans[0].stats["spark_union_s"] = _union(intervals)
        # driver JVM time outside Spark: the part of the operation's py4j
        # round trips during which none of its jobs or executions ran
        py4j = [iv for s in spans for iv in s.py4j_wall]
        spans[0].stats["driver_jvm_s"] = _union(intervals + py4j) - spark_s
        for s in spans:
            s.py4j_wall.clear()
        self._plan_phases(spans, expect_write, deadline)

    def _stage(self, sid: int) -> list[dict]:
        try:
            return self._get(f"stages/{sid}?details=false")
        except OSError:
            return []

    def _sql_metrics(self, op: int, spans: list[Span], deadline: float) -> list[tuple]:
        """Python-boundary and exchange readings from SQL node metrics of
        the executions whose jobs belong to this operation; returns the
        executions' time intervals."""
        by_job = {j: s for s in spans for j in s.jobs}
        while True:
            execs = [
                e for e in self._get(
                    f"sql?details=true&planDescription=false"
                    f"&offset={self._seen_sql + 1}&length=100000")
            ]
            if all(e["status"] != "RUNNING" for e in execs) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        intervals = []
        for e in execs:
            self._seen_sql = max(self._seen_sql, e["id"])
            jobs = e.get("successJobIds", []) + e.get("failedJobIds", [])
            owner = next((by_job[j] for j in jobs if j in by_job), None)
            if owner is None:
                continue
            start = _ts(e["submissionTime"])
            intervals.append((start, start + e.get("duration", 0) / 1000.0))
            owner.stats["sql_s"] = owner.stats.get("sql_s", 0.0) + e.get("duration", 0) / 1000.0
            for node in e["nodes"]:
                m = {x["name"]: metric_value(x["value"]) for x in node["metrics"]}
                st = owner.stats
                if "data sent to Python workers" in m:
                    st["python_rows"] = st.get("python_rows", 0.0) + m.get("number of output rows", 0.0)
                    st["python_bytes"] = st.get("python_bytes", 0.0) + (
                        m["data sent to Python workers"]
                        + m.get("data returned from Python workers", 0.0))
                if node["nodeName"] == "Exchange":
                    st["exchange_write_bytes"] = st.get("exchange_write_bytes", 0.0) + m.get(
                        "shuffle bytes written", 0.0)
                    st["exchange_read_bytes"] = st.get("exchange_read_bytes", 0.0) + m.get(
                        "local bytes read", 0.0) + m.get("remote bytes read", 0.0)
        return intervals

    def _plan_phases(self, spans: list[Span], expect_write: bool, deadline: float) -> None:
        """Catalyst time of the operation's query executions. With
        ``expect_write`` the noop write's own execution (an
        ``OverwriteByExpression`` over the noop table) must arrive; it is
        attributed to the write span, everything before it to the op."""
        ev = self.listener.events
        while expect_write and time.monotonic() < deadline:
            if any(e["noop_write"] for e in ev[self._seen_events:]):
                break
            time.sleep(0.02)
        new = ev[self._seen_events:]
        if expect_write:
            cut = next((i for i, e in enumerate(new) if e["noop_write"]), len(new) - 1)
            new = new[: cut + 1]
        self._seen_events += len(new)
        root = spans[0]
        write = next((s for s in spans if s.name == "sinks.write"), None)
        for i, e in enumerate(new):
            is_write = expect_write and i == len(new) - 1 and write is not None
            target = write if is_write else root
            target.stats["plan_s"] = target.stats.get("plan_s", 0.0) + e["plan_s"]
            target.stats["inner_plan_s"] = target.stats.get("inner_plan_s", 0.0) + e.get(
                "inner_plan_s", 0.0)
            target.stats["plans_seen"] = target.stats.get("plans_seen", 0.0) + 1
            if is_write:
                target.stats["write_plan_verified"] = float(e["noop_write"])
        self.plan_events.extend(new)

    def storage_bytes(self) -> float:
        if not self.enabled:
            return 0.0
        return float(sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                         for r in self._get("storage/rdd")))

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.sid, "op": s.op, "name": s.name, "parent": s.parent,
                "start": s.start, "end": s.end, "group": s.group,
                "py4j_calls": s.py4j_calls, "jobs": s.jobs, "stats": s.stats,
            }
            for s in self.spans
        ]


def _ts(text: str) -> float:
    """REST API time ("2026-10-16T18:23:15.123GMT") as epoch seconds."""
    return dt.datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc).timestamp()


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
    return {s["id"]: (s["end"] - s["start"]) - child.get(s["id"], 0.0) for s in spans}
