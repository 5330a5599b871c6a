"""Per-layer tracer, built from outside the package.

Spans are opened by the benchmark around the calls it makes into each
layer (``op`` > ``construct`` / ``execute``) and by wrappers around the
calls the package makes:

- ``break``: an eager lineage break. The package announces each one
  through ``session._STAGE_PLAN_OBSERVERS`` just before it runs; the span
  then covers the ``localCheckpoint`` or parquet write that follows.
- ``write`` and ``catalog``: the ``sources.snapshot`` functions that
  ``jobs`` calls (``overwrite_partition``; ``ensure_table``,
  ``sync_partitions``, ``show_partitions``), plus any other parquet write
  made while constructing.

Every span tags its Spark jobs with ``setJobGroup`` (thread-local, so two
client threads never mix), and counts the py4j commands its thread sends.
After a pass, :meth:`Tracer.collect` reads the jobs and stages of each
group from Spark's status store and the per-node SQL metrics (Python
worker traffic, files scanned) from the SQL status store; both work with
the UI disabled.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
}
STAGED_LABELS = ("checkpoint_stage", "materialize_result")

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TOTAL = " total (min, med, max (stageId: taskId))"
_NODE = re.compile(r'label="(.*?)" tooltip=')


class Span:
    __slots__ = ("id", "name", "kind", "label", "parent", "t0", "t1", "py4j", "c")

    def __init__(self, sid, name, kind, label, parent):
        self.id, self.name, self.kind, self.label, self.parent = sid, name, kind, label, parent
        self.t0 = self.t1 = time.perf_counter()
        self.py4j = 0
        self.c = defaultdict(float)  # Spark counters of this span's own jobs

    @property
    def group(self) -> str:
        return f"pb:{self.id}"

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class NullTracer:
    """Untraced runs: no job groups, no counters, no wrappers."""

    @contextlib.contextmanager
    def span(self, name, kind, label=None):
        yield None


def _metric_value(text: str) -> float:
    head = text.split(" (")[0].strip()
    parts = head.split(" ")
    num = float(parts[0].replace(",", ""))
    if len(parts) > 1 and parts[1] in _UNITS:
        num *= _UNITS[parts[1]]
    return num


def parse_plan_nodes(dot: str) -> list[tuple[str, dict[str, float]]]:
    """``(node name, {metric: value})`` for each node of a plan-graph DOT
    dump (``SparkPlanGraph.makeDotFile``)."""
    nodes = []
    for label in _NODE.findall(dot):
        segs = label.split("<br>")
        name = next((s[3:-4].strip() for s in segs if s.startswith("<b>")), "")
        metrics: dict[str, float] = {}
        i = 0
        while i < len(segs):
            seg = segs[i]
            try:
                if seg.endswith(_TOTAL) and i + 1 < len(segs):
                    metrics[seg[: -len(_TOTAL)]] = _metric_value(segs[i + 1])
                    i += 1
                elif ": " in seg and not seg.startswith("<b>"):
                    key, val = seg.split(": ", 1)
                    metrics[key] = _metric_value(val)
            except ValueError:
                pass
            i += 1
        nodes.append((name, metrics))
    return nodes


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.local = threading.local()
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._last_job = -1  # jobs and SQL executions up to these are read
        self._execs_read = 0
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self.local, "stack"):
            self.local.stack = []
        return self.local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def _quiet(self, fn, *args):
        self.local.quiet = True
        try:
            return fn(*args)
        finally:
            self.local.quiet = False

    @contextlib.contextmanager
    def span(self, name, kind, label=None):
        parent = self.current()
        s = Span(next(self._ids), name, kind, label, parent.id if parent else None)
        self.spans.append(s)
        self._stack().append(s)
        self._quiet(self.sc.setJobGroup, s.group, f"{kind}:{label or name}")
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack().pop()
            if parent is not None:
                self._quiet(self.sc.setJobGroup, parent.group, f"{parent.kind}:{parent.label or parent.name}")
            else:
                self._quiet(self.sc.setLocalProperty, "spark.jobGroup.id", None)

    # -- wrappers ------------------------------------------------------
    def _patch(self, owner, attr, make):
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self, jobs_module, session_module) -> None:
        tracer = self
        conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        jobs = conv.asJava(self.sc._jsc.sc().statusStore().jobsList(None))
        self._last_job = jobs.get(0).jobId() if jobs.size() else -1
        self._execs_read = self.spark._jsparkSession.sharedState().statusStore().executionsCount()
        client = self.sc._gateway._gateway_client

        def counting(orig):
            def send_command(*a, **k):
                s = tracer.current()
                if s is not None and not getattr(tracer.local, "quiet", False):
                    s.py4j += 1
                return orig(*a, **k)

            return send_command

        self._patch(client, "send_command", counting)

        def on_break(df, label):
            tracer.local.pending = label

        session_module._STAGE_PLAN_OBSERVERS.append(on_break)
        self._patches.append((session_module._STAGE_PLAN_OBSERVERS, None, on_break))

        def take_pending():
            label = getattr(tracer.local, "pending", None)
            tracer.local.pending = None
            return label

        def breaking(orig):
            def local_checkpoint(df, *a, **k):
                label = take_pending()
                if label is None:
                    return orig(df, *a, **k)
                with tracer.span("break", "break", label):
                    return orig(df, *a, **k)

            return local_checkpoint

        def writing(orig):
            def parquet(writer, *a, **k):
                label = take_pending()
                cur = tracer.current()
                if label is not None:
                    ctx = tracer.span("break", "break", label)
                elif cur is not None and cur.kind == "construct":
                    ctx = tracer.span("parquet", "write", "parquet")
                else:
                    ctx = contextlib.nullcontext()
                with ctx:
                    return orig(writer, *a, **k)

            return parquet

        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        self._patch(ClassicDataFrame, "localCheckpoint", breaking)
        self._patch(DataFrameWriter, "parquet", writing)

        def wrapped(kind):
            def make(orig):
                def call(*a, **k):
                    with tracer.span(orig.__name__, kind, orig.__name__):
                        return orig(*a, **k)

                return call

            return make

        self._patch(jobs_module, "overwrite_partition", wrapped("write"))
        for name in ("ensure_table", "sync_partitions", "show_partitions"):
            self._patch(jobs_module, name, wrapped("catalog"))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if attr is None:
                owner.remove(orig)
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # -- status stores -------------------------------------------------
    def collect(self) -> None:
        """Attribute every finished job, stage and SQL execution tagged by
        one of this tracer's spans to that span's counters."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        by_group = {s.group: s for s in self.spans}
        store = jsc.statusStore()
        job_span: dict[int, Span] = {}
        last = self._last_job
        for job in conv.asJava(store.jobsList(None)):  # newest first
            jid = job.jobId()
            if jid <= last:
                break
            self._last_job = max(self._last_job, jid)
            group = job.jobGroup()
            span = by_group.get(group.get()) if group.isDefined() else None
            if span is None:
                continue
            job_span[jid] = span
            span.c["jobs"] += 1
            for sid in conv.asJava(job.stageIds()):
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # never submitted (skipped) stage
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                span.c["stages"] += 1
                span.c["tasks"] += st.numTasks()
                for key, (getter, scale) in STAGE_FIELDS.items():
                    span.c[key] += getattr(st, getter)() * scale
                span.c["peak_exec_mem_bytes"] = max(
                    span.c["peak_exec_mem_bytes"], float(st.peakExecutionMemory())
                )
        sql = self.spark._jsparkSession.sharedState().statusStore()
        count = sql.executionsCount()
        new = sql.executionsList(self._execs_read, count - self._execs_read)
        self._execs_read = count
        for ex in conv.asJava(new):
            eid = ex.executionId()
            jids = list(conv.asJava(ex.jobs()).keySet())
            span = next((job_span[j] for j in jids if j in job_span), None)
            if span is None:
                continue
            dot = sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid))
            for name, m in parse_plan_nodes(dot):
                if "data sent to Python workers" in m:
                    span.c["py_bytes_to_workers"] += m["data sent to Python workers"]
                    span.c["py_bytes_from_workers"] += m.get("data returned from Python workers", 0)
                    span.c["py_rows_from_workers"] += m.get("number of output rows", 0)
                span.c["files_scanned"] += m.get("number of files read", 0)
            span.c["sql_executions"] += 1

    # -- per-op record -------------------------------------------------
    def op_record(self, op: Span) -> dict:
        """Layer metrics and the span tree of one ``op`` span."""
        children = defaultdict(list)
        for s in self.spans:
            children[s.parent].append(s)

        def subtree(s: Span) -> list[Span]:
            out = [s]
            for c in children[s.id]:
                out += subtree(c)
            return out

        spans = subtree(op)
        kind = lambda k: [s for s in spans if s.kind == k]  # noqa: E731
        total = lambda ss, key: sum(s.c[key] for s in ss)  # noqa: E731
        construct, breaks, execute = kind("construct"), kind("break"), kind("execute")
        staged = [b for b in breaks if (b.label or "").startswith(STAGED_LABELS)]
        rec = {
            "plans.construct_s": sum(s.dur for s in construct),
            "plans.self_s": sum(s.dur - sum(c.dur for c in children[s.id]) for s in construct),
            "plans.py4j_calls": sum(x.py4j for c in construct for x in subtree(c)),
            "plans.construct_jobs": total(construct, "jobs"),
            "session.eager_breaks": len(breaks),
            "session.break_jobs": total(breaks, "jobs"),
            "session.break_s": sum(s.dur for s in breaks),
            "operators.exec_s": sum(s.dur for s in execute),
            "operators.peak_exec_mem_bytes": max(
                [s.c["peak_exec_mem_bytes"] for s in execute], default=0.0
            ),
            "operators.index_store.jobs_per_request": total(spans, "jobs"),
            "operators.index_store.files_scanned_per_request": total(spans, "files_scanned"),
            "sources.input_bytes": total(spans, "input_bytes"),
            "sources.output_bytes": total([s for s in spans if s.kind != "break"], "output_bytes"),
            "sources.staged_bytes": total(staged, "output_bytes"),
            "sources.write_s": sum(s.dur for s in kind("write")),
            "sources.catalog_s": sum(s.dur for s in kind("catalog")),
            "sources.catalog_calls": len(kind("catalog")),
        }
        for key in OPERATOR_COUNTERS:
            rec[f"operators.{key}"] = total(execute, key)
        rec["break_labels"] = sorted(_short_label(b.label) for b in breaks)
        rec["spans"] = [
            {
                "id": s.id,
                "parent": s.parent,
                "kind": s.kind,
                "name": s.name,
                "label": _short_label(s.label),
                "dur_s": s.dur,
                "self_s": s.dur - sum(c.dur for c in children[s.id]),
                "py4j": s.py4j,
                **{k: v for k, v in s.c.items() if v},
            }
            for s in spans
        ]
        return rec


OPERATOR_COUNTERS = (
    "jobs", "stages", "tasks", "task_s", "cpu_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "gc_s", "py_bytes_to_workers",
    "py_bytes_from_workers", "py_rows_from_workers",
)


def _short_label(label: str | None) -> str | None:
    """``checkpoint_stage:/long/path/stage0`` -> ``checkpoint_stage:stage0``."""
    if label and ":" in label:
        head, tail = label.split(":", 1)
        return f"{head}:{tail.rstrip('/').rsplit('/', 1)[-1]}"
    return label
