"""Tracing for the benchmark's traced run: in-memory spans recorded around
the calls the benchmark makes into each layer, and the Spark event-log
reader that attributes every task to one operation.

Nothing here changes the package.  Spans are taken in the benchmark's own
code; the only interposition is :func:`patch_load_table`, which rebinds the
two names ``load_table`` is looked up under, and only in a traced run.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
from dataclasses import dataclass, field

PASS_PROP = "perfbench.pass"
PHASE_PROP = "perfbench.phase"
LAYER_PROP = "perfbench.layer"

#: SQL-metric names of Spark's Python exec nodes (ArrowEvalPython,
#: MapInPandas, ...), as they appear in the event log's task accumulables
PY_RUN_MS = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Span:
    name: str
    op: str  # "<pass>:<operation>", shared by every span of one operation
    parent: str | None
    t0: float
    t1: float

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class NullTracer:
    """The untraced run's tracer: every hook is a no-op."""

    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def begin_op(self, op: str) -> None:
        pass

    def add(self, name: str, value: float) -> None:
        pass


@dataclass
class Tracer:
    """Spans and counts of one traced run, kept in memory until it ends."""

    enabled = True
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, dict[str, float]] = field(default_factory=dict)
    _op: str = ""
    _stack: list[str] = field(default_factory=list)

    def begin_op(self, op: str) -> None:
        self._op = op
        self._stack.clear()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(name, self._op, parent, t0, time.perf_counter()))
            self._stack.pop()

    def add(self, name: str, value: float) -> None:
        per_op = self.counts.setdefault(self._op, {})
        per_op[name] = per_op.get(name, 0.0) + value


def patch_load_table(tracer: Tracer, sc):
    """Time ``io.load_table`` in a traced run, under both names the package
    looks it up by: ``io.load_table`` (``load_events``, ``register_tables``)
    and ``queries._util.load_table`` (imported by name).  Jobs launched
    inside the call carry the ``perfbench.layer`` local property.  Returns
    the function that restores the original bindings."""
    from apache_hive_2_1_1_src_spark import io
    from apache_hive_2_1_1_src_spark.queries import _util

    original = io.load_table

    def load_table(*args, **kwargs):
        outer = sc.getLocalProperty(LAYER_PROP)
        sc.setLocalProperty(LAYER_PROP, "io.load_table")
        try:
            with tracer.span("io.load_table"):
                return original(*args, **kwargs)
        finally:
            sc.setLocalProperty(LAYER_PROP, outer)

    io.load_table = load_table
    _util.load_table = load_table

    def undo() -> None:
        io.load_table = original
        _util.load_table = original

    return undo


def _catalyst_ms(jdf) -> dict[str, float]:
    """Catalyst phase durations of one Dataset, from its QueryPlanningTracker."""
    out: dict[str, float] = {}
    it = jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = out.get(kv._1(), 0.0) + float(kv._2().durationMs())
    return out


def traced_count(tracer: Tracer, df) -> int:
    """``df.count()`` with its action time and Catalyst phases recorded.
    It runs the aggregate ``Dataset.count()`` plans, built here so that
    its planning tracker is reachable."""
    sc = df.sparkSession.sparkContext
    counted = df.groupBy().count()
    sc.setLocalProperty(PHASE_PROP, "action")
    with tracer.span("spark.exec.action"):
        n = counted.collect()[0][0]
    for jdf in (df._jdf, counted._jdf):
        for phase, ms in _catalyst_ms(jdf).items():
            tracer.add(f"catalyst.{phase}_ms", ms)
    return n


# ------------------------------------------------------------ event log


def _log_files(log_dir: str) -> list[str]:
    """Spark 4 writes a directory of rolling ``events_<n>_<app>`` files;
    older layouts write one file per application."""
    found = []
    for root, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith((".", "appstatus")):
                continue
            m = re.match(r"events_(\d+)_", n)
            found.append((root, int(m.group(1)) if m else 0, os.path.join(root, n)))
    return [p for _, _, p in sorted(found)]


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in _log_files(log_dir):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


@dataclass
class SparkProfile:
    """Event-log totals per pass tag (``t<k>`` traced, ``p<k>`` plain,
    ``warmup``, ``setup``)."""

    per_pass: dict[str, dict[str, float]]
    tasks: int
    unattributed_tasks: int


def profile_event_log(events: list[dict]) -> SparkProfile:
    """Attribute every task to the pass and operation that launched it.

    A stage's job group and local properties come from its own
    ``SparkListenerStageSubmitted`` event.  The stage lists of
    ``SparkListenerJobStart`` are not used: under AQE a job can run stages
    it did not list, so mapping through them loses tasks."""
    stage_props: dict[tuple[int, int], dict] = {}
    per_pass: dict[str, dict[str, float]] = {}
    tasks = unattributed = 0

    def bump(tag: str, key: str, value: float) -> None:
        totals = per_pass.setdefault(tag, {})
        totals[key] = totals.get(key, 0.0) + value

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            props = e.get("Properties") or {}
            stage_props[(info["Stage ID"], info["Stage Attempt ID"])] = props
            if props.get("spark.jobGroup.id"):
                bump(props.get(PASS_PROP, ""), "stages", 1)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            tag = props.get(PASS_PROP, "")
            bump(tag, "jobs", 1)
            if props.get(PHASE_PROP) == "build":
                bump(tag, "build_jobs", 1)
            if props.get(LAYER_PROP) == "io.load_table":
                bump(tag, "load_table_jobs", 1)
        elif kind.endswith("SQLExecutionStart"):
            first_frame = (e.get("details") or "").split("\n", 1)[0]
            if ".localCheckpoint(" in first_frame:
                m = re.search(r"pass=(\S+)", e.get("description") or "")
                bump(m.group(1) if m else "", "materializations", 1)
        elif kind == "SparkListenerTaskEnd":
            tasks += 1
            props = stage_props.get((e["Stage ID"], e["Stage Attempt ID"]))
            if not props or not props.get("spark.jobGroup.id"):
                unattributed += 1
                continue
            tag = props.get(PASS_PROP, "")
            tm = e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            bump(tag, "tasks", 1)
            bump(tag, "task_run_s", tm.get("Executor Run Time", 0) / 1e3)
            bump(tag, "task_cpu_s", tm.get("Executor CPU Time", 0) / 1e9)
            bump(tag, "shuffle_read_bytes", sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0))
            bump(tag, "shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0))
            bump(tag, "spill_bytes", tm.get("Disk Bytes Spilled", 0))
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name in (PY_RUN_MS, PY_SENT, PY_RETURNED):
                    value = float(acc.get("Update") or 0)
                    bump(tag, name, value / 1e3 if name == PY_RUN_MS else value)
    return SparkProfile(per_pass, tasks, unattributed)
