"""Traced-run instruments: in-memory spans around engine calls, and Spark
counts read back from the run's event log.

Spans are recorded from outside the engine. ``Tracer.patch`` replaces a
public engine function with a timing wrapper everywhere the function is
looked up: in its defining module and in every engine module that bound it
by ``from ... import``. Methods are patched on their class. Each span keeps
its name, start, end, parent span and op id; a span's self time is its
duration minus the part of it that its child spans cover.

Spark counts come from the event log that the launch confs switch on
(``spark.eventLog.enabled``). Jobs are tied to ops either by the job group
the benchmark sets around each query op, or, for ops whose jobs run on
pool threads that do not inherit job groups, by submission time.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

ENGINE = "feature_datalake_sl_mandic_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


@dataclass
class Tracer:
    """Span recorder. With ``enabled=False`` it records no span and patches
    nothing, so untraced runs time the engine unwrapped."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    op_id: str | None = None
    pool_parent: int | None = None
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _next: int = 0
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, pool_root: bool = False):
        """Span context. With ``pool_root``, spans opened on other threads
        while this one is open (the ingest pool's workers, whose own stacks
        are empty) take it as their parent."""
        return _SpanCtx(self, name, pool_root)

    def _open(self, name: str) -> tuple[int, int | None, float]:
        with self._lock:
            sid = self._next
            self._next += 1
        st = self._stack()
        parent = st[-1] if st else self.pool_parent
        st.append(sid)
        return sid, parent, time.time()

    def _close(self, sid: int, name: str, parent: int | None, start: float) -> None:
        end = time.time()
        self._stack().pop()
        with self._lock:
            self.spans.append(Span(sid, name, start, end, parent, self.op_id))

    # --- patching -----------------------------------------------------------

    def patch(self, owner: object, attr: str, name: str, timed_result=None) -> None:
        """Wrap ``owner.attr`` in a span named ``name``. ``owner`` is a module
        (every engine module binding the same function is patched too) or a
        class. ``timed_result`` names a method of the returned object (e.g.
        ``collect``) whose call is also charged to a span ``name``: used for
        functions that return a lazy DataFrame whose work runs later."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if timed_result is not None:
                out = _TimedResult(out, timed_result, tracer, name)
            return out

        wrapper.__wrapped__ = orig
        self._patched += rebind(owner, attr, wrapper)

    def unpatch(self) -> None:
        restore(self._patched)
        self._patched.clear()

    # --- reading spans ----------------------------------------------------------

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")

    def self_times(self) -> dict[int, float]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return {
            s.id: (s.end - s.start) - _covered(s, kids.get(s.id, []))
            for s in self.spans
        }


def rebind(owner: object, attr: str, replacement) -> list[tuple[object, str, object]]:
    """Set ``owner.attr`` to ``replacement`` where the engine looks it up:
    on ``owner`` and, when ``owner`` is a module, in every engine module that
    bound the same object by ``from ... import``. Returns what ``restore``
    needs to undo it."""
    orig = getattr(owner, attr)
    targets = [(owner, attr)]
    if isinstance(owner, type(sys)):
        for mod_name, mod in list(sys.modules.items()):
            if mod is owner or not mod_name.startswith(ENGINE):
                continue
            targets += [(mod, k) for k, v in list(vars(mod).items()) if v is orig]
    undo = [(obj, k, getattr(obj, k)) for obj, k in targets]
    for obj, k in targets:
        setattr(obj, k, replacement)
    return undo


def restore(undo: list[tuple[object, str, object]]) -> None:
    for obj, k, orig in reversed(undo):
        setattr(obj, k, orig)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, pool_root: bool):
        self.t, self.name, self.pool_root = tracer, name, pool_root

    def __enter__(self):
        if self.t.enabled:
            self.sid, self.parent, self.start = self.t._open(self.name)
            if self.pool_root:
                self.outer_pool_parent = self.t.pool_parent
                self.t.pool_parent = self.sid
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            if self.pool_root:
                self.t.pool_parent = self.outer_pool_parent
            self.t._close(self.sid, self.name, self.parent, self.start)
        return False


class _TimedResult:
    """Proxy that charges one method call of the wrapped object to a span."""

    def __init__(self, obj, method: str, tracer: Tracer, name: str):
        self._obj, self._method, self._tracer, self._name = obj, method, tracer, name

    def __getattr__(self, attr):
        target = getattr(self._obj, attr)
        if attr != self._method:
            return target

        def timed(*args, **kwargs):
            with self._tracer.span(self._name):
                return target(*args, **kwargs)

        return timed


def _covered(span: Span, children: list[Span]) -> float:
    """Length of the union of the children's intervals inside ``span``."""
    iv = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- Spark event log ---------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_ROWS = "number of output rows"
_PY_NODE_WORDS = ("Python", "Pandas", "Arrow")
# scan metric: bytes of the files a file scan selected (the task-level input
# metric undercounts local parquet reads)
_SCAN_BYTES = "size of files read"


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    execution: str | None
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # per stage: list of (executor run seconds, shuffle write, shuffle read,
    # spill bytes) per task
    tasks: dict[int, list[tuple[float, int, int, int]]] = field(
        default_factory=lambda: defaultdict(list)
    )
    # per stage: summed updates of the Python-boundary SQL metrics
    python: dict[int, dict[str, int]] = field(
        default_factory=lambda: defaultdict(lambda: defaultdict(int))
    )
    # per SQL execution id: summed scan file bytes
    scan_bytes: dict[str, int] = field(default_factory=lambda: defaultdict(int))


def read_event_log(log_dir: str) -> EventLog:
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    paths = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
        and os.path.basename(p).startswith(("events_", "local-", "app-"))
        and not p.endswith(".inprogress")
    )
    if not paths:
        raise FileNotFoundError(f"no finished Spark event log in {log_dir}")
    out = EventLog()
    py_accums: dict[int, str] = {}
    scan_accums: set[int] = set()
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0,
                        props.get("spark.sql.execution.id"),
                        stages=list(ev.get("Stage IDs", [])),
                    )
                    out.jobs[job.id] = job
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_accums(ev.get("sparkPlanInfo") or {}, py_accums, scan_accums)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", []):
                        if acc_id in scan_accums:
                            out.scan_bytes[str(ev["executionId"])] += int(value)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sid = ev["Stage ID"]
                    out.tasks[sid].append(
                        (
                            m.get("Executor Run Time", 0) / 1000.0,
                            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        )
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        metric = py_accums.get(acc.get("ID"))
                        if metric is not None:
                            out.python[sid][metric] += int(acc.get("Update") or 0)
    return out


def _plan_accums(plan: dict, py: dict[int, str], scan: set[int]) -> None:
    name = plan.get("nodeName", "")
    for m in plan.get("metrics", []):
        if any(w in name for w in _PY_NODE_WORDS) and m["name"] in (_PY_SENT, _PY_RECV, _PY_ROWS):
            py[m["accumulatorId"]] = m["name"]
        elif name.startswith("Scan") and m["name"] == _SCAN_BYTES:
            scan.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_accums(child, py, scan)


def exec_counts(log: EventLog, job_ids: list[int]) -> dict[str, float]:
    """Spark execution counts summed over ``job_ids``."""
    stages = sorted({s for j in job_ids for s in log.jobs[j].stages if s in log.tasks})
    tasks = [t for s in stages for t in log.tasks[s]]
    # straggler ratio of stages wide and long enough for it to mean anything
    skew = []
    for s in stages:
        runs = sorted(t[0] for t in log.tasks[s])
        med = runs[len(runs) // 2] if runs else 0.0
        if len(runs) >= 4 and med >= 0.05:
            skew.append(runs[-1] / med)
    py = defaultdict(int)
    for s in stages:
        for k, v in log.python.get(s, {}).items():
            py[k] += v
    return {
        "jobs": len(job_ids),
        "stages": len(stages),
        "tasks": len(tasks),
        "task_s": sum(t[0] for t in tasks),
        "input_bytes": sum(
            log.scan_bytes.get(x, 0) for x in {log.jobs[j].execution for j in job_ids} if x
        ),
        "shuffle_write_bytes": sum(t[1] for t in tasks),
        "shuffle_read_bytes": sum(t[2] for t in tasks),
        "spill_bytes": sum(t[3] for t in tasks),
        "task_max_over_median": max(skew, default=1.0),
        "python_bytes_sent": py[_PY_SENT],
        "python_bytes_received": py[_PY_RECV],
        "python_rows": py[_PY_ROWS],
    }
