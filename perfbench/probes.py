"""Measurement from outside the program: spans around calls into its
layers, Spark's own counters per op, Catalyst phase times, and the
memory of the driver JVM plus its Python workers.

Nothing here changes what the program does.  Spans come from wrappers
that :meth:`Tracer.install` puts around public functions of
``ght2dm_spark`` modules for the traced run only; stage counters are
read from the Spark status store after each op; Catalyst phase times
come from a ``QueryExecutionListener`` registered for the traced run.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

from py4j.protocol import Py4JJavaError

#: (module, function) pairs wrapped in the traced run.  ``run_from_config``
#: imports these names from their modules at call time, so wrapping the
#: module attribute is enough.
WRAPPED = (
    ("ght2dm_spark.config", "run_from_config"),
    ("ght2dm_spark.sources.bson", "read_bson_dumps"),
    ("ght2dm_spark.pipelines", "import_users"),
    ("ght2dm_spark.pipelines", "import_repos"),
    ("ght2dm_spark.pipelines", "import_org_members"),
    ("ght2dm_spark.pipelines", "import_repo_collaborators"),
    ("ght2dm_spark.snapshots", "prepare_commit"),
    ("ght2dm_spark.snapshots", "commit"),
    ("ght2dm_spark.snapshots", "vacuum"),
    ("ght2dm_spark.snapshots", "read_snapshot"),
    ("ght2dm_spark.snapshots", "read_prepared"),
)

_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    start: float
    end: float
    op: str | None
    parent: int | None
    attrs: dict = field(default_factory=dict)


def _tree_files(path: Path) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def tree_bytes(path: Path) -> int:
    return sum(_tree_files(path).values())


class Tracer:
    """Spans in memory, keyed by the op that caused them.  Records only
    while :attr:`enabled`."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.op: str | None = None
        #: (args, kwargs) of every read_bson_dumps call since the last reset
        self.decode_calls: list[tuple[tuple, dict]] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    def span(self, name: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext()
        return _SpanCtx(self, name, attrs)

    def original(self, mod_name: str, fn_name: str):
        """The unwrapped function while wrappers are installed."""
        for mod, name, fn in self._saved:
            if mod.__name__ == mod_name and name == fn_name:
                return fn
        raise KeyError(f"{mod_name}.{fn_name} is not wrapped")

    def install(self) -> None:
        import importlib

        for mod_name, fn_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, fn_name)
            self._saved.append((mod, fn_name, fn))
            setattr(mod, fn_name, self._wrap(f"{mod_name.split('.')[-1]}.{fn_name}", fn))

    def uninstall(self) -> None:
        for mod, fn_name, fn in reversed(self._saved):
            setattr(mod, fn_name, fn)
        self._saved.clear()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = {}
            if name == "bson.read_bson_dumps":
                attrs["folder"] = str(args[1])
                tracer.decode_calls.append((args, kwargs))
            if name == "snapshots.prepare_commit":
                table = Path(args[1])
                before = _tree_files(table)
            with tracer.span(name, **attrs) as sp:
                out = fn(*args, **kwargs)
            if name == "snapshots.prepare_commit":
                new = {p: s for p, s in _tree_files(table).items() if p not in before}
                data = [s for p, s in new.items() if not p.endswith(".json")]
                sp.attrs.update(files=len(data), bytes=sum(data))
            return out

        return wrapper

    def op_spans(self, op: str) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def dump(self, path: Path) -> None:
        import json

        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "op": s.op,
                                    "parent": s.parent, "start": s.start,
                                    "end": s.end, **s.attrs}) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        self.span = Span(self.name, time.perf_counter(), 0.0, t.op, parent, self.attrs)
        t.spans.append(self.span)
        t._stack.append(len(t.spans) - 1)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        self.tracer._stack.pop()


def entity_times(spans: list[Span]) -> dict[str, float]:
    """Wall time per entity folder of one import: from the folder's
    decode call to the next folder's, the last one ending at the first
    commit — the decode, pipeline and staging jobs of that entity."""
    reads = sorted((s for s in spans if s.name == "bson.read_bson_dumps"), key=lambda s: s.start)
    out: dict[str, float] = defaultdict(float)
    if not reads:
        return out
    commits = [s.start for s in spans if s.name == "snapshots.commit"]
    ends = [r.start for r in reads[1:]] + [min(commits) if commits else reads[-1].end]
    for r, end in zip(reads, ends):
        out[os.path.basename(os.path.normpath(r.attrs["folder"]))] += end - r.start
    return out


class SparkCounters:
    """Per-op counters of the Spark engine, read after the op from the
    status store (jobs of the op's job group, last attempt of each
    stage).  Works with the UI off."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.cores = self.sc.defaultParallelism

    def drain(self) -> None:
        """Wait until every listener event of finished jobs is processed."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _stages(self, group: str):
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = []
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage evicted from the store
                continue
            if st.status().toString() != "SKIPPED":
                stages.append(st)
        return jobs, stages

    def read(self, group: str) -> dict[str, float]:
        self.drain()
        jobs, stages = self._stages(group)
        c = defaultdict(float)
        for st in stages:
            c["spark.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            c["spark.failed_tasks"] += st.numFailedTasks()
            c["spark.executor_run_s"] += st.executorRunTime() / 1e3
            c["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["spark.input_bytes"] += st.inputBytes()
            c["spark.input_records"] += st.inputRecords()
            c["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            c["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        c["spark.jobs"] = len(jobs)
        c["spark.stages"] = len(stages)
        return dict(c)


class CatalystPhases:
    """Sums Catalyst phase durations of every query execution the
    session finishes, via a ``QueryExecutionListener`` called back into
    Python.  Read :meth:`take` after :meth:`SparkCounters.drain`."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._lock = threading.Lock()
        self._ms: dict[str, float] = defaultdict(float)
        self._manager = spark._jsparkSession.listenerManager()
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._manager.register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java interface
        self._add(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — Java interface
        self._add(qe)

    def _add(self, qe) -> None:
        phases = qe.tracker().phases()
        got = {}
        for name in _PHASES:
            opt = phases.get(name)
            if opt.isDefined():
                got[name] = opt.get().durationMs()
        with self._lock:
            for name, ms in got.items():
                self._ms[name] += ms

    def take(self) -> dict[str, float]:
        with self._lock:
            out = {f"catalyst.{n}_ms": self._ms.get(n, 0.0) for n in _PHASES}
            self._ms.clear()
        return out

    def close(self) -> None:
        self._manager.unregister(self)


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


class RssSampler:
    """Peak resident memory of a process and all its descendants,
    sampled from /proc on a background thread."""

    def __init__(self, pid: int, period_s: float = 0.1) -> None:
        self.pid, self.period = pid, period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree(self) -> list[int]:
        children = defaultdict(list)
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children[ppid].append(int(entry))
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def sample(self) -> int:
        total = 0
        root_exe = _exe(self.pid)
        for p in self._tree():
            # a child still running the root's executable is a fork the JVM
            # has not yet replaced by exec: its pages are the JVM's own
            if p != self.pid and _exe(p) == root_exe:
                continue
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)
