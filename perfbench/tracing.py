"""Traced-run instrumentation, installed from the benchmark's own files.

Spans wrap the calls into each layer's public functions: the parser, the
planner, the operator compiler, the engine's ``cypher``/``cypher_write``
and the ``pipeline.graph`` operators. The program itself is not edited; the
wrappers replace the module globals and class attributes through which the
package reaches those functions, and are removed again after every traced
operation, so untraced operations run the unmodified code.

Counters come from Spark's status store (jobs, stages, tasks, shuffle and
input volume per operation, via a job group per operation), the JVM's
garbage-collector beans, a count of py4j method-call commands, and
``/proc``. Every reader raises ``CollectionError`` on failure; callers
report the metric as missing with that reason rather than as zero.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "opencyphertranspiler_spark"


class CollectionError(RuntimeError):
    """A counter could not be read."""


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start_ns: int
    end_ns: int = 0
    py4j_calls: int = 0

    @property
    def ms(self) -> float:
        return (self.end_ns - self.start_ns) / 1e6


@dataclass
class Recorder:
    """Spans of one run, kept in memory and written out when it ends."""

    spans: list[Span] = field(default_factory=list)
    py4j_calls: int = 0  # method-call commands sent so far
    op: int = -1
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        s = Span(
            name,
            self.op,
            self._stack[-1] if self._stack else None,
            time.perf_counter_ns(),
        )
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        calls0 = self.py4j_calls
        try:
            yield s
        finally:
            s.end_ns = time.perf_counter_ns()
            s.py4j_calls = self.py4j_calls - calls0
            self._stack.pop()

    def as_json(self, t0_ns: int) -> list[dict]:
        return [
            {
                "id": i,
                "name": s.name,
                "op": s.op,
                "parent": s.parent,
                "start_ms": (s.start_ns - t0_ns) / 1e6,
                "end_ms": (s.end_ns - t0_ns) / 1e6,
                "py4j_calls": s.py4j_calls,
            }
            for i, s in enumerate(self.spans)
        ]


def _outermost(rec: Recorder, name: str, fn, depth: list[int]):
    """Wrap ``fn`` so that only its outermost call opens a span; the
    compiler and the graph operators call themselves re-entrantly."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if depth[0]:
            return fn(*args, **kwargs)
        depth[0] += 1
        try:
            with rec.span(name):
                return fn(*args, **kwargs)
        finally:
            depth[0] -= 1

    return wrapper


def _package_modules():
    return [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]


class Instrumentation:
    """Installs and removes the layer wrappers around one traced operation."""

    def __init__(self, rec: Recorder, gateway_client):
        import opencyphertranspiler_spark.pipeline.graph as graph
        from opencyphertranspiler_spark.cypher.parser import parse
        from opencyphertranspiler_spark.engine import CypherEngine
        from opencyphertranspiler_spark.operators.compiler import Compiler
        from opencyphertranspiler_spark.plans.planner import plan_query

        self.rec = rec
        self._client = gateway_client
        # (owner, attribute, original, wrapper) for class attributes
        self._attrs = []
        # original function -> wrapper, replaced wherever a package module
        # holds it as a global
        self._funcs = {}
        graph_depth = [0]
        for name, fn in vars(graph).items():
            if (
                callable(fn)
                and not name.startswith("_")
                and getattr(fn, "__module__", None) == graph.__name__
                and not isinstance(fn, type)
            ):
                self._funcs[fn] = _outermost(
                    rec, f"pipeline.graph.{name}", fn, graph_depth
                )
        self._funcs[parse] = _outermost(rec, "cypher.parse", parse, [0])
        self._funcs[plan_query] = _outermost(rec, "plans.plan", plan_query, [0])
        for owner, attr, name in [
            (Compiler, "compile", "operators.compile"),
            (CypherEngine, "cypher", "engine.cypher"),
            (CypherEngine, "cypher_write", "writes.cypher_write"),
        ]:
            fn = vars(owner)[attr]
            self._attrs.append((owner, attr, fn, _outermost(rec, name, fn, [0])))
        self._patched_globals = []

    def _count_send(self, send):
        rec = self.rec

        @functools.wraps(send)
        def wrapper(command, *args, **kwargs):
            if command.startswith("c\n"):
                rec.py4j_calls += 1
            return send(command, *args, **kwargs)

        return wrapper

    def install(self) -> None:
        for owner, attr, _, wrapper in self._attrs:
            setattr(owner, attr, wrapper)
        for mod in _package_modules():
            for name, value in list(vars(mod).items()):
                try:
                    wrapper = self._funcs.get(value)
                except TypeError:  # unhashable global
                    continue
                if wrapper is not None:
                    setattr(mod, name, wrapper)
                    self._patched_globals.append((mod, name, value))
        self._client.send_command = self._count_send(
            type(self._client).send_command.__get__(self._client)
        )

    def uninstall(self) -> None:
        del self._client.send_command
        for mod, name, value in self._patched_globals:
            setattr(mod, name, value)
        self._patched_globals.clear()
        for owner, attr, fn, _ in self._attrs:
            setattr(owner, attr, fn)


# ---- Spark status store -------------------------------------------------


class SparkCounters:
    """Per-job-group counters read from the driver's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        try:
            self.store = self.sc._jsc.sc().statusStore()
            self._bus = self.sc._jsc.sc().listenerBus()
            self._stage_defaults = [
                getattr(self.store, f"stageData$default${i}")() for i in range(2, 6)
            ]
            mf = self.sc._jvm.java.lang.management.ManagementFactory
            self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        except Exception as e:  # py4j raises several unrelated types
            raise CollectionError(f"status store unavailable: {e!r}") from e

    def job_ids(self, group: str) -> list[int]:
        try:
            # the store is filled from the listener bus, asynchronously
            self._bus.waitUntilEmpty()
            return sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        except Exception as e:
            raise CollectionError(f"status tracker read failed: {e!r}") from e

    def gc_ms(self) -> int:
        try:
            return sum(int(b.getCollectionTime()) for b in self._gc_beans)
        except Exception as e:
            raise CollectionError(f"GC beans unreadable: {e!r}") from e

    def group_counts(self, group: str) -> dict[str, int]:
        try:
            jobs = self.job_ids(group)
            out = dict(
                jobs=len(jobs),
                stages=0,
                tasks=0,
                shuffle_read_bytes=0,
                shuffle_write_bytes=0,
                shuffle_read_records=0,
                shuffle_write_records=0,
                input_records=0,
            )
            for jid in jobs:
                jd = self.store.job(jid)
                out["stages"] += jd.numCompletedStages()
                out["tasks"] += jd.numCompletedTasks()
                ids = jd.stageIds()
                for k in range(ids.size()):
                    attempts = self.store.stageData(
                        ids.apply(k), *self._stage_defaults
                    )
                    for a in range(attempts.size()):
                        st = attempts.apply(a)
                        if st.status().toString() != "COMPLETE":
                            continue
                        out["shuffle_read_bytes"] += st.shuffleReadBytes()
                        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                        out["shuffle_read_records"] += st.shuffleReadRecords()
                        out["shuffle_write_records"] += st.shuffleWriteRecords()
                        out["input_records"] += st.inputRecords()
            return out
        except CollectionError:
            raise
        except Exception as e:
            raise CollectionError(f"status store read failed: {e!r}") from e


class Tracer:
    """Spans and counters of the traced operations of one run. Reasons for
    counters that could not be read go into ``missing``."""

    def __init__(self, spark, missing: dict[str, str]):
        self.rec = Recorder()
        self.missing = missing
        self.sc = spark.sparkContext
        self.inst = Instrumentation(self.rec, self.sc._gateway._gateway_client)
        try:
            self.counters = SparkCounters(spark)
        except CollectionError as e:
            self.counters = None
            for k in ("spark.jobs", "jvm.gc_ms"):
                missing[k] = str(e)

    def begin(self, index: int) -> None:
        """Start a traced operation: its jobs run in their own job group."""
        self.rec.op = index
        self._group = f"perfbench-op-{index}"
        self._first_span = len(self.rec.spans)
        self._gc0 = self._eager = None
        if self.counters is not None:
            try:
                self._gc0 = self.counters.gc_ms()
            except CollectionError as e:
                self.missing["jvm.gc_ms"] = str(e)
            self.sc.setJobGroup(self._group, self._group)
        self.inst.install()

    def mark_eager(self) -> None:
        """Count the jobs launched so far, before the result is requested."""
        if self.counters is not None:
            self._eager = len(self.counters.job_ids(self._group))

    def end(self) -> None:
        self.inst.uninstall()
        if self.counters is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self) -> dict | None:
        """Counters of the operation that just ended, or None if unreadable."""
        if self.counters is None:
            return None
        try:
            out = self.counters.group_counts(self._group)
            out["eager_jobs"] = self._eager
            out["py4j_calls"] = sum(
                s.py4j_calls
                for s in self.rec.spans[self._first_span :]
                if s.name == "operators.compile"
            )
            if self._gc0 is not None:
                out["gc_ms"] = self.counters.gc_ms() - self._gc0
            return out
        except CollectionError as e:
            self.missing["spark.jobs"] = str(e)
            return None


# ---- /proc --------------------------------------------------------------

_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError as e:
        raise CollectionError(f"cannot read {path}: {e}") from e


def cpu_ms(pid: int | str) -> float:
    """User plus system CPU time of a process, in ms."""
    stat = _read(f"/proc/{pid}/stat")
    fields = stat[stat.rindex(")") + 2 :].split()
    return (int(fields[11]) + int(fields[12])) * _TICK_MS


def jit_cpu_ms(pid: int) -> float:
    """CPU time of a JVM's JIT compiler threads, in ms. Compilation keeps
    running for minutes after start-up and its CPU time varies from
    process to process, so it is reported apart from the work's."""
    root = f"/proc/{pid}/task"
    try:
        tids = os.listdir(root)
    except OSError as e:
        raise CollectionError(f"cannot list {root}: {e}") from e
    total = 0.0
    for tid in tids:
        try:
            comm = _read(f"{root}/{tid}/comm")
            if "CompilerThre" in comm:
                total += cpu_ms(f"{pid}/task/{tid}")
        except CollectionError:
            continue  # the thread exited between listing and reading
    return total


def peak_rss_mb(pid: int | str) -> float:
    for line in _read(f"/proc/{pid}/status").splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise CollectionError(f"no VmHWM in /proc/{pid}/status")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot."""
    first = _read("/proc/stat").splitlines()[0].split()
    if first[0] != "cpu" or len(first) < 9:
        raise CollectionError("unexpected /proc/stat layout")
    vals = [int(v) for v in first[1:]]
    # guest time is already counted in user time
    return vals[7], sum(vals[:8])


def loadavg() -> list[float]:
    return [float(v) for v in _read("/proc/loadavg").split()[:3]]
