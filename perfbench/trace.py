"""Spans and counters for the traced run, read from outside the engine.

Nothing here changes engine code. Spans come from wrappers that the
benchmark installs around the public functions of each layer; counters
come from Spark's own status stores, a ``StreamingQueryListener``, a
py4j command counter and the engine's scratch directory. Everything is
kept in memory and summarized when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import statistics
import sys
import threading
import time

from py4j.protocol import Py4JJavaError

PKG = "flink_project_userbehavioranalysis_spark"

# (module, function, layer) wrapped with a span; every module-level
# binding of the same function object (``from x import f``) is wrapped too.
SPANNED = [
    (f"{PKG}.io", "cache_events", "io"),
    (f"{PKG}.io", "load_events", "io"),
    (f"{PKG}.io", "load_table", "io"),
    (f"{PKG}.streaming.replay", "events_stream", "stream"),
    (f"{PKG}.streaming.replay", "run_update_merge", "stream"),
    (f"{PKG}.streaming.replay", "run_update_collect", "stream"),
    (f"{PKG}.streaming.replay", "run_append_memory", "stream"),
    (f"{PKG}.operators.maintenance", "build_mv", "write"),
    (f"{PKG}.operators.maintenance", "refresh_mv", "write"),
]
WRITER_METHODS = ["parquet", "orc", "json", "save"]  # every writer the engine calls


class Tracer:
    """Span store plus the wrappers that feed it.

    Wrappers stay installed for the whole traced run and record only
    while ``active`` is set, so untraced passes of the same run pay one
    attribute check per wrapped call."""

    def __init__(self):
        self.active = False
        self.spans: list[dict] = []
        self.invocation: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._undo: list = []
        self.counting = False
        self.py4j_calls = 0

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "layer": layer,
            "inv": self.invocation,
            "parent": stack[-1]["id"] if stack else self._root(),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def _root(self):
        # spans opened on a callback thread (foreachBatch, listeners)
        # hang off the invocation's root span
        if self.invocation is None:
            return None
        for rec in reversed(self.spans):
            if rec["parent"] is None and rec["inv"] == self.invocation:
                return rec["id"]
        return None

    def _wrap(self, fn, name, layer):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    def install(self, gateway_client) -> None:
        """Wrap the layer functions and count py4j commands."""
        from pyspark.sql.readwriter import DataFrameWriter

        for mod_name, fn_name, layer in SPANNED:
            fn = getattr(importlib.import_module(mod_name), fn_name)
            wrapped = self._wrap(fn, f"{layer}.{fn_name}", layer)
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "")
                if not (name.startswith(PKG) or name == "__spark_entry__"):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, wrapped)
                        self._undo.append((mod, attr, fn))
        for meth in WRITER_METHODS:
            fn = getattr(DataFrameWriter, meth)
            setattr(DataFrameWriter, meth, self._wrap(fn, f"write.{meth}", "write"))
            self._undo.append((DataFrameWriter, meth, fn))

        send = gateway_client.send_command

        def counted(command, *args, **kwargs):
            # "m" commands are py4j's garbage-collection messages; they
            # follow Python's GC, not the engine, so they are not counted
            if self.counting and threading.get_ident() == self._main and not command.startswith("m\n"):
                self.py4j_calls += 1
            return send(command, *args, **kwargs)

        gateway_client.send_command = counted
        self._undo.append((gateway_client, "send_command", None))

    def uninstall(self) -> None:
        for owner, attr, val in reversed(self._undo):
            if val is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, val)
        self._undo.clear()

    def self_times(self, invocations: set[str]) -> dict[str, float]:
        """Per-layer self time (span minus its children) summed over ``invocations``."""
        spans = [s for s in self.spans if s["inv"] in invocations and "end" in s]
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = max(0.0, s["end"] - s["start"] - child[s["id"]])
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out


class ProgressLog:
    """Micro-batch progress of every streaming query, as plain dicts."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                rec = {
                    "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    "addbatch_ms": p.durationMs.get("addBatch", 0),
                    "input_rows": p.numInputRows,
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                    "commit_ms": sum(o.commitTimeMs for o in ops),
                    "dropped_rows": sum(o.numRowsDroppedByWatermark for o in ops),
                }
                with log._lock:
                    log.batches.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def since(self, mark: int) -> list[dict]:
        with self._lock:
            return self.batches[mark:]


class StatusReader:
    """Deltas of Spark's status store across one invocation.

    Job ids are global and increase by one: the reader reads every id
    from the last one it saw up to the scheduler's next id."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.scheduler = jsc.dagScheduler()
        self.mapper = sc._jvm.org.apache.spark.status.api.v1.JacksonMessageWriter().mapper()
        self.next_job = 0
        self.seen_stages: set[int] = set()  # a stage reused by a later job counts once
        self.drain()
        self.read()  # skip everything before the first invocation

    def drain(self) -> None:
        self.bus.waitUntilEmpty()

    def _job(self, job_id: int):
        try:
            return json.loads(self.mapper.writeValueAsString(self.store.job(job_id)))
        except Py4JJavaError:
            return None

    def read(self) -> dict:
        """Counters of every job since the last read."""
        out = {k: 0 for k in (
            "jobs", "stages", "tasks", "failed_tasks", "task_ms", "cpu_ns", "gc_ms",
            "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        )}
        end = self.scheduler.numTotalJobs()
        jobs = [self._job(i) for i in range(self.next_job, end)]
        self.next_job = end
        for job in jobs:
            if job is None:
                continue
            out["jobs"] += 1
            for sid in job["stageIds"]:
                if sid in self.seen_stages:
                    continue
                try:
                    st = json.loads(self.mapper.writeValueAsString(self.store.lastStageAttempt(sid)))
                except Py4JJavaError:
                    continue
                if st["status"] == "SKIPPED":
                    continue
                self.seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                out["failed_tasks"] += st["numFailedTasks"]
                out["task_ms"] += st["executorRunTime"]
                out["cpu_ns"] += st["executorCpuTime"]
                out["gc_ms"] += st["jvmGcTime"]
                out["input_bytes"] += st["inputBytes"]
                out["shuffle_read_bytes"] += st["shuffleReadBytes"]
                out["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                out["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        return out


def plan_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s query (ms)."""
    jvm = df.sparkSession.sparkContext._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        df._jdf.queryExecution().tracker().phases()
    )
    return float(sum(v.durationMs() for v in phases.values()))


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def written_since(root: str, since_ns: int) -> tuple[int, int]:
    """(bytes, files) of files under ``root`` modified at or after ``since_ns``."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            try:
                st = os.stat(os.path.join(dirpath, n))
            except FileNotFoundError:
                continue
            if st.st_mtime_ns >= since_ns:
                size += st.st_size
                files += 1
    return size, files


def pct(values: list[float], q: float) -> float:
    """The ``q`` quantile (0..1) by linear interpolation; 0 for no values."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]
