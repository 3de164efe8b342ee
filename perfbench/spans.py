"""Outside-in tracing: spans recorded around calls into each layer's public
surface, from the benchmark's own wrappers. Nothing in ``dariadb_spark``
is changed; the wrappers are handed to the public constructors
(``TsEngine(spark, source, store, scheme)``, ``TsServer(engine)``).

A span is ``(id, parent, name, start, end, attrs)``. Spans stay in memory
and are reduced to per-layer metrics (or written out) when the run ends.
A layer's self time is its span's duration minus the part of that
interval its child spans cover.

Parents: a thread-local stack inside one thread; across the TCP hop, each
client connection announces its index once (a ``scheme_id_by_param``
lookup of ``CLIENT_TAG + k``), so server-side spans on that connection's
handler thread take the client's open request span as their parent.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

CLIENT_TAG = "perfbench.client."
READ_VERBS = (
    "read_time_point", "current_value", "read_interval", "stat", "calc",
    "downsample", "read_interval_by_pattern",
)
ENGINE_VERBS = READ_VERBS + ("append",)


def parquet_stats(path: Path) -> tuple[int, int]:
    """(parquet file count, bytes) under a store directory."""
    n = size = 0
    for f in path.rglob("*.parquet"):
        n += 1
        size += f.stat().st_size
    return n, size


class Tracer:
    """Span recorder for one run; records nothing while ``on`` is false."""

    def __init__(self, sc):
        self.on = False
        self.sc = sc
        self.spans: list[list] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.client_span: dict[int, int] = {}
        self.thread_client: dict[int, int] = {}

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> int | None:
        stack = self._stack()
        if stack:
            return stack[-1][0]
        k = self.thread_client.get(threading.get_ident())
        return None if k is None else self.client_span.get(k)

    @contextmanager
    def span(self, name: str, client: int | None = None, **attrs):
        if not self.on:
            yield attrs
            return
        rec = [next(self._ids), self._parent(), name, time.perf_counter(), None, attrs]
        stack = self._stack()
        stack.append(rec)
        if client is not None:
            self.client_span[client] = rec[0]
        try:
            yield attrs
        finally:
            rec[4] = time.perf_counter()
            stack.pop()
            if client is not None:
                self.client_span.pop(client, None)
            with self._lock:
                self.spans.append(rec)

    # -- ops and job groups ----------------------------------------------------
    def begin_op(self, verb: str | None, group: str) -> None:
        """Start an operation on this thread: later action spans carry its
        verb, and the Spark jobs it runs are tagged with ``group``
        (pinned-thread mode keeps job groups per thread)."""
        self._local.op = verb
        self.sc.setJobGroup(group, group)

    def job_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, completed tasks) Spark ran under one job group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
        return len(jobs), len(stages), tasks

    # -- reduction -------------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's intervals."""
        children = defaultdict(list)
        for s in self.spans:
            if s[1] is not None:
                children[s[1]].append((s[3], s[4]))
        out = {}
        for sid, _, _, t0, t1, _ in self.spans:
            covered, end = 0.0, t0
            for a, b in sorted(children.get(sid, ())):
                a, b = max(a, end), min(b, t1)
                if b > a:
                    covered += b - a
                    end = b
            out[sid] = (t1 - t0) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, parent, name, t0, t1, attrs in sorted(self.spans, key=lambda s: s[3]):
                fh.write(json.dumps({
                    "id": sid, "parent": parent, "name": name,
                    "start": t0, "end": t1, "attrs": attrs,
                }, default=str) + "\n")


# -- wrappers around the public surface ---------------------------------------

class TracedStore:
    """Forwarding ``TsStore``: times ``read``/``append``/``compact``/
    ``erase_old`` and counts parquet files and bytes around each."""

    def __init__(self, store, tracer: Tracer):
        self._store = store
        self._t = tracer

    def __getattr__(self, name):
        return getattr(self._store, name)

    def read(self):
        if not self._t.on:
            return self._store.read()
        files, _ = parquet_stats(self._store.data_dir)
        with self._t.span("sources.read", files=files):
            return self._store.read()

    def _write_call(self, name, fn, *args, **kwargs):
        if not self._t.on:
            return fn(*args, **kwargs)
        files0, bytes0 = parquet_stats(self._store.data_dir)
        with self._t.span(name) as attrs:
            out = fn(*args, **kwargs)
        files1, bytes1 = parquet_stats(self._store.data_dir)
        attrs.update(files_before=files0, files_after=files1,
                     bytes_before=bytes0, bytes_after=bytes1)
        return out

    def append(self, meas, isolated: bool = False):
        return self._write_call("sources.append", self._store.append, meas, isolated=isolated)

    def compact(self, *args, **kwargs):
        return self._write_call("sources.compact", self._store.compact, *args, **kwargs)

    def erase_old(self, cutoff_ms: int):
        return self._write_call("sources.erase_old", self._store.erase_old, cutoff_ms)


class TracedScheme:
    """Forwarding series catalog: times ``add_param`` and ``match``, and
    takes the client-index announcement (see module docstring)."""

    def __init__(self, scheme, tracer: Tracer):
        self._scheme = scheme
        self._t = tracer

    def __getattr__(self, name):
        return getattr(self._scheme, name)

    def add_param(self, name: str) -> int:
        with self._t.span("scheme.add_param"):
            return self._scheme.add_param(name)

    def match(self, pattern: str):
        with self._t.span("scheme.match"):
            return self._scheme.match(pattern)

    def id_by_param(self, name: str):
        if name.startswith(CLIENT_TAG):
            self._t.thread_client[threading.get_ident()] = int(name[len(CLIENT_TAG):])
            return None
        return self._scheme.id_by_param(name)


class TracedEngine:
    """Forwarding engine handed to ``TsServer``: each verb opens an op
    (job group + span ``engine.<verb>``). The verb only builds the lazy
    plan; its execution is the action span the server's collect opens."""

    def __init__(self, engine, tracer: Tracer):
        self._engine = engine
        self._t = tracer
        self._ops = itertools.count(1)
        self.ops: list[dict] = []

    def __getattr__(self, name):
        attr = getattr(self._engine, name)
        if name not in ENGINE_VERBS or not self._t.on:
            return attr

        def verb(*args, **kwargs):
            op = {"verb": name, "group": f"perfbench-op-{next(self._ops)}"}
            self._t.begin_op(name, op["group"])
            with self._t.span(f"engine.{name}"):
                out = attr(*args, **kwargs)
            self.ops.append(op)
            return out

        return verb


@contextmanager
def action_spans(tracer: Tracer):
    """Within the block, DataFrame actions (collect, toPandas, parquet
    write) record a span, so execution becomes a child of the op that
    planned it. Nested actions (toPandas falling back to collect) record
    only the outermost."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    originals = []

    def wrap(cls, meth, label):
        orig = getattr(cls, meth)

        def traced(self, *args, **kwargs):
            local = tracer._local
            if not tracer.on or getattr(local, "in_action", False):
                return orig(self, *args, **kwargs)
            local.in_action = True
            try:
                with tracer.span(label, verb=getattr(local, "op", None)):
                    return orig(self, *args, **kwargs)
            finally:
                local.in_action = False

        setattr(cls, meth, traced)
        originals.append((cls, meth, orig))

    wrap(DataFrame, "collect", "action.collect")
    wrap(DataFrame, "toPandas", "action.toPandas")
    wrap(DataFrameWriter, "parquet", "action.write")
    try:
        yield
    finally:
        for cls, meth, orig in originals:
            setattr(cls, meth, orig)
