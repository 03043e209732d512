"""Span tracing installed from the benchmark's side.

``Tracer.install()`` wraps public functions of ``dfsql_spark`` (and the
PySpark calls it makes at the layer boundaries) by replacing module and
class attributes, and swaps the two module-level locks for timing
wrappers.  Nothing inside ``dfsql_spark`` changes.  Each wrapper records a
span (id, parent, op id, name, start, end) in memory; ``dump()`` writes
them out when the run ends.

Only work inside ``Tracer.op(i)`` is recorded.  ``uninstall()`` restores
every original, so a run can alternate traced and untraced windows.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, class or None, attribute, span name)
FUNCTION_TARGETS = (
    ("dfsql_spark", None, "sql_query", "oneshot.sql_query"),
    ("dfsql_spark.datasource", None, "try_parse_command", "commands.parse"),
    ("dfsql_spark.datasource", None, "rewrite", "dialect.rewrite"),
    ("dfsql_spark.datasource", None, "read_file", "tables.read_file"),
    ("dfsql_spark.datasource", "DataSource", "query", "datasource.query"),
    ("dfsql_spark.datasource", "DataSource", "add_table", "datasource.add_table"),
    ("dfsql_spark.functions.registry", "FunctionRegistry", "register", "registry.register"),
    ("dfsql_spark.extensions", None, "maybe_add_from_to_query", "extensions.inject_from"),
    ("dfsql_spark.sources.writers", None, "write_table", "writers.write"),
    ("dfsql_spark.sources.writers", None, "write_training_shards", "writers.write"),
)
LOCK_TARGETS = (
    ("dfsql_spark.datasource", "_CASE_SENSITIVITY_LOCK", "datasource.lock_wait"),
    ("dfsql_spark.extensions", "_ACCESSOR_VIEW_LOCK", "extensions.lock_wait"),
)


class TimedLock:
    """Stands in for a ``threading.Lock``; records the wait to acquire."""

    def __init__(self, lock, name: str, tracer: "Tracer") -> None:
        self._lock = lock
        self._name = name
        self._tracer = tracer

    def acquire(self, blocking: bool = True, timeout: float = -1) -> bool:
        start = time.perf_counter()
        got = self._lock.acquire(blocking, timeout)
        self._tracer.record(self._name, start, time.perf_counter())
        return got

    def release(self) -> None:
        self._lock.release()

    def locked(self) -> bool:
        return self._lock.locked()

    def __enter__(self):
        self.acquire()
        return self

    def __exit__(self, *exc) -> None:
        self.release()


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, parent, op, name, start, end)
        self.counts: list[tuple] = []  # (op, name, n)
        self.pins: dict[tuple, list] = {}  # (cache id, table) -> [op that pinned, hits since]
        self._caches: list = []  # keeps pinned caches alive so ids stay unique
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._restore: list[tuple] = []

    # -- op and span context ------------------------------------------------
    def _active(self) -> bool:
        return getattr(self._local, "traced", False)

    @contextmanager
    def op(self, op_id):
        self._local.op, self._local.traced, self._local.stack = op_id, True, []
        try:
            yield
        finally:
            self._local.traced = False

    @contextmanager
    def span(self, name: str):
        if not self._active():
            yield
            return
        sid = next(self._ids)
        stack = self._local.stack
        parent = stack[-1] if stack else 0
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            stack.pop()
            self.spans.append((sid, parent, self._local.op, name, start, time.perf_counter()))

    def record(self, name: str, start: float, end: float) -> None:
        """A leaf span whose interval the caller measured."""
        if self._active():
            stack = self._local.stack
            self.spans.append((next(self._ids), stack[-1] if stack else 0, self._local.op, name, start, end))

    def count(self, name: str, n: int = 1) -> None:
        if self._active():
            self.counts.append((self._local.op, name, n))

    # -- installing wrappers --------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        own = vars(owner)
        self._restore.append((owner, attr, own.get(attr), attr in own))
        setattr(owner, attr, wrapper)

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patch(owner, attr, wrapper)

    def install(self, spark) -> None:
        for module, cls, attr, name in FUNCTION_TARGETS:
            owner = importlib.import_module(module)
            if cls:
                owner = getattr(owner, cls)
            self._wrap(owner, attr, name)
        for module, attr, name in LOCK_TARGETS:
            mod = importlib.import_module(module)
            self._patch(mod, attr, TimedLock(getattr(mod, attr), name, self))
        # PySpark calls at the datasource boundary, on the classes in use
        self._wrap(type(spark), "sql", "datasource.analyze")
        self._wrap(type(spark.range(1)), "toPandas", "datasource.collect")
        self._wrap(type(spark.catalog), "dropTempView", "datasource.drop")
        self._wrap_cache_touch()
        self._wrap_py4j()

    def _wrap_cache_touch(self) -> None:
        from dfsql_spark.cache import MemoryCache

        orig = MemoryCache.touch
        tracer = self

        @functools.wraps(orig)
        def touch(cache, spark, name):
            if not tracer._active():
                return orig(cache, spark, name)
            hits = cache.hits
            with tracer.span("cache.touch"):
                out = orig(cache, spark, name)
            key = (id(cache), name)
            if cache.hits > hits:
                tracer.count("cache.hits")
                if key in tracer.pins:
                    tracer.pins[key][1] += 1
            else:
                tracer.count("cache.misses")
                tracer.pins[key] = [tracer._local.op, 0]
                tracer._caches.append(cache)
            return out

        self._patch(MemoryCache, "touch", touch)

    def _wrap_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        tracer = self

        @functools.wraps(orig)
        def send_command(conn, command, *args, **kwargs):
            tracer.count("py4j.calls")
            return orig(conn, command, *args, **kwargs)

        self._patch(ClientServerConnection, "send_command", send_command)

    def uninstall(self) -> None:
        for owner, attr, orig, owned in reversed(self._restore):
            if owned:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._restore.clear()

    # -- results ------------------------------------------------------------
    def layer_totals(self, op_ids) -> dict[str, dict]:
        """Per span name: calls, total seconds and self seconds (duration
        minus the time covered by direct children), over ``op_ids``."""
        keep = set(op_ids)
        spans = [s for s in self.spans if s[2] in keep]
        child_time: dict[int, float] = defaultdict(float)
        for _sid, parent, _op, _name, start, end in spans:
            if parent:
                child_time[parent] += end - start
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for sid, _parent, _op, name, start, end in spans:
            d = out[name]
            d["calls"] += 1
            d["total_s"] += end - start
            d["self_s"] += max(0.0, end - start - child_time.get(sid, 0.0))
        return dict(out)

    def count_totals(self, op_ids) -> dict[str, int]:
        keep = set(op_ids)
        out: dict[str, int] = defaultdict(int)
        for op, name, n in self.counts:
            if op in keep:
                out[name] += n
        return dict(out)

    def pins_never_hit(self, op_ids) -> int:
        """Tables pinned by one of ``op_ids`` and never hit afterwards."""
        keep = set(op_ids)
        return sum(1 for op, hits in self.pins.values() if op in keep and hits == 0)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sid, parent, op, name, start, end in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "op": op, "name": name,
                                    "start": start, "end": end}) + "\n")
