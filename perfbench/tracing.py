"""Spans for the traced run, recorded from wrappers around the engine's
public functions.

Each query execution is one span tree:

    query                      the closed loop's wall time for the query
      operators.call           the registered query function
        catalog.load_table / catalog.register_views /
        catalog.scan_parallelism / catalog.parquet
        operators.checkpoint / operators.collect / operators.to_pandas
        sources.write          DataFrameWriter save/parquet in the call
        streaming.run          bounded Structured Streaming runs
      operators.action         the final noop-sink write

A span's self time is its duration minus the part of it its children
cover, so the self times of one tree sum to the query's wall time; the
query span's own self time is reported as `unattributed`.

Wrappers record only while a traced query's call is running and pass
straight through otherwise, so the same process can run untraced passes.
They must be installed before any operator module is imported, since
those bind `load_table` and friends by name at import time;
`check_bound` verifies after the registry has loaded that no engine
module kept an unwrapped original.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager

LAYER_OF = {
    "query": "unattributed",
    "operators.call": "operators.call",
    "operators.action": "operators.action",
    "operators.checkpoint": "operators.checkpoint",
    "operators.collect": "operators.collect",
    "operators.to_pandas": "operators.to_pandas",
    "catalog.load_table": "catalog",
    "catalog.register_views": "catalog",
    "catalog.scan_parallelism": "catalog",
    "catalog.parquet": "catalog",
    "sources.write": "sources",
    "streaming.run": "streaming",
}


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "query", "tag", "attrs")

    def __init__(self, sid, name, start, parent, query, tag):
        self.id = sid
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.query = query
        self.tag = tag
        self.attrs: dict = {}

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": self.parent,
            "query": self.query,
            "pass": self.tag,
            **self.attrs,
        }


class Tracer:
    """In-memory span recorder for one benchmark process."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._query: str | None = None
        self._tag = ""
        self.in_call = False

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, time.perf_counter(), parent, self._query, self._tag)
        self.spans.append(sp)
        self._stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        popped = self._stack.pop()
        if popped is not sp:
            raise RuntimeError(f"span {sp.name} closed out of order")

    @contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    @contextmanager
    def query(self, name: str, tag: str):
        self._query, self._tag = name, tag
        try:
            with self.span("query") as sp:
                yield sp
        finally:
            self._query = None

    @contextmanager
    def call(self):
        self.in_call = True
        try:
            with self.span("operators.call"):
                yield
        finally:
            self.in_call = False

    def wrap(self, fn, name: str, after=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.in_call:
                return fn(*args, **kwargs)
            sp = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(sp)
                if after is not None:
                    after(sp, args, kwargs)

        return wrapper

    def write(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.as_dict()) + "\n")


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _record_output(sp: Span, args, kwargs) -> None:
    path = args[1] if len(args) > 1 else kwargs.get("path")
    if isinstance(path, str) and os.path.exists(path):
        sp.attrs["output_bytes"] = _dir_bytes(path)


def install(tracer: Tracer) -> dict[int, str]:
    """Wrap the engine's public layer entry points and return the wrapped
    originals (id -> span name) for `check_bound`.

    The catalog functions and the pyspark classes are patched before
    anything else of the engine is imported: importing `events_stream`
    builds its oracle strings, which imports most operator modules, and
    each of those binds `load_table` and friends by name at import time.
    """
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from tf_datapipeline_spark import catalog

    originals: dict[int, str] = {}

    def patch(owner, attr, name, after=None):
        fn = getattr(owner, attr)
        originals[id(fn)] = name
        setattr(owner, attr, tracer.wrap(fn, name, after))

    patch(catalog, "load_table", "catalog.load_table")
    patch(catalog, "register_views", "catalog.register_views")
    patch(catalog, "adaptive_scan_parallelism", "catalog.scan_parallelism")
    patch(DataFrameReader, "parquet", "catalog.parquet")
    patch(DataFrame, "localCheckpoint", "operators.checkpoint")
    patch(DataFrame, "collect", "operators.collect")
    patch(DataFrame, "toPandas", "operators.to_pandas")
    patch(DataFrameWriter, "save", "sources.write", _record_output)
    patch(DataFrameWriter, "parquet", "sources.write", _record_output)

    from tf_datapipeline_spark.streaming import events_stream

    patch(events_stream, "run_bounded", "streaming.run")
    patch(events_stream, "run_rollup_stream", "streaming.run")
    return originals


def check_bound(originals: dict[int, str]) -> None:
    """Raise if a loaded engine module still holds an unwrapped original
    under any name, so its calls would go untraced."""
    stale = [
        f"{mod}.{attr} ({originals[id(v)]})"
        for mod, module in list(sys.modules.items())
        if mod.startswith("tf_datapipeline_spark")
        for attr, v in vars(module).items()
        if callable(v) and id(v) in originals
    ]
    if stale:
        raise RuntimeError(f"untraced bindings: {stale}")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus its children's durations. Spans open and
    close as a stack (`Tracer.close` enforces it), so children are
    disjoint and inside their parent."""
    out = {sp.id: sp.end - sp.start for sp in spans}
    for sp in spans:
        if sp.parent in out:
            out[sp.parent] -= sp.end - sp.start
    return out
