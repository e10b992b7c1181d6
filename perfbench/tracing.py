"""Spans recorded around the engine's public entry points.

The tracer patches entry points from outside the engine, keeps every span
in memory and writes them once, at exit. A span is (id, name, start, end,
parent, iteration, phase, attrs); spans of one materialization share the
iteration id and phase. Spans nest on one stack, because a workload
materializes from a single thread.

Span names, by layer:

* ``plans.build`` (the benchmark's graph construction through the fluent
  builders and ``SparkRunner.from_parquet``), ``plans.uuid``,
  ``plans.to_graph``;
* ``runner.plan``, ``runner.dataframe``;
* ``store.<method>`` for each public ``ResultStore`` method,
  ``store.parquet_write`` / ``store.parquet_read`` for Spark parquet I/O
  under a store root;
* ``action`` for the timed materialization itself.
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field
from typing import Any, Callable, Optional


@dataclass
class Span:
    id: int
    name: str
    start: int  # perf_counter_ns
    end: int
    parent: Optional[int]
    iteration: Any
    phase: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> int:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, int]:
    """Span id -> duration minus the part of its interval that its child
    spans cover (children clipped to the parent, overlaps counted once)."""
    by_id = {s.id: s for s in spans}
    children: dict[int, list[tuple[int, int]]] = {}
    for s in spans:
        if s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    out = {}
    for s in spans:
        covered, reach = 0, s.start
        for lo, hi in sorted(children.get(s.id, [])):
            lo = max(lo, reach)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.id] = s.duration - covered
    return out


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0
        self._patches: list[tuple[Any, str, Any]] = []
        self.store_roots: list[str] = []
        self.iteration: Any = None
        self.phase = ""
        self.installed = False
        # Spans are recorded only while a timed action runs; the patched
        # entry points call straight through otherwise.
        self.active = False

    # -- recording ------------------------------------------------------ #

    def call(self, name: str, fn: Callable, *args, attrs=None, **kwargs):
        if not self.active:
            return fn(*args, **kwargs)
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        span_attrs = {} if attrs is None else attrs
        self._stack.append(sid)
        start = time.perf_counter_ns()
        try:
            result = fn(*args, **kwargs)
            return result
        finally:
            end = time.perf_counter_ns()
            self._stack.pop()
            self.spans.append(
                Span(sid, name, start, end, parent, self.iteration, self.phase,
                     span_attrs)
            )

    def _patch(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, replacement)

    def _wrap(self, owner, attr: str, name: str, attrs_fn=None,
              keep_result: bool = False) -> None:
        original = owner.__dict__[attr]
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return original(*args, **kwargs)
            attrs = {} if attrs_fn is None else attrs_fn(*args, **kwargs)
            result = tracer.call(name, original, *args, attrs=attrs, **kwargs)
            if keep_result:
                attrs["result"] = result
            return result

        wrapper.__wrapped__ = original
        self._patch(owner, attr, wrapper)

    # -- entry points --------------------------------------------------- #

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from krnel_graph_spark.plans.op_spec import OpSpec
        from krnel_graph_spark.runners.spark_runner import SparkRunner
        from krnel_graph_spark.runners.store import ResultStore

        tracer = self
        uuid_prop = OpSpec.__dict__["uuid"]
        self._patch(
            OpSpec, "uuid",
            property(lambda op: tracer.call("plans.uuid", uuid_prop.fget, op)),
        )
        self._wrap(OpSpec, "to_graph", "plans.to_graph")
        self._wrap(
            SparkRunner, "plan", "runner.plan",
            lambda runner, op: {
                "op": type(op).__name__,
                "lowered": op.uuid not in runner._plans,
            },
        )
        self._wrap(SparkRunner, "dataframe", "runner.dataframe")
        for attr, value in list(vars(ResultStore).items()):
            if attr.startswith("_") or not callable(value):
                continue
            if attr == "is_done":
                self._wrap(ResultStore, attr, "store.is_done", keep_result=True)
            elif attr == "write_status":
                self._wrap(ResultStore, attr, "store.write_status",
                           lambda store, uuid, status_json: {"bytes": len(status_json)})
            else:
                self._wrap(ResultStore, attr, f"store.{attr}")

        def under_store(*paths) -> bool:
            return any(
                isinstance(p, str) and p.startswith(root)
                for p in paths for root in tracer.store_roots
            )

        write, read = DataFrameWriter.parquet, DataFrameReader.parquet

        def traced_write(writer, path, *args, **kwargs):
            if tracer.active and under_store(path):
                return tracer.call("store.parquet_write", write, writer, path,
                                   *args, **kwargs)
            return write(writer, path, *args, **kwargs)

        def traced_read(reader, *paths, **kwargs):
            if tracer.active and under_store(*paths):
                return tracer.call("store.parquet_read", read, reader, *paths,
                                   **kwargs)
            return read(reader, *paths, **kwargs)

        self._patch(DataFrameWriter, "parquet", traced_write)
        self._patch(DataFrameReader, "parquet", traced_read)
        self.installed = True

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)
        self.installed = False

    def write(self, path) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def layer_metrics(spans: list[Span]) -> dict[str, float]:
    """Per-layer totals over one phase's spans (times in ms)."""
    selfs = self_times(spans)

    def self_ms(*names: str) -> float:
        return sum(selfs[s.id] for s in spans if s.name in names) / 1e6

    done = [s.attrs["result"] for s in spans if s.name == "store.is_done"]
    hits, misses = sum(1 for d in done if d), sum(1 for d in done if not d)
    lowered = sum(1 for s in spans if s.name == "runner.plan" and s.attrs["lowered"])
    store_methods = {s.name for s in spans if s.name.startswith("store.")} - {
        "store.parquet_write", "store.parquet_read"
    }
    return {
        "plans.build_ms": self_ms("plans.build"),
        "plans.uuid_ms": self_ms("plans.uuid"),
        "plans.to_graph_ms": self_ms("plans.to_graph"),
        "plans.status_bytes": sum(
            s.attrs["bytes"] for s in spans if s.name == "store.write_status"
        ),
        "runner.plan_self_ms": self_ms("runner.plan", "runner.dataframe"),
        "runner.ops_lowered": lowered,
        "runner.ops_computed": lowered - hits,
        "store.hits": hits,
        "store.misses": misses,
        "store.hit_ratio": hits / (hits + misses) if done else 0.0,
        "store.parquet_write_ms": self_ms("store.parquet_write"),
        "store.parquet_read_ms": self_ms("store.parquet_read"),
        "store.sidecar_ms": self_ms(*store_methods),
    }
