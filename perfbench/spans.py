"""Spans and counts around the calls into each engine layer.

The untraced run uses ``Tracer(enabled=False)``, whose spans cost one
attribute check.  The traced run wraps the layers' public functions
(``install``), tags each operation's Spark jobs with a job group, and
keeps every span in memory until ``write`` dumps them at exit.

A span is (name, start, end, parent, op): ``parent`` is the index of the
enclosing span, ``op`` the operation id that every span of one
operation shares.  A layer's per-layer numbers are sums over its spans.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    overhead_s: float = 0.0  # time the traced run spends on its own bookkeeping
    op: str | None = None  # id of the operation in progress
    staging_depth: int = 0
    wrapped: list[tuple[object, object]] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + n

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "counts": self.counts,
                },
                f,
            )


def _staged_wrapper(tracer: Tracer, span_name: str, fn):
    """Wrap a staging entry point: a call is a hit unless it invokes the
    ``build`` callable it was handed.  ``staged_table`` falls back to
    ``staged`` internally; only the outermost call is counted."""

    def traced(spark, name, sf_dir, build, *args, **kwargs):
        built = []

        def counting_build():
            built.append(1)
            return build()

        tracer.staging_depth += 1
        try:
            with tracer.span(span_name):
                out = fn(spark, name, sf_dir, counting_build, *args, **kwargs)
        finally:
            tracer.staging_depth -= 1
        if tracer.staging_depth == 0:
            tracer.count("ops.staging.calls")
            if not built:
                tracer.count("ops.staging.hits")
        return out

    traced.__wrapped__ = fn
    return traced


def install(tracer: Tracer) -> None:
    """Wrap the layers' public functions that the engine calls itself.

    Query modules bind these helpers by name on import, so the defining
    modules are patched before the registry imports the query modules,
    and ``rebind`` later replaces any binding made before that."""
    from wsu_cpts_415_spark.io import tables
    from wsu_cpts_415_spark.ops import staging
    from wsu_cpts_415_spark.streaming import jobs

    targets = [
        (tables, "load_table", tracer.wrap("io.tables.load_table", tables.load_table)),
        (jobs, "run_available_now",
         tracer.wrap("streaming.run_available_now", jobs.run_available_now)),
    ]
    for fname in ("staged", "staged_table", "staged_model"):
        targets.append(
            (staging, fname,
             _staged_wrapper(tracer, f"ops.staging.{fname}", getattr(staging, fname)))
        )
    for module, attr, wrapper in targets:
        setattr(module, attr, wrapper)
    tracer.counts.setdefault("ops.staging.calls", 0)
    tracer.counts.setdefault("ops.staging.hits", 0)
    tracer.wrapped.extend((w.__wrapped__, w) for _, _, w in targets)


def rebind(tracer: Tracer) -> None:
    """Point every module-level binding of a wrapped function, in every
    loaded engine module, at its wrapper."""
    swaps = {id(orig): wrapper for orig, wrapper in tracer.wrapped}
    for mod_name, module in list(sys.modules.items()):
        if not mod_name.startswith("wsu_cpts_415_spark") or module is None:
            continue
        for attr, value in list(vars(module).items()):
            wrapper = swaps.get(id(value))
            if wrapper is not None and wrapper is not value:
                setattr(module, attr, wrapper)
