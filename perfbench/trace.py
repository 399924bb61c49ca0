"""Span tracer for the traced run.

Spans are kept in memory (name, parent, start, end, attributes) and
written out when the run ends. The package is not edited: ``install``
wraps the public functions of each layer, and the DataFrame methods
that materialize state or pull rows to the driver, from here, and
``restore`` puts the originals back.

Span tree: ``step`` -> ``catalog.build`` -> (``tables.load``,
``scoring.apply_spec``, ``operators.materialize``,
``operators.driver_action``, ``streaming.run_available_now``) and
``step`` -> ``sink`` -> ``tables.write``.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import Counter
from contextlib import contextmanager

PACKAGE = "hummingbirddatapipeline_spark"

MATERIALIZE = ("localCheckpoint", "checkpoint", "persist")
DRIVER_ACTIONS = ("collect", "count", "first", "take", "toPandas")

_ABSENT = object()  # marks a method the class inherited rather than defined


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._stack: list[dict] = []
        self._undo: list = []

    @contextmanager
    def span(self, name: str, probe=None, **attrs):
        """Record a span; with ``probe`` (a counter reader), also the
        counter's change over the span as ``attrs["probe_delta"]``."""
        before = probe() if probe else None
        s = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if probe:
                attrs["probe_delta"] = probe() - before

    def inside(self, name: str) -> bool:
        return any(s["name"] == name for s in self._stack)

    def _wrap(self, fn, name: str, when=None, **attrs):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if when is not None and not when():
                return fn(*args, **kwargs)
            with self.span(name, **attrs):
                return fn(*args, **kwargs)

        return wrapped

    def _rebind(self, module: str, attr: str, wrapper) -> None:
        """Replace ``module.attr`` by ``wrapper(original)`` there and in
        every package module that imported it by name."""
        original = getattr(sys.modules[module], attr)
        wrapped = wrapper(original)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(PACKAGE) and mod is not None:
                for key, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, key, wrapped)
                        self._undo.append((mod, key, original))

    def _patch_function(self, module: str, attr: str, name: str) -> None:
        self._rebind(module, attr, lambda fn: self._wrap(fn, name))

    def _patch_method(self, cls, attr: str, name: str, when) -> None:
        self._undo.append((cls, attr, cls.__dict__.get(attr, _ABSENT)))
        setattr(cls, attr, self._wrap(getattr(cls, attr), name, when, method=attr))

    def _count_terms(self, module: str, attr: str) -> None:
        """Count the SQL terms a scoring compiler function emits."""

        def wrapper(fn):
            @functools.wraps(fn)
            def wrapped(*args, **kwargs):
                out = fn(*args, **kwargs)
                layers = out if isinstance(out, list) else [out]
                self.counts["scoring.exprs_n"] += sum(len(x) for x in layers)
                return out

            return wrapped

        self._rebind(module, attr, wrapper)

    def install(self, dataframe_cls) -> None:
        p = PACKAGE
        self._patch_function(f"{p}.tables", "load", "tables.load")
        for fn in ("write_versioned", "write_year_partitioned"):
            self._patch_function(f"{p}.tables", fn, "tables.write")
        self._patch_function(f"{p}.catalog.serving_q", "write_map_export", "tables.write")
        self._patch_function(f"{p}.scoring.compiler", "apply_spec", "scoring.apply_spec")
        for fn in ("compile_layers", "result_projection"):
            self._count_terms(f"{p}.scoring.compiler", fn)
        self._patch_function(
            f"{p}.streaming.core", "run_available_now", "streaming.run_available_now"
        )
        in_step = functools.partial(self.inside, "step")
        for m in MATERIALIZE:
            self._patch_method(dataframe_cls, m, "operators.materialize", in_step)

        def outermost_build_action() -> bool:
            return self.inside("catalog.build") and not self.inside(
                "operators.driver_action"
            )

        for m in DRIVER_ACTIONS:
            self._patch_method(
                dataframe_cls, m, "operators.driver_action", outermost_build_action
            )

    def restore(self) -> None:
        for owner, key, original in reversed(self._undo):
            if original is _ABSENT:
                delattr(owner, key)
            else:
                setattr(owner, key, original)
        self._undo.clear()

    def layer_times(self) -> dict[str, dict[str, float]]:
        """Per span name: count, inclusive seconds and self seconds
        (duration minus the part covered by child spans)."""
        child_s: Counter = Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            d = out.setdefault(s["name"], {"n": 0, "s": 0.0, "self_s": 0.0})
            dur = s["end"] - s["start"]
            d["n"] += 1
            d["s"] += dur
            d["self_s"] += dur - child_s[s["id"]]
        return out


def microbatch_listener(counts: Counter):
    """A StreamingQueryListener that counts micro-batch progress events
    into ``counts["streaming.microbatches_n"]``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            counts["streaming.microbatches_n"] += 1

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
