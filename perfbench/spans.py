"""In-memory span tracer that wraps the program's layer functions from
outside.

A span records name, layer, start, end, parent span and operation id.
Spans stay in a list until ``dump`` writes them as JSON at exit.
Wrapping replaces a function object wherever a module of the package
binds it, so a caller that imported the name directly (``engine.py``
imports ``filters.translate`` as ``translate_filter``) still reaches the
wrapper. Nothing here is installed unless the benchmark runs with
``--trace 1``.
"""

from __future__ import annotations

import collections
import functools
import json
import sys
import time
from collections.abc import Callable
from contextlib import contextmanager

from stats import self_times

PACKAGE = "aiotcvectordb_spark"

# Spans of these layers build DataFrames; Spark jobs they launch are
# tagged as build-time jobs of the current operation.
BUILD_LAYERS = ("operators", "qfam")


class Tracer:
    def __init__(self, set_job_group: Callable[[str], None] | None = None) -> None:
        self.spans: list[dict] = []
        self.counts: dict[int, collections.Counter] = collections.defaultdict(
            collections.Counter
        )
        self._stack: list[int] = []
        self._op: int | None = None
        self._set_job_group = set_job_group
        self._build_depth = 0
        self._undo: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        tag_build = layer in BUILD_LAYERS and self._op is not None
        if tag_build:
            if self._build_depth == 0 and self._set_job_group:
                self._set_job_group(f"pb{self._op}-build")
            self._build_depth += 1
        try:
            yield rec
        finally:
            if tag_build:
                self._build_depth -= 1
                if self._build_depth == 0 and self._set_job_group:
                    self._set_job_group(f"pb{self._op}")
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, op_id: int, name: str, layer: str):
        """Root span of one benchmark operation; Spark jobs launched in it
        run under job group ``pb<op_id>``."""
        self._op = op_id
        if self._set_job_group:
            self._set_job_group(f"pb{op_id}")
        try:
            with self.span(name, layer) as rec:
                yield rec
        finally:
            self._op = None
            if self._set_job_group:  # jobs between operations belong to none
                self._set_job_group("untimed")

    def count(self, key: str, n: int = 1) -> None:
        if self._op is not None:
            self.counts[self._op][key] += n

    # -- wrapping -----------------------------------------------------------

    def wrapper(self, fn: Callable, name: str, layer: str,
                on_call: Callable | None = None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if on_call is not None:
                on_call(self, args, kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def patch_method(self, cls: type, attr: str, name: str, layer: str,
                     on_call: Callable | None = None) -> None:
        """Wrap ``cls.attr``; an inherited method is shadowed on ``cls``."""
        orig = getattr(cls, attr)
        self._undo.append((cls, attr, cls.__dict__.get(attr)))
        setattr(cls, attr, self.wrapper(orig, name, layer, on_call))

    def patch_function(self, module: str, attr: str, name: str, layer: str,
                       on_call: Callable | None = None) -> int:
        """Replace ``module.attr`` in every loaded module of the package
        that binds the same function object; returns how many bindings
        were replaced."""
        orig = getattr(sys.modules[module], attr)
        traced = self.wrapper(orig, name, layer, on_call)
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._undo.append((mod, key, orig))
                    setattr(mod, key, traced)
                    n += 1
        return n

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    # -- reporting ----------------------------------------------------------

    def layer_totals(self) -> dict[int, dict[str, dict[str, float]]]:
        """Per operation: for each layer, ``self`` (seconds of self time),
        ``incl`` (seconds inside outermost spans of that layer) and
        ``calls`` (spans opened)."""
        selfs = self_times(self.spans)
        out: dict = collections.defaultdict(
            lambda: collections.defaultdict(lambda: {"self": 0.0, "incl": 0.0, "calls": 0})
        )
        for i, s in enumerate(self.spans):
            if s["op"] is None:
                continue
            acc = out[s["op"]][s["layer"]]
            acc["self"] += selfs[i]
            acc["calls"] += 1
            p = s["parent"]
            while p is not None and self.spans[p]["layer"] != s["layer"]:
                p = self.spans[p]["parent"]
            if p is None:  # outermost span of its layer in this op
                acc["incl"] += s["end"] - s["start"]
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f)
