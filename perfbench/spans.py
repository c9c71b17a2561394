"""In-memory spans around calls into the program's layers.

Wrappers are installed from outside (`Tracer.wrap_class`,
`Tracer.wrap_function`); the program's source is not touched. A span
records name, start, end, parent span and operation id. Spans stay in
memory and are summarised when the run ends. Self time is a span's
duration minus the time its child spans cover.

While `Tracer.active` is False the wrappers call straight through and
record nothing, so one run can time the same work traced and untraced.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from typing import Any, Callable


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.op_id: str | None = None
        # (span_id, parent_id, op_id, name, t0, t1, thread_ident)
        self.spans: list[tuple[int, int | None, str | None, str, float, float, int]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        # (span name, exception class name) -> count
        self.errors: dict[tuple[str, str], int] = defaultdict(int)

    # ---- recording ------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn: Callable, args: tuple, kwargs: dict) -> Any:
        if not self.active:
            return fn(*args, **kwargs)
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        except Exception as e:
            with self._lock:
                self.errors[(name, type(e).__name__)] += 1
            raise
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    (sid, parent, self.op_id, name, t0, t1, threading.get_ident())
                )

    # ---- installation ---------------------------------------------------
    def wrap_function(self, owner: Any, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        if getattr(orig, "__perfbench_wrapped__", False):
            return

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(name, orig, args, kwargs)

        wrapper.__perfbench_wrapped__ = True  # type: ignore[attr-defined]
        setattr(owner, attr, wrapper)

    def wrap_class(self, cls: type, layer: str, names: list[str] | None = None) -> None:
        """Wrap the public methods defined on `cls` (or just `names`)."""
        for attr, value in list(vars(cls).items()):
            if names is not None:
                if attr not in names:
                    continue
            elif attr.startswith("_") or not callable(value) or isinstance(value, type):
                continue
            if isinstance(value, (staticmethod, classmethod)):
                continue
            self.wrap_function(cls, attr, f"{layer}.{attr}")

    def wrap_everywhere(self, module: Any, attr: str, name: str) -> None:
        """Wrap a module-level function and every `from x import f` copy
        of it in the program's already-imported modules."""
        orig = getattr(module, attr)
        self.wrap_function(module, attr, name)
        wrapped = getattr(module, attr)
        for mod in list(sys.modules.values()):
            if mod is None or mod is module:
                continue
            if not getattr(mod, "__name__", "").startswith("lakekeeper_spark"):
                continue
            if getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)

    # ---- summaries ------------------------------------------------------
    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total seconds, self seconds."""
        child_time: dict[int, float] = defaultdict(float)
        for sid, parent, _op, _n, t0, t1, _th in self.spans:
            if parent is not None:
                child_time[parent] += t1 - t0
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "s": 0.0, "self_s": 0.0}
        )
        for sid, _parent, _op, name, t0, t1, _th in self.spans:
            rec = out[name]
            rec["calls"] += 1
            rec["s"] += t1 - t0
            rec["self_s"] += max(0.0, (t1 - t0) - child_time[sid])
        return dict(out)

    def by_op(self, prefix: str) -> dict[str | None, float]:
        """Seconds of top-most spans under `prefix`, per operation id
        (nested spans of the same prefix are not counted twice)."""
        names = {sid: name for sid, _p, _o, name, *_ in self.spans}
        out: dict[str | None, float] = defaultdict(float)
        for _sid, parent, op, name, t0, t1, _th in self.spans:
            if not name.startswith(prefix):
                continue
            if parent is not None and names.get(parent, "").startswith(prefix):
                continue
            out[op] += t1 - t0
        return dict(out)

    def parentage(self) -> dict[str, int]:
        """Count of (parent name -> child name) edges, for the report."""
        names = {sid: name for sid, _p, _o, name, *_ in self.spans}
        edges: dict[str, int] = defaultdict(int)
        for _sid, parent, *_rest in self.spans:
            name = _rest[1]
            edges[f"{names.get(parent, '<op>')} > {name}"] += 1
        return dict(sorted(edges.items(), key=lambda kv: -kv[1])[:40])
