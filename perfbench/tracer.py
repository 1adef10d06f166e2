"""Outside-in span tracer: wraps public functions of the package from
the benchmark's own code, so nothing inside the package changes.

Each call to a wrapped function is one span (name, parent span, start,
end, input bytes). Spans stay in memory and are written once, by
``dump``, when the run ends. Self time is a span's duration minus the
durations of its direct children (calls are strictly nested on one
thread, so children never overlap).
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections import defaultdict

PACKAGE = "orc_haskell_spark"


class Tracer:
    def __init__(self) -> None:
        # span i: [name, parent index or -1, start, end, nbytes]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- spans
    def _open(self, name: str, nbytes: int) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, parent, time.perf_counter(), None, nbytes])
        i = len(self.spans) - 1
        self._stack.append(i)
        return i

    def _close(self, i: int) -> None:
        self.spans[i][3] = time.perf_counter()
        self._stack.pop()

    def traced_iter(self, name: str, it):
        """Iterate ``it`` with one span around each step, so the time a
        generator spends producing items is attributed to ``name``."""
        it = iter(it)
        while True:
            i = self._open(name, 0)
            try:
                item = next(it)
            except StopIteration:
                return
            finally:
                self._close(i)
            yield item

    def _wrap(self, fn, name, name_fn, nbytes_fn, pre):
        tracer = self

        if inspect.isgeneratorfunction(fn):
            @functools.wraps(fn)
            def gen_wrapper(*args, **kwargs):
                if pre is not None:
                    pre(*args, **kwargs)
                label = name_fn(*args, **kwargs) if name_fn else name
                return (yield from tracer.traced_iter(label,
                                                      fn(*args, **kwargs)))
            return gen_wrapper

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if pre is not None:
                pre(*args, **kwargs)
            label = name_fn(*args, **kwargs) if name_fn else name
            i = tracer._open(label, nbytes_fn(*args, **kwargs)
                             if nbytes_fn else 0)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(i)
        return wrapper

    # -------------------------------------------------------- patching
    def patch(self, owner, attr: str, name: str, name_fn=None,
              nbytes_fn=None, pre=None) -> None:
        """Replace ``owner.attr`` (a module function or a class method)
        with a traced wrapper, and every other module-level binding of
        the same function inside the package (``from x import f``)."""
        fn = getattr(owner, attr)
        wrapper = self._wrap(fn, name, name_fn, nbytes_fn, pre)
        self._set(owner, attr, wrapper)
        if inspect.isclass(owner):
            return
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PACKAGE) or mod is None:
                continue
            for key, val in list(vars(mod).items()):
                if val is fn and mod is not owner:
                    self._set(mod, key, wrapper)

    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def unpatch(self) -> None:
        for owner, key, orig in reversed(self._patches):
            setattr(owner, key, orig)
        self._patches.clear()

    # ----------------------------------------------------- aggregation
    def mark(self) -> int:
        """Index of the next span: pass marks to ``summary`` to
        aggregate only the spans recorded between them."""
        return len(self.spans)

    def self_times(self, start: int = 0, end: int | None = None
                   ) -> list[float]:
        spans = self.spans[start:end]
        own = [s[3] - s[2] for s in spans]
        for s in spans:
            if s[1] >= start:
                own[s[1] - start] -= s[3] - s[2]
        return own

    def summary(self, start: int = 0, end: int | None = None) -> dict:
        """name -> {n, total_s, self_s, bytes} over spans[start:end]."""
        out: dict = defaultdict(lambda: {"n": 0, "total_s": 0.0,
                                         "self_s": 0.0, "bytes": 0})
        for s, own in zip(self.spans[start:end],
                          self.self_times(start, end)):
            agg = out[s[0]]
            agg["n"] += 1
            agg["total_s"] += s[3] - s[2]
            agg["self_s"] += own
            agg["bytes"] += s[4]
        return dict(out)

    def durations(self, name: str, start: int = 0,
                  end: int | None = None) -> list[float]:
        return [s[3] - s[2] for s in self.spans[start:end] if s[0] == name]

    def parent_name(self, span: list) -> str | None:
        return self.spans[span[1]][0] if span[1] >= 0 else None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, parent, t0, t1, nb) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "parent": parent, "name": name,
                                    "start": t0, "end": t1,
                                    "bytes": nb}) + "\n")
