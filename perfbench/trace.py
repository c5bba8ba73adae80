"""In-memory span recorder for the traced benchmark run.

Spans are recorded by wrapping public functions of the program from
the outside (``Tracer.wrap``); the program itself carries no tracing
code. Each span has a name, start, end, parent, thread and epoch id.
A span opened on a thread with no open span of its own (the crawl's
sink pool) takes the main thread's innermost open span as parent, so
sink writes nest under their epoch. ``self_seconds`` subtracts the
union of the child intervals, which keeps overlapping pool work from
being counted twice.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str
    epoch: int | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.epoch: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = self._stack()
        self._main_thread = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif threading.get_ident() != self._main_thread and self._main_stack:
            parent = self._main_stack[-1]
        else:
            parent = None
        with self._lock:
            sid = len(self.spans)
            sp = Span(sid, name, time.perf_counter(), 0.0, parent,
                      threading.current_thread().name, self.epoch)
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    def wrap(self, owner: object, attr: str, name) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper until
        ``restore``. ``name`` is a span name, or a callable taking the
        call's (args, kwargs) and returning one."""
        original = getattr(owner, attr)
        name_of = name if callable(name) else (lambda a, k: name)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name_of(args, kwargs)):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # ---------------------------------------------------------------- analysis

    def self_seconds(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's
        intervals (clipped to the span)."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            ivs = sorted(
                (max(c.start, sp.start), min(c.end, sp.end))
                for c in children.get(sp.id, [])
            )
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in ivs:
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.id] = sp.seconds - covered
        return out

    def total(self, prefix: str, outermost: bool = True) -> float:
        """Summed inclusive seconds of spans named ``prefix`` or
        ``prefix.*``; with ``outermost`` a span nested in another
        matching span is not counted again."""
        def match(sp: Span) -> bool:
            return sp.name == prefix or sp.name.startswith(prefix + ".")

        by_id = {sp.id: sp for sp in self.spans}
        total = 0.0
        for sp in self.spans:
            if not match(sp):
                continue
            if outermost:
                p, nested = sp.parent, False
                while p is not None:
                    if match(by_id[p]):
                        nested = True
                        break
                    p = by_id[p].parent
                if nested:
                    continue
            total += sp.seconds
        return total

    def count(self, name: str) -> int:
        return sum(1 for sp in self.spans if sp.name == name)

    def layer_self_seconds(self, layers: list[str]) -> dict[str, float]:
        """Self seconds summed per layer, a layer being the longest
        listed prefix of the span name."""
        selfs = self.self_seconds()
        out = {layer: 0.0 for layer in layers}
        for sp in self.spans:
            best = max(
                (l for l in layers if sp.name == l or sp.name.startswith(l + ".")),
                key=len, default=None,
            )
            if best is not None:
                out[best] += selfs[sp.id]
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_seconds()
        t0 = min((sp.start for sp in self.spans), default=0.0)
        rows = []
        for sp in self.spans:
            d = asdict(sp)
            d["start"] -= t0
            d["end"] -= t0
            d["self_s"] = selfs[sp.id]
            rows.append(d)
        with open(path, "w") as f:
            json.dump(rows, f)
