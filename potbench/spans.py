"""In-memory span recorder used by the benchmark's wrappers.

A span is (id, parent id, name, start, end, attrs). Spans nest per
thread: a span opened while another is open on the same thread is its
child, so the request span of an HTTP server thread is the ancestor of
every store, storefs and backend span that request caused. Spans are kept
in a list and written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Iterator, Optional


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.enabled = True  # when False, spans are timed by nobody
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        """Time the body; the yielded dict may gain attributes (counts,
        bytes) before the span closes."""
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield attrs
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((sid, parent, name, t0, t1, attrs or None))

    def record(self, name: str, seconds: float, **attrs) -> None:
        """A span that ended now and lasted `seconds`, under the span open
        on this thread (used for the store's own phase callbacks)."""
        if not self.enabled:
            return
        stack = self._stack()
        t1 = time.perf_counter()
        self.spans.append(
            (next(self._ids), stack[-1] if stack else None, name, t1 - seconds, t1, attrs or None)
        )

    def clear(self) -> None:
        self.spans = []

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class SpanIndex:
    """Aggregates over a span list: per-name totals and counts, sums of
    children by parent, and attribute sums."""

    def __init__(self, spans: list) -> None:
        self.by_name: dict[str, list] = defaultdict(list)
        self.children: dict[int, list] = defaultdict(list)
        for s in spans:
            self.by_name[s[2]].append(s)
            if s[1] is not None:
                self.children[s[1]].append(s)

    def count(self, *names: str) -> int:
        return sum(len(self.by_name.get(n, ())) for n in names)

    def total_s(self, *names: str) -> float:
        return sum(s[4] - s[3] for n in names for s in self.by_name.get(n, ()))

    def mean_ms(self, *names: str) -> float:
        n = self.count(*names)
        return self.total_s(*names) / n * 1000.0 if n else 0.0

    def attr_sum(self, names, key: str, under: Optional[set] = None) -> float:
        """Sum of attribute `key` over spans named in `names`, optionally
        only those whose parent is named in `under`."""
        parent_ok = None
        if under is not None:
            parent_ok = {s[0] for n in under for s in self.by_name.get(n, ())}
        total = 0.0
        for n in names:
            for s in self.by_name.get(n, ()):
                if parent_ok is not None and s[1] not in parent_ok:
                    continue
                total += (s[5] or {}).get(key, 0)
        return total

    def self_ms(self, name: str, child_prefixes: tuple[str, ...]) -> float:
        """Mean over spans `name` of duration minus their direct children
        whose names start with one of `child_prefixes`."""
        spans = self.by_name.get(name, ())
        if not spans:
            return 0.0
        total = 0.0
        for s in spans:
            kids = sum(
                c[4] - c[3]
                for c in self.children.get(s[0], ())
                if c[2].startswith(child_prefixes)
            )
            total += (s[4] - s[3]) - kids
        return total / len(spans) * 1000.0
