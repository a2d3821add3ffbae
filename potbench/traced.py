"""The benchmark's wrappers around the public store layers.

Each wrapper subclasses the class the store is normally built with and
records one span per call into it; nothing inside ``pot_spark`` changes.
``TracedStore`` can also inject a fault (a stale read or a lost write),
which the benchmark's own tests use to show that the checks catch it.
"""

from __future__ import annotations

import os
import threading
from typing import Optional

from pot_spark.kv.backend import LocalFSBackend
from pot_spark.kv.store import CreateResponse, PotStore
from pot_spark.kv.storefs import LocalStoreFS

from spans import Tracer

FAULTS = ("stale-read", "lost-write")
FAULT_EVERY = 25  # every n-th eligible call misbehaves

# data-plane calls that touch storage; path arithmetic is left out
_PLAIN_FS_CALLS = (
    "exists",
    "isdir",
    "makedirs",
    "rm_file",
    "rmtree",
    "copytree",
    "walk",
    "mtime",
    "upload_tree",
)


class TracedFS(LocalStoreFS):
    """LocalStoreFS with a span per storage call. Each call is one round
    trip on an object store, so the span count is the round-trip count."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def listdir(self, d: str) -> list[str]:
        with self.tracer.span("storefs.listdir") as a:
            out = super().listdir(d)
            a["n"] = len(out)
        return out

    def read_bytes(self, p: str) -> bytes:
        with self.tracer.span("storefs.read_bytes") as a:
            out = super().read_bytes(p)
            a["bytes"] = len(out)
        return out

    def write_bytes(self, p: str, data: bytes) -> None:
        with self.tracer.span("storefs.write_bytes", bytes=len(data)):
            super().write_bytes(p, data)

    def read_parquet(self, p: str, schema):
        with self.tracer.span("storefs.read_parquet", bytes=os.path.getsize(p)):
            return super().read_parquet(p, schema)

    def write_parquet(self, table, p: str) -> None:
        with self.tracer.span("storefs.write_parquet") as a:
            super().write_parquet(table, p)
            a["bytes"] = os.path.getsize(p)


def _traced_fs_call(name: str):
    base = getattr(LocalStoreFS, name)

    def call(self, *args, **kwargs):
        with self.tracer.span("storefs." + name):
            return base(self, *args, **kwargs)

    call.__name__ = name
    return call


for _name in _PLAIN_FS_CALLS:
    setattr(TracedFS, _name, _traced_fs_call(_name))


class TracedBackend(LocalFSBackend):
    """LocalFSBackend with a span per put-if-absent commit attempt."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def put_if_absent(self, target: str, payload: bytes) -> bool:
        with self.tracer.span("backend.put_if_absent", bytes=len(payload)) as a:
            won = super().put_if_absent(target, payload)
            a["won"] = int(won)
        return won


class PhaseTotals:
    """Span listener for ``StoreMetrics``: records each phase as a span
    and keeps per-phase totals over the store's whole life, to be checked
    against the store's own ``/:metrics`` counters. Server threads call
    it concurrently, so the totals are updated under a lock."""

    def __init__(self, tracer: Optional[Tracer]) -> None:
        self.tracer = tracer
        self.seconds: dict[str, float] = {}
        self.calls: dict[str, int] = {}
        self._lock = threading.Lock()

    def __call__(self, name: str, seconds: float) -> None:
        with self._lock:
            self.seconds[name] = self.seconds.get(name, 0.0) + seconds
            self.calls[name] = self.calls.get(name, 0) + 1
        if self.tracer is not None:
            self.tracer.record("store.phase." + name, seconds)

    def snapshot(self) -> dict:
        with self._lock:
            return {"seconds": dict(self.seconds), "calls": dict(self.calls)}


class TracedStore(PotStore):
    """PotStore with a span per public call, and optional fault injection."""

    def __init__(self, spark, root: str, tracer: Optional[Tracer], fault: Optional[str] = None) -> None:
        if fault is not None and fault not in FAULTS:
            raise ValueError(f"unknown fault {fault!r}; choose from {FAULTS}")
        if tracer is None:  # fault injection alone: spans go nowhere
            self.tracer = Tracer()
            self.tracer.enabled = False
        else:
            self.tracer = tracer
        super().__init__(
            spark,
            root,
            backend=TracedBackend(tracer) if tracer is not None else None,
            fs=TracedFS(tracer) if tracer is not None else None,
        )
        self.fault = fault
        self._fault_calls = 0
        self.phases = PhaseTotals(tracer)
        self.metrics.add_span_listener(self.phases)

    def _fault_due(self) -> bool:
        self._fault_calls += 1
        return self._fault_calls % FAULT_EVERY == 0

    def get(self, path: str):
        with self.tracer.span("store.get"):
            content = super().get(path)
            gen = self.generation_cache.get(path, 0)
            if self.fault == "stale-read" and gen >= 2 and self._fault_due():
                return self.get_at(path, gen - 1)
            return content

    def create_batch(self, path, docs, **kwargs) -> CreateResponse:
        with self.tracer.span("store.mutate", op="create_batch"):
            if self.fault == "lost-write" and self._fault_due():
                # report success for a commit that never happens
                gen = self.generation_cache.get(path, 0) + 1
                return CreateResponse(content=dict(docs), generation=gen)
            return super().create_batch(path, docs, **kwargs)

    def remove(self, path, *keys, generation=None) -> None:
        with self.tracer.span("store.mutate", op="remove"):
            super().remove(path, *keys, generation=generation)
