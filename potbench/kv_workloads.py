"""The two KV workloads: closed-loop ``PotClient`` threads against the pot
HTTP server running in its own process.

kv_mixed        read-mostly whole-pot polling over many small pots
kv_lease_churn  batch upserts and lease renewals on a few hot pots whose
                manifest history grows to thousands of generations

Both run a fixed, seeded list of operations per client. Each client owns
its document keys, keeps a model of them and checks every reply against
it: read-your-writes, strictly rising generations, 423 on a live foreign
lease, and a final read of every pot against the merged models.
"""

from __future__ import annotations

import json
import random
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Optional

import numpy as np
from pot_spark.kv import NoRewriteViolated, PotClient

from common import (
    BENCH_DIR,
    OUT_DIR,
    ROOT,
    Result,
    RunDir,
    dir_bytes,
    median,
    proc_cpu_s,
    proc_peak_rss_mb,
)
from layers import LAYER_UNITS
from spans import SpanIndex

TIMED_PASS_LIMIT_S = 120.0


@dataclass(frozen=True)
class MixedConfig:
    n_pots: int = 512
    min_docs: int = 50
    max_docs: int = 200
    doc_bytes: int = 500
    zipf_s: float = 1.1
    clients: int = 2
    ops_per_client: int = 3000
    mix: tuple = (("get", 0.90), ("upsert", 0.08), ("delete", 0.02))
    setups: int = 3
    blocks: int = 5


@dataclass(frozen=True)
class ChurnConfig:
    batch_pots: int = 4
    docs_per_pot: int = 1000
    batch_size: int = 32
    insert_share: float = 0.25
    doc_bytes: int = 500
    lease_pots: int = 4
    lease_history: int = 600  # renewals per lease pot during set-up
    lease: str = "1h"  # never expires within a run: ownership decides
    clients: int = 2
    ops_per_client: int = 1600
    mix: tuple = (
        ("renew", 0.50),
        ("steal", 0.05),
        ("batch", 0.15),
        ("get_batch", 0.10),
        ("get_lease", 0.20),
    )
    setups: int = 3
    blocks: int = 5


CONFIGS = {"kv_mixed": MixedConfig(), "kv_lease_churn": ChurnConfig()}

READS = ("get", "get_batch", "get_lease")


# -- inputs -------------------------------------------------------------------


class _Text:
    """Seeded document bodies: slices of one random lowercase buffer."""

    def __init__(self, rng: np.random.Generator) -> None:
        self.buf = rng.integers(97, 123, size=1 << 20, dtype=np.uint8).tobytes().decode()
        self.rng = rng

    def body(self, n: int) -> str:
        off = int(self.rng.integers(0, len(self.buf) - n))
        return self.buf[off : off + n]


def _doc(key: str, version: int, text: _Text, doc_bytes: int) -> dict:
    return {"id": key, "v": version, "body": text.body(doc_bytes - 40)}


def _kinds(mix: tuple, n: int, rng: random.Random) -> list[str]:
    """Exactly round(p * n) operations of each kind, in seeded order."""
    counts = [round(p * n) for _, p in mix]
    counts[0] += n - sum(counts)
    kinds = [k for (k, _), c in zip(mix, counts) for _ in range(c)]
    rng.shuffle(kinds)
    return kinds


@dataclass
class Inputs:
    seed_ops: list  # per client: [(path, {key: doc}, norewrite)] for set-up
    models: list  # per client: {path: {key: doc}} after set-up
    schedules: list  # per client: [(kind, path, arg)]
    leases: dict = field(default_factory=dict)  # lease path -> owner id
    lease: Optional[str] = None


def _owner_prefix(cid: int) -> str:
    return f"c{cid}-"


def mixed_inputs(cfg: MixedConfig, seed: int) -> Inputs:
    rng = np.random.default_rng(seed)
    text = _Text(rng)
    span = cfg.max_docs - cfg.min_docs + 1
    models = [dict() for _ in range(cfg.clients)]
    seed_ops = [[] for _ in range(cfg.clients)]
    next_key = [0] * cfg.clients
    paths = [f"cfg/p{r:03d}" for r in range(cfg.n_pots)]
    for r, path in enumerate(paths):
        # pot size is a fixed function of popularity rank, so every seed
        # puts the same load on the same layers
        n_docs = cfg.min_docs + (r * 37) % span
        content = {}
        for j in range(n_docs):
            cid = j % cfg.clients
            key = f"{_owner_prefix(cid)}{next_key[cid]:06d}"
            next_key[cid] += 1
            doc = _doc(key, 0, text, cfg.doc_bytes)
            content[key] = doc
            models[cid].setdefault(path, {})[key] = doc
        seed_ops[r % cfg.clients].append((path, content, None))
    weights = 1.0 / np.arange(1, cfg.n_pots + 1) ** cfg.zipf_s
    weights /= weights.sum()
    schedules = []
    for cid in range(cfg.clients):
        crng = random.Random(seed * 1000 + cid)
        kinds = _kinds(cfg.mix, cfg.ops_per_client, crng)
        pots = rng.choice(cfg.n_pots, size=len(kinds), p=weights)
        model = {p: dict(d) for p, d in models[cid].items()}
        ops = []
        for kind, r in zip(kinds, pots):
            path = paths[int(r)]
            own = model.setdefault(path, {})
            if kind == "get":
                ops.append(("get", path, None))
                continue
            if kind == "delete" and own:
                key = crng.choice(sorted(own))
                del own[key]
                ops.append(("delete", path, key))
                continue
            if own and crng.random() < 0.5:
                key = crng.choice(sorted(own))
                version = own[key]["v"] + 1
            else:
                key = f"{_owner_prefix(cid)}{next_key[cid]:06d}"
                next_key[cid] += 1
                version = 0
            doc = _doc(key, version, text, cfg.doc_bytes)
            own[key] = doc
            ops.append(("upsert", path, doc))
        schedules.append(ops)
    return Inputs(seed_ops, models, schedules)


def churn_inputs(cfg: ChurnConfig, seed: int) -> Inputs:
    rng = np.random.default_rng(seed)
    text = _Text(rng)
    batch_paths = [f"hot/batch{i}" for i in range(cfg.batch_pots)]
    lease_paths = [f"hot/lease{i}" for i in range(cfg.lease_pots)]
    leases = {p: i % cfg.clients for i, p in enumerate(lease_paths)}
    models = [dict() for _ in range(cfg.clients)]
    seed_ops = [[] for _ in range(cfg.clients)]
    next_key = [0] * cfg.clients
    per_client = cfg.docs_per_pot // cfg.clients
    for path in batch_paths:
        for cid in range(cfg.clients):
            content = {}
            for _ in range(per_client):
                key = f"{_owner_prefix(cid)}{next_key[cid]:06d}"
                next_key[cid] += 1
                content[key] = _doc(key, 0, text, cfg.doc_bytes)
            models[cid][path] = dict(content)
            seed_ops[cid].append((path, content, None))
    for path, cid in leases.items():
        for n in range(cfg.lease_history + 1):
            doc = {"id": "leader", "holder": f"c{cid}", "n": n}
            seed_ops[cid].append((path, {"leader": doc}, cfg.lease))
        models[cid][path] = {"leader": doc}
    schedules = []
    for cid in range(cfg.clients):
        crng = random.Random(seed * 1000 + cid)
        model = {p: dict(d) for p, d in models[cid].items()}
        mine = sorted(p for p, o in leases.items() if o == cid)
        foreign = sorted(p for p, o in leases.items() if o != cid)
        ops = []
        for kind in _kinds(cfg.mix, cfg.ops_per_client, crng):
            if kind == "renew":
                path = crng.choice(mine)
                doc = dict(model[path]["leader"], n=model[path]["leader"]["n"] + 1)
                model[path]["leader"] = doc
                ops.append(("renew", path, doc))
            elif kind == "steal":
                path = crng.choice(foreign)
                ops.append(("steal", path, {"id": "leader", "holder": f"c{cid}", "n": -1}))
            elif kind == "batch":
                path = crng.choice(batch_paths)
                own = model[path]
                n_new = round(cfg.batch_size * cfg.insert_share)
                docs = {}
                for key in crng.sample(sorted(own), cfg.batch_size - n_new):
                    docs[key] = _doc(key, own[key]["v"] + 1, text, cfg.doc_bytes)
                for _ in range(n_new):
                    key = f"{_owner_prefix(cid)}{next_key[cid]:06d}"
                    next_key[cid] += 1
                    docs[key] = _doc(key, 0, text, cfg.doc_bytes)
                own.update(docs)
                ops.append(("batch", path, docs))
            elif kind == "get_batch":
                ops.append(("get_batch", crng.choice(batch_paths), None))
            else:
                ops.append(("get_lease", crng.choice(lease_paths), None))
        schedules.append(ops)
    return Inputs(seed_ops, models, schedules, leases, cfg.lease)


def user_bytes(doc: dict) -> int:
    return len(json.dumps(doc, sort_keys=True).encode())


# -- the server process -------------------------------------------------------


class Server:
    """kv_server.py as a child process; stop() waits for it to exit."""

    def __init__(self, root: Path, trace: bool, fault: Optional[str]) -> None:
        cmd = [sys.executable, str(BENCH_DIR / "kv_server.py"), "--root", str(root)]
        if trace:
            cmd.append("--trace")
        if fault:
            cmd += ["--fault", fault]
        self.root = root
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT
        )
        line = self.proc.stdout.readline()
        if not line.startswith("port "):
            self.stop()
            raise RuntimeError(f"kv server did not start: {line!r}")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}/"

    @property
    def pid(self) -> int:
        return self.proc.pid

    def command(self, text: str) -> None:
        self.proc.stdin.write(text + "\n")
        self.proc.stdin.flush()
        reply = self.proc.stdout.readline().strip()
        if reply != "ok":
            raise RuntimeError(f"kv server answered {reply!r} to {text!r}")

    def stop(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=30)
            except (subprocess.TimeoutExpired, BrokenPipeError):
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


# -- clients ------------------------------------------------------------------


class Client:
    """One closed-loop client: a PotClient, its key model and its checks."""

    def __init__(self, cid: int, url: str, inputs: Inputs) -> None:
        self.cid = cid
        self.name = f"c{cid}"
        self.prefix = _owner_prefix(cid)
        self.pot = PotClient(url)
        self.model = {p: dict(d) for p, d in inputs.models[cid].items()}
        self.leases = inputs.leases
        self.lease = inputs.lease
        self.last_gen: dict[str, int] = {}
        self.block = 0  # which block of the timed pass is running
        self.samples: list[tuple[int, str, float]] = []  # (block, class, ms)
        self.failed = 0
        self.refused = 0  # 423 replies, each one expected
        self.problems: list[str] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.problems) < 5:
            self.problems.append(f"{self.name}: {msg}")

    def owns(self, path: str, key: str) -> bool:
        if key == "leader":
            return self.leases.get(path) == self.cid
        return key.startswith(self.prefix)

    def check_read(self, path: str, content: dict) -> None:
        got = {k: v for k, v in content.items() if self.owns(path, k)}
        if got != self.model.get(path, {}):
            self.fail(f"read of {path} does not match this client's writes")
        owner = self.leases.get(path)
        if owner is not None and owner != self.cid:
            holder = content.get("leader", {}).get("holder")
            if holder != f"c{owner}":
                self.fail(f"lease {path} held by {holder!r}, expected c{owner}")

    def check_generation(self, path: str, gen: int, exact: bool) -> None:
        last = self.last_gen.get(path, 0)
        if gen <= last or (exact and last and gen != last + 1):
            self.fail(f"generation {gen} after {last} on {path}")
        self.last_gen[path] = gen

    def seed(self, ops: list) -> None:
        for path, content, norewrite in ops:
            try:
                gen = self.pot.create(path, content, norewrite=norewrite)
            except Exception as e:  # noqa: BLE001 - every failure is counted
                self.fail(f"seeding {path}: {type(e).__name__}: {e}")
                continue
            self.check_generation(path, gen, exact=norewrite is not None)

    def run_op(self, op: tuple) -> None:
        kind, path, arg = op
        t0 = time.perf_counter()
        try:
            if kind in READS:
                content = self.pot.get(path)
            elif kind == "upsert":
                gen = self.pot.create(path, [arg])
            elif kind == "batch":
                gen = self.pot.create(path, arg)
            elif kind == "delete":
                self.pot.remove(path, arg)
            elif kind == "renew":
                gen = self.pot.create(path, [arg], norewrite=self.lease)
            else:  # steal: a foreign live lease must refuse with 423
                try:
                    self.pot.create(path, [arg], norewrite=self.lease)
                except NoRewriteViolated:
                    self.refused += 1
                else:
                    self.fail(f"took over the live lease {path}")
        except Exception as e:  # noqa: BLE001 - every failure is counted
            self.fail(f"{kind} {path}: {type(e).__name__}: {e}")
            return
        ms = (time.perf_counter() - t0) * 1000.0
        if kind in READS:
            self.samples.append((self.block, "read", ms))
            self.check_read(path, content)
            return
        if kind == "steal":
            self.samples.append((self.block, "other", ms))
            return
        self.samples.append((self.block, "write", ms))
        own = self.model.setdefault(path, {})
        if kind == "delete":
            own.pop(arg, None)
            return
        own.update({"leader": arg} if kind == "renew" else {arg["id"]: arg} if kind == "upsert" else arg)
        self.check_generation(path, gen, exact=kind == "renew")


def _run_threads(targets: list) -> None:
    """Run one thread per target and wait for all of them."""
    errors: list[BaseException] = []

    def body(fn) -> None:
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors.append(e)

    threads = [threading.Thread(target=body, args=(fn,), daemon=True) for fn in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=TIMED_PASS_LIMIT_S)
        if t.is_alive():
            raise RuntimeError(f"clients still running after {TIMED_PASS_LIMIT_S:.0f} s")
    if errors:
        raise errors[0]


# -- set-up, timed pass, verification -----------------------------------------


@dataclass
class Rig:
    server: Server
    clients: list
    setup_s: float

    def retire(self, res: Result) -> None:
        """Stop the server and add the clients' failures to `res`."""
        self.server.stop()
        for c in self.clients:
            res.failed += c.failed
            for msg in c.problems:
                res.problem(msg)
            c.failed, c.problems = 0, []


def set_up(inputs: Inputs, root: Path, trace: bool, fault: Optional[str]) -> Rig:
    """Start a server on an empty root, seed it and read every pot once."""
    t0 = time.perf_counter()
    server = Server(root, trace, fault)
    try:
        clients = [Client(c, server.url, inputs) for c in range(len(inputs.models))]
        _run_threads([lambda c=c: c.seed(inputs.seed_ops[c.cid]) for c in clients])

        def warm(c: Client) -> None:
            for path in sorted(c.model):
                c.check_read(path, c.pot.get(path))

        _run_threads([lambda c=c: warm(c) for c in clients])
    except BaseException:
        server.stop()
        raise
    return Rig(server, clients, time.perf_counter() - t0)


@dataclass
class Pass:
    """A timed pass, cut into blocks that every client starts together.
    Rates and percentiles are taken per block and reported as the median
    block, so a burst of host noise in one block does not move them."""

    wall_s: list  # per block
    cpu_s: list  # server CPU per block
    ops: list  # operations per block
    samples: list  # (block, "read" | "write" | "other", ms)

    def latencies(self, cls: str) -> list[list[float]]:
        out = [[] for _ in self.wall_s]
        for block, c, ms in self.samples:
            if c == cls:
                out[block].append(ms)
        return out


def timed_pass(rig: Rig, inputs: Inputs, blocks: int) -> Pass:
    barrier = threading.Barrier(len(rig.clients) + 1, timeout=TIMED_PASS_LIMIT_S)

    def body(c: Client) -> None:
        ops = inputs.schedules[c.cid]
        try:
            for k in range(blocks):
                barrier.wait()
                c.block = k
                for op in ops[k * len(ops) // blocks : (k + 1) * len(ops) // blocks]:
                    c.run_op(op)
            barrier.wait()
        except BaseException:
            barrier.abort()
            raise

    threads = [threading.Thread(target=body, args=(c,), daemon=True) for c in rig.clients]
    for t in threads:
        t.start()
    marks = []
    try:
        for _ in range(blocks + 1):
            barrier.wait()
            marks.append((time.perf_counter(), proc_cpu_s(rig.server.pid)))
    finally:
        for t in threads:
            t.join(timeout=TIMED_PASS_LIMIT_S)
    n = [len(s) for s in inputs.schedules]
    return Pass(
        wall_s=[b[0] - a[0] for a, b in zip(marks, marks[1:])],
        cpu_s=[b[1] - a[1] for a, b in zip(marks, marks[1:])],
        ops=[sum((k + 1) * m // blocks - k * m // blocks for m in n) for k in range(blocks)],
        samples=[s for c in rig.clients for s in c.samples],
    )


def written_user_bytes(inputs: Inputs) -> int:
    """Document bytes the timed pass sends in writes."""
    written = 0
    for ops in inputs.schedules:
        for kind, _, arg in ops:
            if kind in ("upsert", "renew"):
                written += user_bytes(arg)
            elif kind == "batch":
                written += sum(user_bytes(d) for d in arg.values())
    return written


def verify(rig: Rig, res: Result) -> tuple[int, dict]:
    """Read every pot and compare it with the merged client models.
    Returns the live document bytes and the commits per pot."""
    expected: dict[str, dict] = {}
    for c in rig.clients:
        for path, docs in c.model.items():
            expected.setdefault(path, {}).update(docs)
    live = 0
    reader = rig.clients[0].pot
    for path in sorted(expected):
        content = reader.get(path)
        if content != expected[path]:
            res.failed += 1
            res.problem(f"final read of {path} differs from the merged models")
        live += sum(user_bytes(d) for d in content.values())
    commits = {
        path: sum(1 for n in (rig.server.root / path / "_pot" / "commits").iterdir() if n.suffix == ".json")
        for path in sorted(expected)
    }
    return live, commits


def _per_layer(
    spans: list, phases: dict, store_metrics: dict, p: Pass, written: int, res: Result
) -> tuple[dict, dict]:
    """Per-layer metrics from the server's spans, and the span counts."""
    idx = SpanIndex(spans)
    n_mut = idx.count("store.mutate")
    n_get = idx.count("store.get")
    fs_names = [n for n in idx.by_name if n.startswith("storefs.")]

    def per_mutate_ms(phase: str) -> float:
        return idx.total_s("store.phase." + phase) / n_mut * 1000.0 if n_mut else 0.0

    request_ms = idx.mean_ms("http_server.request")
    puts = idx.count("backend.put_if_absent")
    n_ops = sum(p.ops)
    out = {
        "client.self_ms": sum(s[2] for s in p.samples) / len(p.samples) - request_ms,
        "http_server.request_ms": request_ms,
        "http_server.self_ms": idx.self_ms("http_server.request", ("store.",)),
        "store.get_ms": idx.mean_ms("store.get"),
        "store.get_self_ms": idx.self_ms("store.get", ("storefs.",)),
        "store.mutate_ms": idx.mean_ms("store.mutate"),
        "store.lock_wait_ms": per_mutate_ms("local_lock"),
        "store.read_phase_ms": per_mutate_ms("read"),
        "store.write_phase_ms": per_mutate_ms("write"),
        "store.commit_phase_ms": per_mutate_ms("commit"),
        "storefs.listdir_entries_per_get": (
            idx.attr_sum(["storefs.listdir"], "n", under={"store.get"}) / n_get if n_get else 0.0
        ),
        "storefs.calls_per_op": idx.count(*fs_names) / n_ops,
        "storefs.read_parquet_ms": idx.mean_ms("storefs.read_parquet"),
        "storefs.bytes_read_per_op": idx.attr_sum(["storefs.read_parquet", "storefs.read_bytes"], "bytes") / n_ops,
        "storefs.write_parquet_ms": idx.mean_ms("storefs.write_parquet"),
        "storefs.bytes_written_per_user_byte": (
            idx.attr_sum(["storefs.write_parquet", "storefs.write_bytes", "backend.put_if_absent"], "bytes")
            / written
        ),
        "backend.put_if_absent_ms": idx.mean_ms("backend.put_if_absent"),
        "backend.commit_win_ratio": idx.attr_sum(["backend.put_if_absent"], "won") / puts if puts else 0.0,
    }
    # the listener saw every phase the store timed: its totals must match
    # the store's own /:metrics export
    for name, calls in phases["calls"].items():
        exported_calls = store_metrics.get(f"pot_span_{name}_calls")
        exported_s = store_metrics.get(f"pot_span_{name}_seconds_total", -1.0)
        if exported_calls != calls or abs(exported_s - phases["seconds"][name]) > 1e-6 * max(1.0, exported_s):
            res.checks_ok = False
            res.problem(f"phase {name}: listener {calls} calls, /:metrics {exported_calls}")
    counts = {n: idx.count(n) for n in sorted(idx.by_name)}
    return out, counts


def run(workload: str, seed: int, trace: bool, fault: Optional[str] = None, cfg=None) -> tuple[Result, dict]:
    """One run of a KV workload. Returns the result and the exact counts
    (commits per pot, 423 replies, spans per layer) a seed determines."""
    cfg = cfg or CONFIGS[workload]
    inputs = mixed_inputs(cfg, seed) if isinstance(cfg, MixedConfig) else churn_inputs(cfg, seed)
    res = Result()
    counts: dict = {}
    rigs: list[Rig] = []
    with RunDir(workload) as rd:
        try:
            setup_times = []
            # a traced run needs two rigs: one untraced pass, one traced
            n_setups = max(cfg.setups, 2) if trace else cfg.setups
            for i in range(n_setups):
                rigs.append(set_up(inputs, rd.sub(f"store{i}"), trace and i == n_setups - 1, fault))
                setup_times.append(rigs[-1].setup_s)
                # keep only the rigs the timed passes use
                if len(rigs) > (2 if trace else 1):
                    rigs.pop(0).retire(res)
            if trace:
                plain = timed_pass(rigs[0], inputs, cfg.blocks)
                res.attempted += sum(plain.ops)
                verify(rigs[0], res)
                rigs.pop(0).retire(res)
                rigs[0].server.command("reset")
            rig = rigs[0]
            p = timed_pass(rig, inputs, cfg.blocks)
            res.attempted += sum(p.ops)
            if trace:
                # spans and counters of the timed pass alone, before the
                # final read of every pot adds to them
                dump = rd.path / "server-trace.jsonl"
                rig.server.command(f"dump {dump}")
                store_metrics = rig.clients[0].pot.metrics()
            live, counts["commits"] = verify(rig, res)
            counts["refused"] = sum(c.refused for c in rig.clients)
            if trace:
                lines = [json.loads(line) for line in dump.read_text().splitlines()]
                phases = lines.pop()["phases"]
                layers, counts["spans"] = _per_layer(
                    lines, phases, store_metrics, p, written_user_bytes(inputs), res
                )
                layers["trace.overhead_pct"] = (sum(p.wall_s) / sum(plain.wall_s) - 1.0) * 100.0
                for name, value in layers.items():
                    res.metric(name, value, LAYER_UNITS[name])
                OUT_DIR.mkdir(exist_ok=True)
                (OUT_DIR / f"{workload}-seed{seed}-trace.jsonl").write_text(dump.read_text())
            else:
                res.metric("setup_s", median(setup_times), "s", len(setup_times))
                n_ops = sum(p.ops)
                res.metric("ops_per_s", median([n / w for n, w in zip(p.ops, p.wall_s)]), "1/s", n_ops)
                res.latency_blocks("read", p.latencies("read"))
                res.latency_blocks("write", p.latencies("write"))
                res.metric("cpu_ms_per_op", median([c * 1000.0 / n for c, n in zip(p.cpu_s, p.ops)]), "ms", n_ops)
                res.metric("bytes_per_user_byte", dir_bytes(rig.server.root) / live, "B/B")
                res.metric("peak_rss_mb", proc_peak_rss_mb(rig.server.pid), "MB")
        finally:
            for rig in rigs:
                rig.retire(res)
    return res, counts

