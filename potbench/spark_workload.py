"""spark_pipeline: the Spark plane over a bucketed pot.

Set-up starts one driver at ``local[nproc / 2]``, generates a fixture from the
seed (``tools/gen_sf.py``), loads its orders into a bucketed pot with
``create_df_bucketed`` and warms up: every suite query runs once, cold,
and is checked against its DuckDB oracle, then one delta is ingested,
counted and scanned. Each of the timed iterations then, four times over,

- ingests a seeded delta (2% updates, 0.5% inserts) with
  ``create_df_bucketed``                                        (a write)
- counts ``changes_df`` since the previous generation           (a read)
- groups a ``get_typed`` scan by status                         (a read)

and then runs each suite query into the noop sink               (reads).

The change count and the group-by are checked against a model of the pot
kept on the driver, after every ingest. The suite reads the fixture, which
ingests do not change, so the timed queries run the plans checked in the
warm-up on the same data; they run with the exact dedup tier
(``POT_SPARK_DEDUP_FORCE_EXACT=1``) for the same reason. With
``--trace 1`` every other iteration is traced, and the traced and
untraced iteration times give the tracing overhead.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import sys
import tempfile
import time
from pathlib import Path

from common import (
    ROOT,
    Result,
    RunDir,
    dir_bytes,
    median,
    nproc,
    tree_cpu_s,
    tree_peak_rss_mb,
)
from layers import LAYER_UNITS, SUITE
from spans import SpanIndex, Tracer

SF = 0.01
ITERATIONS = 2
INGESTS_PER_ITER = 4
OPS_PER_ITER = 3 * INGESTS_PER_ITER + len(SUITE)
N_BUCKETS = 16
UPDATE_SHARE = 0.02
INSERT_SHARE = 0.005
DRIVER_MEM = "1g"  # the sf0.01 fixture needs far less; the host is shared
POT = "orders"
TYPED_SCHEMA = "id string, cust long, status string, cents long, prio string"


def _orders(sf_dir: Path) -> dict[str, dict]:
    import pyarrow.parquet as pq

    t = pq.read_table(sf_dir / "orders.parquet").to_pydict()
    out = {}
    for key, cust, status, price, prio in zip(
        t["o_orderkey"], t["o_custkey"], t["o_orderstatus"], t["o_totalprice"], t["o_orderpriority"]
    ):
        k = f"o{key}"
        out[k] = {"id": k, "cust": cust, "status": status, "cents": round(price * 100), "prio": prio}
    return out


def _deltas(model: dict, seed: int, n: int) -> list[dict]:
    """n seeded deltas, each updating 2% of the live orders and inserting
    0.5% new ones, applied in order to a copy of `model`."""
    rng = random.Random(seed)
    live = dict(model)
    out = []
    for i in range(n):
        keys = sorted(live)
        delta = {}
        for k in rng.sample(keys, round(UPDATE_SHARE * len(model))):
            delta[k] = dict(live[k], cents=live[k]["cents"] + rng.randint(1, 999))
        for j in range(round(INSERT_SHARE * len(model))):
            k = f"n{i}-{j}"
            delta[k] = {
                "id": k,
                "cust": rng.randint(1, 1000),
                "status": rng.choice("OFP"),
                "cents": rng.randint(100, 10_000_000),
                "prio": "3-MEDIUM",
            }
        live.update(delta)
        out.append(delta)
    return out


def _status_totals(model: dict) -> dict:
    totals: dict[str, list[int]] = {}
    for d in model.values():
        t = totals.setdefault(d["status"], [0, 0])
        t[0] += 1
        t[1] += d["cents"]
    return {s: tuple(v) for s, v in totals.items()}


def _user_bytes(model: dict) -> int:
    return sum(len(json.dumps(d, sort_keys=True).encode()) for d in model.values())


class _Isolated:
    """Point every file Spark writes (local dirs, temp files, checkpoints,
    warehouse, derby) into the run directory, and restore on exit."""

    def __init__(self, rd: RunDir) -> None:
        self.env = {
            "SPARK_LOCAL_DIRS": str(rd.sub("spark-local")),
            "TMPDIR": str(rd.tmp),
            "SPARK_GRAFT_CHECKPOINT_DIR": str(rd.sub("checkpoints")),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "POT_SPARK_DEDUP_FORCE_EXACT": "1",
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        }
        self.cwd = rd.path

    def __enter__(self) -> None:
        self.saved = {k: os.environ.get(k) for k in self.env}
        os.environ.update(self.env)
        tempfile.tempdir = None
        self.prev_cwd = os.getcwd()
        os.chdir(self.cwd)  # spark-warehouse/, metastore_db/, derby.log

    def __exit__(self, *exc) -> None:
        os.chdir(self.prev_cwd)
        for k, v in self.saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None


def spark_cores() -> int:
    """Half the cores, so the run stays below saturation as the two KV
    clients keep the server below it: the free cores keep the JVM's GC and
    JIT threads and the Python driver off the critical path. On a shared
    4-core host, two cores ran the sf0.01 pipeline about 10% faster than
    four, and over ten seeds the interquartile spread of each time metric
    fell from up to 0.31 of its median to at most 0.16."""
    return max(1, nproc() // 2)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _buckets_rewritten(root: Path, gen: int) -> int:
    """Buckets whose files differ between generation gen-1 and gen."""
    commits = root / POT / "_pot" / "commits"
    old = json.loads((commits / f"{gen - 1:020d}.json").read_text())["files"]
    new = json.loads((commits / f"{gen:020d}.json").read_text())["files"]
    return sum(1 for b in new if old.get(b) != new[b])


class Pipeline:
    def __init__(self, spark, store, sf_dir: Path, model: dict, res: Result) -> None:
        from pot_spark import registry

        registry.load_all_query_modules()
        self.queries = {q: registry.QUERIES[q] for q in SUITE}
        self.spark = spark
        self.store = store
        self.sf_dir = str(sf_dir)
        self.model = model
        self.res = res
        self.gen = 0

    def _df(self, docs: dict):
        rows = [(k, json.dumps(d, sort_keys=True)) for k, d in docs.items()]
        return self.spark.createDataFrame(rows, "key string, doc string")

    def load(self) -> None:
        self.gen = self.store.create_df_bucketed(POT, self._df(self.model), n_buckets=N_BUCKETS)

    def check_suite(self) -> None:
        from pot_spark import oracle

        for r in oracle.run_all(self.spark, self.sf_dir, only=list(SUITE)):
            if not r.ok:
                self.res.failed += 1
                self.res.problem(str(r))

    def iteration(self, deltas: list, tracer: Tracer, ops: dict, suite: bool = True) -> None:
        """Ingest, count and scan each delta in turn, then run the suite.
        Appends latencies to ops[kind]."""
        from pyspark.sql import functions as F

        def timed(kind: str, span: str, fn):
            t0 = time.perf_counter()
            with tracer.span(span):
                out = fn()
            ops[kind].append((time.perf_counter() - t0) * 1000.0)
            return out

        for delta in deltas:
            self.res.attempted += 3
            prev = self.gen
            self.gen = timed(
                "write",
                "store.create_df_bucketed",
                lambda: self.store.create_df_bucketed(POT, self._df(delta), n_buckets=N_BUCKETS),
            )
            self.model.update(delta)
            if self.gen != prev + 1:
                self.res.failed += 1
                self.res.problem(f"ingest committed generation {self.gen} after {prev}")
            changed = timed("read", "store.changes_df", lambda: self.store.changes_df(POT, prev).count())
            if changed != len(delta):
                self.res.failed += 1
                self.res.problem(f"changes_df counted {changed}, delta has {len(delta)}")
            rows = timed(
                "read",
                "store.get_typed",
                lambda: self.store.get_typed(POT, TYPED_SCHEMA)
                .groupBy("status")
                .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
                .collect(),
            )
            if {r["status"]: (r["n"], r["cents"]) for r in rows} != _status_totals(self.model):
                self.res.failed += 1
                self.res.problem("get_typed group-by differs from the model")
        if not suite:
            return
        self.res.attempted += len(self.queries)
        with tracer.span("queries.suite"):
            for name, fn in self.queries.items():
                timed(
                    "read",
                    f"queries.{name}",
                    lambda fn=fn: fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save(),
                )


def _spark_counts(sc, group: str) -> tuple[int, int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [s for j in jobs if (info := st.getJobInfo(j)) is not None for s in info.stageIds]
    tasks = sum(info.numTasks for s in stages if (info := st.getStageInfo(s)) is not None)
    return len(jobs), len(stages), tasks


def run(seed: int, trace: bool) -> Result:
    # session settings the environment would otherwise override (they are
    # read when pot_spark is first imported): the master stays local[cores]
    for name in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_AQE_MIN_PART"):
        os.environ.pop(name, None)
    sys.path.insert(0, str(ROOT / "tools"))
    import gen_sf

    from pot_spark.kv.store import PotStore
    from pot_spark.session import get_spark

    from traced import TracedStore

    res = Result()
    with RunDir("spark_pipeline") as rd, _Isolated(rd):
        sf_dir = rd.sub("fixture")
        with contextlib.redirect_stdout(sys.stderr):
            gen_sf.generate(SF, str(sf_dir), seed=seed)
        model = _orders(sf_dir)
        deltas = _deltas(model, seed, 1 + ITERATIONS * INGESTS_PER_ITER)
        root = rd.sub("store")
        tracer = Tracer()
        tracer.enabled = trace
        spark = None
        try:
            t0 = time.perf_counter()
            spark = get_spark("potbench", cpus=str(spark_cores()))
            get_spark_s = time.perf_counter() - t0
            store = TracedStore(spark, str(root), tracer) if trace else PotStore(spark, str(root))
            pipe = Pipeline(spark, store, sf_dir, model, res)
            pipe.load()
            # warm-up: the cold pass of every suite query, checked against
            # DuckDB, then one ingest, change count and scan
            pipe.check_suite()
            pipe.iteration(deltas[:1], tracer, {"read": [], "write": []}, suite=False)
            setup_s = time.perf_counter() - t0
            tracer.clear()

            sc = spark.sparkContext
            ops = {"read": [], "write": []}
            iter_s = {True: [], False: []}
            jobs = stages = tasks = 0
            rewritten = []
            cpu0, w0 = tree_cpu_s(os.getpid()), time.perf_counter()
            for i in range(ITERATIONS):
                traced = tracer.enabled = trace and i % 2 == 1
                sc.setJobGroup(f"iter{i}", "potbench iteration")
                gen0, t_it = pipe.gen, time.perf_counter()
                pipe.iteration(deltas[1 + i * INGESTS_PER_ITER :][:INGESTS_PER_ITER], tracer, ops)
                iter_s[traced].append(time.perf_counter() - t_it)
                if traced:
                    j, s, t = _spark_counts(sc, f"iter{i}")
                    jobs, stages, tasks = jobs + j, stages + s, tasks + t
                    rewritten += [_buckets_rewritten(root, g) for g in range(gen0 + 1, pipe.gen + 1)]
            wall = time.perf_counter() - w0
            cpu = tree_cpu_s(os.getpid()) - cpu0
            rss = tree_peak_rss_mb(os.getpid())
            n_ops = len(ops["read"]) + len(ops["write"])
            if trace:
                idx = SpanIndex(tracer.spans)
                n_it = len(iter_s[True])
                n_commit = idx.count("store.create_df_bucketed")
                fs_calls = idx.count(*[n for n in idx.by_name if n.startswith("storefs.")])
                puts = idx.count("backend.put_if_absent")
                layers = {
                    "session.get_spark_s": get_spark_s,
                    "store.create_df_bucketed_ms": idx.mean_ms("store.create_df_bucketed"),
                    "store.buckets_rewritten_per_commit": sum(rewritten) / len(rewritten),
                    "store.changes_df_ms": idx.mean_ms("store.changes_df"),
                    "store.get_typed_ms": idx.mean_ms("store.get_typed"),
                    **{f"queries.{q}_ms": idx.mean_ms(f"queries.{q}") for q in SUITE},
                    "queries.suite_s": idx.total_s("queries.suite") / n_it,
                    "spark.jobs_per_iter": jobs / n_it,
                    "spark.stages_per_iter": stages / n_it,
                    "spark.tasks_per_iter": tasks / n_it,
                    "store.lock_wait_ms": idx.total_s("store.phase.local_lock") / n_commit * 1000.0,
                    "store.write_phase_ms": idx.total_s("store.phase.write") / n_commit * 1000.0,
                    "store.commit_phase_ms": idx.total_s("store.phase.commit") / n_commit * 1000.0,
                    "storefs.calls_per_op": fs_calls / (n_it * OPS_PER_ITER),
                    "backend.put_if_absent_ms": idx.mean_ms("backend.put_if_absent"),
                    "backend.commit_win_ratio": idx.attr_sum(["backend.put_if_absent"], "won") / puts,
                    "trace.overhead_pct": (median(iter_s[True]) / median(iter_s[False]) - 1.0) * 100.0,
                }
                for name, value in layers.items():
                    res.metric(name, value, LAYER_UNITS[name])
            else:
                res.metric("setup_s", setup_s, "s")
                res.metric("ops_per_s", n_ops / wall, "1/s", n_ops)
                # too few samples for a p90: the tails are left out, not guessed
                res.latency("read", ops["read"])
                res.latency("write", ops["write"])
                res.metric("cpu_ms_per_op", cpu * 1000.0 / n_ops, "ms", n_ops)
                res.metric("bytes_per_user_byte", dir_bytes(root) / _user_bytes(pipe.model), "B/B")
                res.metric("peak_rss_mb", rss, "MB")
        finally:
            if spark is not None:
                _stop_spark(spark)
    return res
