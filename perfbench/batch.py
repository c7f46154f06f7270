"""Closed-loop batch workload: registry entries executed one after another.

One execution is ``Engine.query(name)`` followed by a noop-sink action; its
latency runs from the ``Engine.query`` call to the end of the action. The
first tour over the entries is untimed: it warms the JVM, codegen and the
Python workers, and doubles as the output check, comparing each entry with
its DuckDB oracle through ``tests/oracle.compare``. Timed rounds then run
the entries in a seeded order until ``--seconds`` have passed; the round
in progress is finished so every entry is sampled equally often.
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time
from collections import defaultdict

from perfbench import fixtures
from perfbench.spans import SparkReader, union_length, wrap

# exact and LSH top-k plus the embedding near-dup pairs: at 10x the exact
# scan and pair kernels run in Python workers, the LSH shuffle in the JVM
VECTOR_ENTRIES = [
    "s01_cosine_topk",
    "s02_lsh_ann_topk",
    "d06_embedding_near_dup",
]
VECTOR_TABLES = ["embeddings"]
COPIES = 10

def prepare_data(ctx) -> str:
    """sf-sized vector tables, then their key-shifted 10x copy."""
    base = fixtures.generate(
        os.path.join(ctx.work, "base"), ctx.sf, tables_wanted=VECTOR_TABLES
    )
    return fixtures.key_shifted_copy(
        base, os.path.join(ctx.work, "x10"), COPIES, VECTOR_TABLES
    )


def _oracle_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'"
            )
    return con


class _Answers:
    """Oracle results computed on a background thread while the JVM starts;
    ``oracle.compare`` reads them through this connection-shaped object."""

    def __init__(self, data_dir: str, queries: list[str]) -> None:
        self._results: dict[str, tuple] = {}
        self._thread = threading.Thread(
            target=self._run, args=(data_dir, queries), name="oracle", daemon=True
        )
        self._thread.start()

    def _run(self, data_dir: str, queries: list[str]) -> None:
        con = _oracle_connection(data_dir)
        for sql in queries:
            try:
                cur = con.execute(sql)
                self._results[sql] = (cur.description, cur.fetchall())
            except Exception as exc:  # noqa: BLE001 — re-raised on use
                self._results[sql] = exc
        con.close()

    def execute(self, sql: str):
        self._thread.join()
        result = self._results[sql]
        if isinstance(result, Exception):
            raise result
        return _Cursor(*result)


class _Cursor:
    def __init__(self, description, rows) -> None:
        self.description, self._rows = description, rows

    def fetchall(self):
        return self._rows


class _Failing:
    """Stand-in entry whose output never matches its oracle (self-tests)."""

    name = "inject_wrong_result"

    @staticmethod
    def builder(spark, sf):
        return spark.range(3).selectExpr("id AS x")

    oracle = "SELECT 7 AS x"


def run(ctx) -> dict:
    import final_project_big_data_spark.io as fio

    if ctx.tracer:
        # before engine/queries import: they bind load_table by name
        wrap(ctx.tracer, fio, "load_table", "io.load_table")
    from final_project_big_data_spark.engine import Engine
    from final_project_big_data_spark.queries import all_specs
    from tests.oracle import compare

    data_dir = prepare_data(ctx)
    ctx.mark("session.fixtures_s")
    specs = dict(all_specs())
    entries = list(VECTOR_ENTRIES)
    if ctx.inject == "wrong-result":
        specs[_Failing.name] = _Failing
        entries.append(_Failing.name)
    con = _Answers(data_dir, [specs[n].oracle for n in entries])
    spark = ctx.session(data_dir)
    engine = Engine(spark, data_dir)
    reader = SparkReader(spark) if ctx.tracer else None

    # untimed warm-up tour that is also the output check
    for name in entries:
        ctx.attempted += 1
        try:
            report = compare(engine.query(name), con, specs[name].oracle)
        except Exception as exc:  # noqa: BLE001 — counted, reported, run fails
            report = {"ok": False, "error": f"{type(exc).__name__}: {exc}"[:300]}
        if not report["ok"]:
            ctx.fail(f"{name}: {report.get('error')}")
    if reader:
        reader.collect()  # discard warm-up records
    ctx.mark("session.warmup_s")
    ctx.start_timing()

    rng = random.Random(ctx.seed)
    latencies: list[float] = []
    per_entry: dict[str, list[float]] = {n: [] for n in entries}
    layers: dict[str, float] = defaultdict(float)  # traced runs: per-execution sums
    util: list[float] = []
    begin = time.perf_counter()
    while not latencies or time.perf_counter() - begin < ctx.seconds:
        order = entries[:]
        rng.shuffle(order)
        for name in order:
            ctx.attempted += 1
            try:
                lat = _execute(ctx, engine, name, reader, layers, util)
            except Exception as exc:  # noqa: BLE001
                ctx.fail(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            latencies.append(lat)
            per_entry[name].append(lat)
    elapsed = time.perf_counter() - begin
    ctx.throughput = len(latencies) / elapsed
    ctx.latencies = latencies
    if ctx.tracer:
        n = max(1, len(latencies))
        ctx.layers.update({k: v / n for k, v in layers.items()})
        ctx.layers["engine.core_util"] = sum(util) / len(util) if util else 0.0
    return {
        "data_dir": os.path.relpath(data_dir, ctx.root),
        "entry_median_s": {
            n: round(statistics.median(v), 4) for n, v in per_entry.items() if v
        },
    }


def _execute(ctx, engine, name, reader, layers, util) -> float:
    """One timed execution; in a traced run, its layer split is added to
    ``layers`` after the clock has stopped."""
    tracer = ctx.tracer
    if tracer is None:
        t0 = time.perf_counter()
        engine.query(name).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    tracer.trace_id += 1
    with tracer.span("op", entry=name) as root:
        t0 = time.perf_counter()
        with tracer.span("queries.build"):
            df = engine.query(name)
        t1 = time.perf_counter()
        with tracer.span("engine.action") as action:
            df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()

    o0 = time.perf_counter()
    rec = reader.collect()
    loads = [
        s for s in tracer.spans
        if s["trace"] == tracer.trace_id and s["name"] == "io.load_table"
    ]
    load_s = sum(s["end"] - s["start"] for s in loads)
    a0, a1 = action["start"], action["end"]
    jobs = [j for j in rec["jobs"] if j["start"] and j["start"] >= a0 - 0.005]
    job_ids = {j["job"] for j in jobs}
    stages = [s for s in rec["stages"] if s["job"] in job_ids]
    spans = [
        (max(a0, j["start"]), min(a1, j["end"] or a1)) for j in jobs
    ]
    job_s = union_length([s for s in spans if s[1] > s[0]])
    phases = [p for p in rec["phases"] if p["start"] >= a0 - 0.005]
    task_s = sum(s["task_s"] for s in stages)
    for j in jobs:
        jid = tracer.add("spark.job", j["start"], j["end"] or a1, action["id"], job=j["job"])
        for s in stages:
            if s["job"] == j["job"] and s["start"]:
                tracer.add("spark.stage", s["start"], s["end"] or a1, jid, stage=s["stage"])
    for p in phases:
        tracer.add(f"catalyst.{p['phase']}", p["start"], p["end"], action["id"])
    sql = rec["sql"]
    split = {
        "queries.build_s": (t1 - t0) - load_s,
        "io.load_table_calls": len(loads),
        "io.load_table_s": load_s,
        "engine.optimize_s": sum(p["end"] - p["start"] for p in phases if p["phase"] == "optimization"),
        "engine.planning_s": sum(p["end"] - p["start"] for p in phases if p["phase"] == "planning"),
        "engine.jobs": len(jobs),
        "engine.stages": len(stages),
        "engine.tasks": sum(s["tasks"] for s in stages),
        "engine.job_s": job_s,
        "engine.driver_gap_s": (t2 - t1) - job_s,
        "engine.task_s": task_s,
        "engine.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "engine.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "engine.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "engine.failed_tasks": sum(j["failed_tasks"] for j in jobs),
        **{f"operators.{k}": v for k, v in sql.items()},
    }
    for k, v in split.items():
        layers[k] += v
    if job_s > 0:
        util.append(task_s / (job_s * ctx.cpus))
    root["latency"] = t2 - t0
    tracer.bookkeeping_s += time.perf_counter() - o0
    return t2 - t0
