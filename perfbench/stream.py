"""Open-loop streaming workload: JSON event files through parse, dedup and
score into a checkpointed parquet sink.

Set-up encodes the ``events`` fixture with ``streaming.pipeline.encode_json``
into ``N_FILES`` files of equal line count, with a seeded share of
duplicate lines placed a few events after their original (inside the
dedup watermark). The stream is ``file source → parse_json_stream →
dedup_stream → score_events → parquet sink`` on a processing-time trigger;
five small micro-batches warm it up.

Timed phases:

1. open loop: one feeder thread publishes files by atomic rename at a
   fixed rate for ``--seconds``; a file's latency runs from its scheduled
   publish time to the end of the micro-batch that committed it;
2. drain: a fixed backlog of files is published at once and the events
   committed per second are measured.

The sink is then checked against a batch recompute over every published
file: ``parse_json_stream → dropDuplicates(event_id) → score_events``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import re
import shutil
import threading
import time

from perfbench import fixtures
from perfbench.spans import wrap

N_FILES = 200
WARMUP_FILES = 10
DRAIN_FILES = 50
MAX_FILES_PER_TRIGGER = 10
TRIGGER = "100 milliseconds"
# offered load of the open loop: 2100 events/s, about 40 % of the backlog
# drain rate measured on a 4-core host; fixed so later runs see the same load
OPEN_LOOP_FILES_PER_S = 4.0
DUP_SHARE = 0.05
DUP_WINDOW = 50  # a duplicate follows its original within this many events
_EVENT_ID = re.compile(r'"event_id":(\d+)')


def _encode_files(spark, data_dir: str, stage: str, seed: int) -> tuple[list[str], dict, int]:
    """Stage ``N_FILES`` JSON-lines files in event order; returns their
    names, the event ids each holds, and the lines per file."""
    from final_project_big_data_spark.io import load_table
    from final_project_big_data_spark.streaming import pipeline as P

    lines = P.encode_json(load_table(spark, data_dir, "events")).toPandas()["value"].tolist()
    ids = [int(_EVENT_ID.search(line).group(1)) for line in lines]
    lines = [line for _, line in sorted(zip(ids, lines))]
    ids.sort()
    rng = random.Random(seed)
    seq = list(range(len(lines)))
    dups = rng.sample(range(len(lines)), int(len(lines) * DUP_SHARE))
    keyed = [(float(i), i) for i in seq] + [
        (i + rng.randint(1, DUP_WINDOW) + 0.5, i) for i in dups
    ]
    keyed.sort()
    per_file = len(keyed) // N_FILES
    os.makedirs(stage, exist_ok=True)
    names, file_ids = [], {}
    for f in range(N_FILES):
        chunk = [i for _, i in keyed[f * per_file:(f + 1) * per_file]]
        name = f"events-{f:05d}.json"
        with open(os.path.join(stage, name), "w") as out:
            out.write("\n".join(lines[i] for i in chunk) + "\n")
        names.append(name)
        file_ids[name] = {ids[i] for i in chunk}
    return names, file_ids, per_file


def _start_query(spark, src: str, sink: str, checkpoint: str):
    from final_project_big_data_spark.streaming import pipeline as P

    raw = (
        spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .text(src)
    )
    scored = P.score_events(P.dedup_stream(P.parse_json_stream(raw)))
    return (
        scored.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(processingTime=TRIGGER)
        .start()
    )


class Publisher:
    """Moves staged files into the source dir. The file source takes files
    in modification-time order at millisecond resolution, so every file
    gets an mtime at least 1 ms after the previous one: the stream then
    reads files in event-time order even when many are published at once."""

    def __init__(self, stage: str, src: str) -> None:
        self.stage, self.src = stage, src
        self._last_ms = 0

    def publish(self, names: list[str]) -> None:
        for name in names:
            ms = max(time.time_ns() // 1_000_000, self._last_ms + 1)
            self._last_ms = ms
            path = os.path.join(self.stage, name)
            os.utime(path, ns=(ms * 1_000_000, ms * 1_000_000))
            os.rename(path, os.path.join(self.src, name))


def _drain(query, publisher: Publisher, names: list[str], per_file: int) -> float:
    """Publish ``names`` at once; events committed per second."""
    t0 = time.perf_counter()
    publisher.publish(names)
    query.processAllAvailable()
    return len(names) * per_file / (time.perf_counter() - t0)


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json)
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return out


def _file_batches(checkpoint: str) -> dict[str, int]:
    """File name → file-source log batch id, from the source metadata log
    (plain and compacted entries)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for entry in os.listdir(log_dir):
        if entry.startswith("."):
            continue
        with open(os.path.join(log_dir, entry)) as f:
            for line in f.read().splitlines()[1:]:
                rec = json.loads(line)
                name = os.path.basename(rec["path"])
                out[name] = min(out.get(name, rec["batchId"]), rec["batchId"])
    return out


def _log_offset(offset) -> int:
    if offset is None:
        return -1
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["logOffset"])


def _check(spark, src: str, sink: str, file_ids: dict, drop_one: bool) -> int:
    """Number of published files whose events differ between the sink and
    the batch recompute."""
    from pyspark.sql import functions as F

    from final_project_big_data_spark.streaming import pipeline as P

    got = spark.read.parquet(sink)
    if drop_one:
        victim = got.agg(F.min("event_id")).first()[0]
        got = got.filter(F.col("event_id") != victim)
    want = P.score_events(
        P.parse_json_stream(spark.read.text(src)).dropDuplicates(["event_id"])
    )
    # rows on one side only, plus event ids the sink holds more than once
    diff = got.subtract(want).union(want.subtract(got)).select("event_id")
    repeated = got.groupBy("event_id").count().filter("count > 1").select("event_id")
    bad = {r[0] for r in diff.union(repeated).collect()}
    return sum(1 for ids in file_ids.values() if ids & bad)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def run(ctx) -> dict:
    from final_project_big_data_spark.streaming import pipeline as P

    if ctx.tracer:
        for fn in ("encode_json", "parse_json_stream", "dedup_stream", "score_events"):
            wrap(ctx.tracer, P, fn, f"streaming.{fn}")
    data_dir = fixtures.generate(
        os.path.join(ctx.work, "base"), ctx.sf, tables_wanted=["events"]
    )
    ctx.mark("session.fixtures_s")
    spark = ctx.session(data_dir)
    work = ctx.work
    stage, src = os.path.join(work, "stage"), os.path.join(work, "src")
    sink, checkpoint = os.path.join(work, "sink"), os.path.join(work, "checkpoint")
    os.makedirs(src)
    names, file_ids, per_file = _encode_files(spark, data_dir, stage, ctx.seed)
    ctx.mark("session.fixtures_s")

    query = _start_query(spark, src, sink, checkpoint)
    publisher = Publisher(stage, src)
    warm, rest = names[:WARMUP_FILES], names[WARMUP_FILES:]
    for i in range(0, WARMUP_FILES, 2):  # one micro-batch per pair of files
        publisher.publish(warm[i:i + 2])
        query.processAllAvailable()
    ctx.mark("session.warmup_s")
    ctx.start_timing()
    timed_from = time.time()

    # open loop: one feeder thread, fixed schedule
    budget = len(rest) - DRAIN_FILES
    n_open = max(1, min(budget, int(ctx.seconds * OPEN_LOOP_FILES_PER_S)))
    open_files, drain_files = rest[:n_open], rest[n_open:n_open + DRAIN_FILES]
    scheduled: dict[str, float] = {}
    published: dict[str, float] = {}

    def feeder(t_start: float) -> None:
        for i, name in enumerate(open_files):
            due = t_start + i / OPEN_LOOP_FILES_PER_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            scheduled[name] = due
            publisher.publish([name])
            published[name] = time.time()

    thread = threading.Thread(target=feeder, args=(time.time() + 0.05,), name="feeder")
    thread.start()
    thread.join()
    query.processAllAvailable()
    ctx.throughput = _drain(query, publisher, drain_files, per_file)
    progress = _progress(query)
    query.stop()

    # latency: scheduled publish → end of the micro-batch that committed it
    batch_of = _file_batches(checkpoint)
    ends = []
    for p in progress:
        src_p = p["sources"][0]
        end = _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
        ends.append((_log_offset(src_p.get("startOffset")), _log_offset(src_p["endOffset"]), end))
    committed: dict[str, float] = {}
    for name in open_files:
        b = batch_of.get(name)
        match = [e for lo, hi, e in ends if b is not None and lo < b <= hi]
        if not match:
            ctx.fail(f"no committed micro-batch found for {name}")
            continue
        committed[name] = match[0]
        ctx.latencies.append(match[0] - scheduled[name])
    ctx.attempted += WARMUP_FILES + len(open_files) + len(drain_files)

    # output check, untimed
    bad_files = _check(spark, src, sink, file_ids, ctx.inject == "drop-event")
    for _ in range(bad_files):
        ctx.fail("sink differs from the batch recompute")

    if ctx.tracer:
        progress = [p for p in progress if _epoch(p["timestamp"]) >= timed_from]
        _stream_layers(ctx, progress, open_files, scheduled, published, committed, sink)
        _trace_batches(ctx.tracer, progress)
        ctx.layers["streaming.drain_events_per_s_local1"] = _local1_drain(
            ctx, data_dir, src, drain_files, per_file
        )
    return {"files": len(names), "events_per_file": per_file, "open_loop_files": n_open}


def _stream_layers(ctx, progress, open_files, scheduled, published, committed, sink) -> None:
    """Per-micro-batch means over the timed batches, plus the feeder's
    schedule keeping and the backlog it saw."""
    n = max(1, len(progress))

    def mean_ms(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in progress) / n / 1000.0

    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    rows_in = sum(p["numInputRows"] for p in progress)
    dropped = sum(s.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for s in state)
    backlog = max(
        (sum(1 for g in open_files[: i + 1] if committed.get(g, 1e18) > published[name])
         for i, name in enumerate(open_files)),
        default=0,
    )
    ctx.layers.update({
        "streaming.batches": len(progress),
        "streaming.batch_s": mean_ms("triggerExecution"),
        "streaming.add_batch_s": mean_ms("addBatch"),
        "streaming.planning_s": mean_ms("queryPlanning"),
        "streaming.offset_commit_s": mean_ms("walCommit") + mean_ms("commitOffsets"),
        "streaming.latest_offset_s": mean_ms("latestOffset"),
        "streaming.state_rows": state[-1]["numRowsTotal"] if state else 0,
        "streaming.state_bytes": state[-1]["memoryUsedBytes"] if state else 0,
        "streaming.state_commit_s": sum(s["commitTimeMs"] for s in state) / n / 1000.0,
        "streaming.dedup_useful_ratio": dropped / rows_in if rows_in else 0.0,
        "streaming.backlog_files_max": backlog,
        "streaming.feeder_late_s": max(
            (published[f] - scheduled[f] for f in open_files if f in published), default=0.0
        ),
        "io.sink_bytes": _dir_bytes(sink),
    })


def _trace_batches(tracer, progress) -> None:
    tracer.trace_id += 1
    for p in progress:
        start = _epoch(p["timestamp"])
        sid = tracer.add(
            "streaming.batch", start, start + p["durationMs"]["triggerExecution"] / 1000.0,
            None, batch=p["batchId"], rows=p["numInputRows"],
        )
        t = start
        for key in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
            ms = p["durationMs"].get(key, 0)
            tracer.add(f"streaming.{key}", t, t + ms / 1000.0, sid)
            t += ms / 1000.0


def _local1_drain(ctx, data_dir: str, src: str, drain_files: list[str], per_file: int) -> float:
    """The same backlog drained on a fresh ``local[1]`` session: the
    single-thread baseline for the drain rate."""
    from pyspark.sql import SparkSession

    SparkSession.getActiveSession().stop()
    spark = ctx.session(data_dir, master="local[1]", record=False)
    base = os.path.join(ctx.work, "local1")
    stage, src1 = os.path.join(base, "stage"), os.path.join(base, "src")
    os.makedirs(stage)
    os.makedirs(src1)
    for name in drain_files:
        shutil.copy(os.path.join(src, name), os.path.join(stage, name))
    query = _start_query(spark, src1, os.path.join(base, "sink"), os.path.join(base, "ckpt"))
    rate = _drain(query, Publisher(stage, src1), drain_files, per_file)
    query.stop()
    return rate
