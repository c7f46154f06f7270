#!/usr/bin/env python3
"""Engine benchmark: one workload per process, one JSON result line.

    python3 perfbench/run.py --workload vector_x10 --seed 1 --seconds 10 --trace 0

Workloads (see README.md in this directory):

- ``vector_x10``   closed loop over three vector entries on a 10x
                   key-shifted embeddings copy (Python-worker kernels);
- ``event_stream`` open-loop JSON event stream through parse, dedup and
                   score into a checkpointed parquet sink, then a backlog
                   drain.

Inputs are generated from a fixed fixture seed inside a scratch directory
of the checkout (``perfbench/.work``) that is removed at exit; ``--seed``
sets the query order and where stream duplicates fall. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics and
writes the recorded spans to ``perfbench/.traces``. The last line printed
is ``{"correct", "attempted", "failed", "metrics"}``; the exit code is 0
only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p75_s": "s",
    "throughput_per_s": "1/s",
}


def _steal_s() -> float:
    """CPU time the hypervisor has taken from this machine since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _since_process_start() -> float:
    """Seconds since this process was created (kernel clock, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _processes() -> dict[int, tuple[int, int]]:
    """pid → (parent pid, resident KiB) for every visible process."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                out[int(entry)] = (int(fields[1]), int(fields[21]) * page_kb)
            except (OSError, IndexError, ValueError):
                continue
    return out


def _tree(procs: dict[int, tuple[int, int]]) -> set[int]:
    """This process and all its descendants."""
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, (pp, _) in procs.items() if pp in frontier} - tree
    return tree


class RssSampler(threading.Thread):
    """Peak resident set of this process and all its descendants (the
    Python driver, the JVM and the Python workers), sampled every 0.2 s."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_event = threading.Event()

    def _sample(self) -> None:
        procs = _processes()
        self.peak_kb = max(self.peak_kb, sum(procs[p][1] for p in _tree(procs) if p in procs))

    def run(self) -> None:
        while not self._stop_event.wait(0.2):
            self._sample()

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        self._sample()
        return self.peak_kb / 1024.0


class Context:
    """What a workload needs: arguments, scratch dir, session factory,
    counters and the metrics it fills in."""

    def __init__(self, args, cpus: int) -> None:
        from perfbench.spans import Tracer

        self.root = ROOT
        self.seed = args.seed
        self.seconds = args.seconds
        self.sf = args.sf
        self.inject = args.inject
        self.cpus = cpus
        self.work = os.path.join(HERE, ".work", str(os.getpid()))
        self.tmp = os.path.join(self.work, "tmp")
        self.jvm_tmp = os.path.join(self.work, "jvm_tmp")
        self.tracer = Tracer() if args.trace else None
        self.attempted = 0
        self.errors: list[str] = []
        self.latencies: list[float] = []
        self.throughput = 0.0
        self.setup_s = 0.0
        self.layers: dict[str, float] = {}
        self.echo: dict = {}
        self._mark = time.perf_counter()

    def fail(self, message: str) -> None:
        self.errors.append(message)
        print(f"# error: {message}", file=sys.stderr, flush=True)

    def mark(self, key: str | None) -> None:
        """Add the time since the previous mark to set-up layer ``key``
        (``None`` only restarts the clock)."""
        now = time.perf_counter()
        if key:
            self.layers[key] = self.layers.get(key, 0.0) + now - self._mark
        self._mark = now

    def start_timing(self) -> None:
        self.setup_s = _since_process_start()

    def session(self, data_dir: str, master: str | None = None, record: bool = True):
        """``get_spark`` sized by the ``sized_*`` rules for ``data_dir``;
        its set-up layers are recorded unless ``record`` is false."""
        from final_project_big_data_spark.session import (
            get_spark,
            sized_adaptive_enabled,
            sized_max_partition_bytes,
            sized_shuffle_partitions,
        )

        self.mark(None)
        partitions = sized_shuffle_partitions(data_dir)
        split_bytes = sized_max_partition_bytes(data_dir)
        adaptive = sized_adaptive_enabled(data_dir)
        self.mark("session.sizing_s" if record else None)
        spark = get_spark(
            app_name="perfbench",
            master=master,
            shuffle_partitions=partitions,
            extra_conf={
                "spark.sql.files.maxPartitionBytes": str(split_bytes),
                "spark.sql.adaptive.enabled": str(adaptive).lower(),
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.jvm_tmp} -XX:-UsePerfData",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.mark("session.get_spark_s" if record else None)
        sc = spark.sparkContext
        self.echo.update(
            master=sc.master,
            shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
            adaptive=adaptive,
            data_dir=os.path.relpath(data_dir, ROOT),
        )
        return spark


def _stop_spark(timeout: float = 60.0) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    while len(_tree(_processes())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def _percentile(values: list[float], q: int) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["vector_x10", "event_stream"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # fixture scale and fault injection, for the benchmark's own tests
    p.add_argument("--sf", type=float, default=0.1, help=argparse.SUPPRESS)
    p.add_argument(
        "--inject", choices=["none", "wrong-result", "drop-event"], default="none",
        help=argparse.SUPPRESS,
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse_args(argv)
    nproc = os.cpu_count() or 1
    try:
        nproc = len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        pass
    try:
        cpus = min(nproc, int(os.environ.get("SPARK_GRAFT_CPUS", nproc)))
    except ValueError:
        cpus = nproc
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    sys.path[:0] = [ROOT]
    try:
        import final_project_big_data_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not found under {ROOT}: {exc}", file=sys.stderr)
        return 2

    ctx = Context(args, cpus)
    os.makedirs(ctx.tmp, exist_ok=True)
    os.makedirs(ctx.jvm_tmp, exist_ok=True)
    # every temp file of this process, the JVM launcher and the Python
    # workers lands in the scratch dir
    os.environ["TMPDIR"] = ctx.tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "local")
    # the spark-submit launcher JVM: no perf-data file in the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={ctx.jvm_tmp}"
    tempfile.tempdir = ctx.tmp
    steal0 = _steal_s()
    sampler = RssSampler()
    sampler.start()
    try:
        if args.workload == "vector_x10":
            from perfbench import batch as workload
        else:
            from perfbench import stream as workload
        info = workload.run(ctx)
    except Exception as exc:  # noqa: BLE001 — reported as a failed run
        import traceback

        traceback.print_exc()
        ctx.fail(f"workload aborted: {type(exc).__name__}: {exc}"[:500])
        info = {}
    finally:
        peak_mb = sampler.stop()
        _stop_spark()
        residue = os.listdir(ctx.tmp)
        shutil.rmtree(ctx.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(ctx.work))
        except OSError:
            pass

    import duckdb
    import pyspark

    failed = len(ctx.errors)
    attempted = max(1, ctx.attempted)
    if args.trace:
        metrics = dict(ctx.layers)
        metrics["session.residue_files"] = len(residue)
        metrics["process.peak_rss_mb"] = peak_mb
        metrics["error_ratio"] = failed / attempted
        if ctx.latencies:
            metrics["trace.latency_p50_s"] = statistics.median(ctx.latencies)
            metrics["trace.latency_mean_s"] = statistics.fmean(ctx.latencies)
        metrics["trace.bookkeeping_s"] = ctx.tracer.bookkeeping_s
        metrics["trace.spans"] = len(ctx.tracer.spans)
        from perfbench import layers

        out = {k: {"value": v, "unit": layers.unit(k)} for k, v in layers.complete(metrics).items()}
        os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
        trace_path = os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}.json")
        ctx.tracer.write(trace_path)
        ctx.echo["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        values = {
            "setup_s": ctx.setup_s,
            "latency_p50_s": _percentile(ctx.latencies, 50),
            "latency_p75_s": _percentile(ctx.latencies, 75),
            "throughput_per_s": ctx.throughput,
        }
        out = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    ctx.echo.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        nproc=nproc, cpus=cpus, sf=args.sf, samples=len(ctx.latencies),
        pyspark=pyspark.__version__, duckdb=duckdb.__version__,
        steal_s=round(_steal_s() - steal0, 2), residue=residue[:5],
        errors=ctx.errors[:5], **info,
    )
    print("# run " + json.dumps(ctx.echo, default=str), flush=True)
    correct = failed == 0 and bool(ctx.latencies)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
