"""Parallelism-floor rewrite.

A parquet scan's partition count is ⌈bytes / maxPartitionBytes⌉ — a small
input (one file, one row group) becomes ONE task, and everything pipelined
above it (md5 chains, regexes, array math) runs on one core while the rest
idle. ``widen`` inserts a round-robin repartition to the session's default
parallelism, but only when the scan is narrower than the core count — on a
real cluster reading many splits it is a no-op, so the same plan serves
local fixtures and 100 TB inputs. The repartition shuffles the *raw* rows
once, which is worth it exactly when the downstream per-row compute
dominates — callers apply it only on compute-heavy pipelines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def widen(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to default parallelism iff the plan is
    currently narrower. No-op (returns ``df``) when already wide enough.

    On a non-local master this returns ``df`` untouched without ANY plan
    inspection: a cluster scan of real data already yields many splits,
    and the ``df.rdd`` narrowness probe would force physical planning at
    build time for a rewrite that is a no-op there anyway. The probe runs
    only under ``local[...]`` (bare-scan planning, cheap, no job), where
    single-file fixtures genuinely collapse to one task. Override with
    ``spark.finalproject.widen=off|force``.

    The exchange does not fence off filters: Catalyst pushes deterministic
    filters — including ``isnotnull`` ones it infers from join keys —
    below the round-robin exchange into the narrow scan, so an expensive
    expression inside such a filter runs single-task there, and again
    above the exchange. Keep expensive join keys provably non-null (s02's
    signature) and keep row guards out of the pipeline where a kernel can
    apply them (``block_pair_cosine``).
    """
    spark = df.sparkSession
    mode = str(spark.conf.get("spark.finalproject.widen", "auto"))
    if mode == "off":
        return df
    if mode == "auto" and not spark.sparkContext.master.startswith("local"):
        return df
    target = spark.sparkContext.defaultParallelism
    if mode == "force":
        return df.repartition(target)
    if _estimated_scan_tasks(df) >= target:
        return df
    return df.repartition(target)


def _estimated_scan_tasks(df: DataFrame) -> int:
    """Estimate the scan's task count WITHOUT physical planning.

    Spark splits a parquet scan into ⌈file bytes / maxPartitionBytes⌉
    tasks (modulo openCostInBytes packing); reproduce that arithmetic from
    ``df.inputFiles()`` + a local ``stat`` instead of probing
    ``df.rdd.getNumPartitions()``, which forces the whole plan through
    physical planning at build time. ``inputFiles`` only walks the logical
    plan's file indices — no job, no physical plan. Non-file relations
    (in-memory fixtures) report 0 files → treated as "narrow", which is
    correct for the small createDataFrame inputs used in tests.
    """
    from urllib.parse import urlparse

    files = df.inputFiles()
    if not files:
        return 0
    max_pb = int(
        str(
            df.sparkSession.conf.get(
                "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
            )
        ).rstrip("b")
    )
    total = 0
    for uri in files:
        p = urlparse(uri)
        path = p.path if p.scheme in ("file", "") else None
        if path is None:
            # non-local filesystem (would not happen under local[*] gating)
            return 0
        try:
            total += os.path.getsize(path)
        except OSError:
            return 0
    return max(1, -(-total // max_pb)) if total else 1
