"""Embedding dot product — shared, measured, deliberately the HOF fold.

``dot_fold`` is the engine's one dot-product implementation (s01/s02/s03
similarity, d06/d10 embedding dedup):

    aggregate(zip_with(x, y, (p, q) -> p*q), 0.0, (acc, z) -> acc + z)

It adds strictly left-to-right from a 0.0 seed, which is the exact
accumulation order of DuckDB's ``list_dot_product`` — the bit-equality
the value-hash oracles rest on.

Two "faster" alternatives were built and benchmarked (round 4, sf0.1
s01 brute-force scoring, min-of-5 noop-sink wall-clock) and REJECTED:

- **Unrolled expression** ``0.0 + x[0]*y[0] + ... + x[63]*y[63]``
  (with either a pre-cast array or per-element casts): 0.91 s vs the
  fold's 0.33 s — ~3× SLOWER. The 64-term ``GetArrayItem`` chain blows
  past codegen's expression budget and falls back to interpreted eval
  of a ~260-node tree per pair, which loses to the HOF evaluator's
  tight per-element loop.
- **Arrow-batched NumPy matmul** (``mapInArrow``, probes broadcast,
  one BLAS GEMM per corpus batch): 0.335 s — a wash at local bench
  scale, because Arrow serialization of the corpus vectors costs what
  BLAS saves; it also needs an executor-side probe side-input, which
  breaks the all-builders-are-lazy contract (tests/test_lazy_build.py).

At 100 TB the calculus changes — a corpus-scan ANN over billions of
vectors wants the GEMM — but that is s02/s03's bucketed-candidate
territory anyway; the brute-force s01 exists as the exact,
oracle-anchored baseline, and for its role the fold is both correct
and (locally) fastest.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_fold(x: Column, y: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns;
    bit-identical to DuckDB ``list_dot_product``."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def table_bytes(sf_dir: str, table: str) -> int:
    """On-disk bytes of one fixture table (file or directory dataset;
    recursive, so Hive-partitioned/nested layouts count their leaf files
    rather than ~4 KB directory inodes). Unstat-able paths (hdfs://,
    s3:// — i.e. cluster volumes) return -1, which size-switched kernels
    read as "assume big". The ONE size helper shared by ``pair_kernel``
    and similarity's ``_assign_kernel``."""
    p = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(p):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _dirs, files in os.walk(p)
                for f in files
                if not f.startswith((".", "_"))
            )
        return os.path.getsize(p)
    except OSError:
        return -1


# row-chunk cap for the pairwise kernel: chunk_rows × block_rows ≤ this
# many doubles — a 512 KiB partial-sum buffer stays cache-resident across
# the dim loop, where a 32 MiB one streamed through memory once per dim
# (2000-row block, 64 dims, one Xeon core: 1.6 s → 0.45 s with the
# dim-major copy below)
_PAIR_CHUNK_ELEMS = 65_536


def block_pair_cosine(
    df: DataFrame,
    block_col: str,
    mode: str,
    tau: float | None = None,
    strict: bool = False,
    k: int | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Within-block pairwise cosine, Arrow-batched.

    Replaces the ``a JOIN b ON block AND id<id`` + interpreted-fold shape
    of d06/d10/s04 with one ``groupBy(block).applyInArrow``: each block's
    pair dots run as NumPy column sweeps accumulated dim-by-dim
    (``S += VT[i, chunk, None] * VT[i][None, :]`` over the dim-major
    copy ``VT``) — the same left-to-right
    per-pair summation order as ``dot_fold`` / DuckDB's
    ``list_dot_product``, so oracle bit parity is preserved BY
    CONSTRUCTION (same floats, same order; the norm product commutes
    bit-exactly). Row-chunked so the partial-sum buffer stays ≤512 KiB
    per task regardless of block skew. Pairs are filtered INSIDE the kernel
    (threshold or per-row top-k), so only survivors cross Arrow back —
    the n² pair relation never materializes as rows anywhere.

    Input: ``id_col``, ``block_col`` and ``emb_col``, the vector in its
    raw storage type (array<float>; array<double> also works). The kernel
    widens each element to float64 (exact — the doubles Spark's ``cast``
    gives) and computes the norms itself in ``dot_fold`` order, so the
    caller feeds the scan straight into the block exchange: no
    interpreted HOF before the kernel, and half the Arrow bytes of a
    pre-cast double column.

    mode="lt":   emit (id_a < id_b, cs) pairs passing ``cs > tau``
                 (strict) / ``cs >= tau``; ids ascend within the block
                 exactly like the join's ``a.id < b.id`` condition.
    mode="topk": emit each row's k best neighbors (cs DESC, id ASC,
                 self excluded) — both directions, like a != b.

    Output schema: ``id_a bigint, id_b bigint, cs double``. Lazy — a
    plain grouped-map plan node, no driver action.

    Admission is the join shape's ``nv > 0`` guard, applied here (pinned
    by ``tests/test_similarity.py::test_pair_kernel_null_and_nan_edges``):
    a NULL block key, a NULL vector or a NULL element never pairs (the
    join's equality predicate / the null norm drop them), nor does a
    zero-norm vector (under ANSI mode the join's ``dot/(na*nb)`` ABORTS
    on a zero divisor, so the DuckDB oracles carry ``WHERE nv > 0`` too).
    A NaN norm passes — Spark orders NaN above every number — and so do
    NaN cosines: they pass any threshold and rank first in top-k, as in
    the join shape. The Arrow (not pandas) batch is what tells a NULL
    element from a NaN one.
    """
    assert mode in ("lt", "topk")
    assert mode != "lt" or tau is not None, "mode='lt' requires tau"
    assert mode != "topk" or k is not None, "mode='topk' requires k"
    df = df.select(id_col, block_col, emb_col).filter(
        F.col(block_col).isNotNull()
    )

    def pairs(tbl):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        emb = tbl.column(emb_col).combine_chunks()
        flat = emb.flatten()
        parent = pc.list_parent_indices(emb).to_numpy()
        # admitted rows: a non-null list with no null element ...
        ok = emb.is_valid().to_numpy(zero_copy_only=False, writable=True)
        ok[parent[flat.is_null().to_numpy(zero_copy_only=False)]] = False
        dims = set(pc.list_value_length(emb).to_numpy(zero_copy_only=False)[ok])
        if len(dims) > 1:
            raise ValueError(f"vectors of mixed length in one block: {dims}")
        ids = tbl.column(id_col).to_numpy()[ok]
        V = flat.to_numpy(zero_copy_only=False)[ok[parent]]
        V = V.reshape(len(ids), int(dims.pop()) if dims else 0)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        VT = np.ascontiguousarray(V[order].T, dtype=np.float64)  # dim × m
        nv = np.zeros(len(ids))
        for x in VT:  # left fold over dims == dot_fold order
            nv += x * x
        nv = np.sqrt(nv)
        # ... and a norm that passes Spark's nv > 0 (NaN does)
        keep = nv != 0
        ids, nv, VT = ids[keep], nv[keep], VT[:, keep]
        m = len(ids)
        out_a, out_b, out_cs = [], [], []
        chunk = max(1, _PAIR_CHUNK_ELEMS // max(m, 1))
        for a0 in range(0, m, chunk):
            a1 = min(a0 + chunk, m)
            S = np.zeros((a1 - a0, m))
            for x in VT:  # left fold over dims == dot_fold order
                S += x[a0:a1, None] * x[None, :]
            cs = S / (nv[a0:a1, None] * nv[None, :])
            if mode == "lt":
                passed = (cs > tau) if strict else (cs >= tau)
                ai, bi = np.nonzero(
                    (np.arange(m)[None, :] > np.arange(a0, a1)[:, None])
                    & (passed | np.isnan(cs))
                )
                out_a.append(ids[ai + a0])
                out_b.append(ids[bi])
                out_cs.append(cs[ai, bi])
            else:
                for r in range(a1 - a0):
                    row = cs[r]
                    # cs DESC with NaN first (Spark's order), then id ASC
                    sel = np.lexsort((ids, -row, ~np.isnan(row)))
                    sel = sel[sel != (a0 + r)][:k]
                    out_a.append(np.full(len(sel), ids[a0 + r]))
                    out_b.append(ids[sel])
                    out_cs.append(row[sel])

        def col(parts, typ):
            return pa.array(np.concatenate(parts) if parts else [], type=typ)

        return pa.table(
            {
                "id_a": col(out_a, pa.int64()),
                "id_b": col(out_b, pa.int64()),
                "cs": col(out_cs, pa.float64()),
            }
        )

    return df.groupBy(block_col).applyInArrow(
        pairs, schema="id_a bigint, id_b bigint, cs double"
    )


def probe_corpus_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    n_buckets: int,
) -> DataFrame:
    """Brute-force probe×corpus cosine scoring, Arrow-batched (round 11) —
    the probe-side twin of ``block_pair_cosine``, closing s01's last
    interpreted-fold hot path (VERDICT r10 #3).

    ``corpus`` and ``probes`` each carry ``(vec_id, embedding)`` with the
    embedding in its RAW storage type (array<float>): the kernel casts
    float32→float64 per element (exact — same doubles as Spark's
    ``cast``) and computes norms itself, so the np path shuffles HALF the
    bytes of a pre-cast double column and pays zero interpreted-HOF
    evaluation anywhere. The corpus is hash-bucketed into ``n_buckets``
    groups; the (tiny) probe set is replicated to every bucket via an
    ``explode(sequence(...))`` — no join, no driver side-input, fully
    lazy. Each bucket's ``groupBy().applyInPandas`` kernel accumulates
    norms and probe×chunk dot products dim-by-dim
    (``S += Q[:, i:i+1] * V[None, :, i]``) — the exact left-to-right
    per-pair summation order of ``dot_fold`` / DuckDB's
    ``list_dot_product``, so oracle bit parity with the join +
    ``sqrt(dot_fold)`` shape holds BY CONSTRUCTION — and emits only its
    local per-probe top-k (cs DESC, neighbor_id ASC, self excluded).
    Every corpus vector lives in exactly one bucket, so the union of
    per-bucket top-k lists is a superset of the global top-k; the
    caller's existing window does the final cut. Only
    ``n_buckets × |probes| × k`` candidate rows ever cross Arrow back.

    Scale posture: bucket width tracks ``spark.sql.shuffle.partitions``
    (the caller passes it), so per-task memory is corpus_bytes /
    n_buckets regardless of volume; the probe replication is
    ``|probes| × n_buckets`` rows of 64 floats — noise.
    """

    def topk(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "cs": pd.Series([], dtype="float64"),
            }
        )
        is_p = pdf["is_probe"].to_numpy()
        cp, pp = pdf[~is_p], pdf[is_p]
        if not len(cp) or not len(pp):
            return empty

        def mat(part):
            # float32 storage → float64 per element: exact, same doubles
            # as Spark's cast; dim-by-dim self-dot == dot_fold order
            M = np.stack(part["emb"].to_numpy()).astype(np.float64)
            acc = np.zeros(len(M))
            for i in range(M.shape[1]):
                acc += M[:, i] * M[:, i]
            return M, np.sqrt(acc)

        order = np.argsort(cp["id"].to_numpy(), kind="stable")
        ids = cp["id"].to_numpy()[order]
        cp = cp.iloc[order]
        V, nv = mat(cp)  # m × dim
        qids = pp["id"].to_numpy()
        Q, nq = mat(pp)  # t × dim
        t, dim = Q.shape
        S = np.zeros((t, len(ids)))
        for i in range(dim):  # left fold over dims == dot_fold order
            S += Q[:, i : i + 1] * V[None, :, i]
        cs = S / (nq[:, None] * nv[None, :])
        out_q, out_n, out_cs = [], [], []
        for r in range(t):
            row = cs[r]
            sel = np.lexsort((ids, -row))
            sel = sel[ids[sel] != qids[r]][:k]
            out_q.append(np.full(len(sel), qids[r]))
            out_n.append(ids[sel])
            out_cs.append(row[sel])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cs": np.concatenate(out_cs),
            }
        )

    b = F.lit(int(n_buckets)).cast("bigint")
    cp = corpus.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("emb"),
        F.lit(False).alias("is_probe"),
        F.pmod(F.xxhash64("vec_id"), b).alias("bucket"),
    )
    pp = probes.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("emb"),
        F.lit(True).alias("is_probe"),
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), b - F.lit(1).cast("bigint"))
        ).alias("bucket"),
    )
    return (
        cp.unionByName(pp)
        .groupBy("bucket")
        .applyInPandas(topk, schema="query_id bigint, neighbor_id bigint, cs double")
    )


def probe_corpus_topk_scan(
    spark,
    corpus_path: str,
    probe_max_id: int,
    k: int,
) -> DataFrame:
    """Scan-side brute-force probe×corpus cosine scoring —
    ``probe_corpus_topk`` with the corpus SHUFFLE designed out AND
    kernel-owned parallelism.

    The bucketed kernel's residual vs DuckDB at volume was the hash
    exchange moving every corpus byte into ``groupBy(bucket)`` kernels.
    A first cut ran ``mapInArrow`` over the FileSourceScan itself (zero
    exchange), but its parallelism inherited
    ``spark.sql.files.maxPartitionBytes`` — sized for the DOMINANT
    table, which gave the 500 MB 1000× embeddings file 4 splits on 32
    cores (6.12 s; 2.11 s the moment splits were right-sized). So the
    unit of work here is the parquet ROW GROUP, enumerated at build time
    from the footers (driver file IO — the same listing Spark's own
    planning does; no Spark job, lazy contract intact). The (file,
    row_group) descriptor list travels inside the kernel's closure, and
    ``spark.range(n, numPartitions=n)`` — a JVM-side leaf, one row and
    one task per descriptor index — drives the ``mapInPandas``: each
    task pyarrow-reads its row group directly and scores it in NumPy.
    No Python-RDD leaf (``createDataFrame(list)`` would add a pickled
    Python-worker stage plus a shuffle before the kernel), zero
    exchange, parallelism = row-group count regardless of session scan
    sizing. The tiny probe set is a task-side filtered read of the same
    corpus (``vec_id < probe_max_id``), sorted by vec_id.

    Math parity with ``dot_fold``/DuckDB by the same construction as the
    bucketed kernel: float32→float64 per element, dim-by-dim left-fold
    accumulation, ties broken by neighbor_id, self excluded. Each row
    group emits its local per-probe top-k — a superset of the global
    top-k; the caller's window does the final cut
    (``#row_groups × |probes| × k`` candidate rows).

    Scale posture: per-task memory is one row group (the writer's
    128 MB default) plus the probe block; on a real cluster the
    task-side reads assume shared storage — the same assumption the
    scan itself makes. Build-time footer reads are O(#files) driver IO,
    identical to FileSourceScan's own planning listing.
    """
    import glob as _glob

    import pyarrow.parquet as _pq

    if os.path.isdir(corpus_path):
        files = sorted(
            f
            for f in _glob.glob(os.path.join(corpus_path, "*"))
            if os.path.basename(f).startswith("part")
            and not f.endswith((".crc", "_SUCCESS"))
        )
    else:
        files = [corpus_path]
    descs = [
        (f, rg)
        for f in files
        for rg in range(_pq.ParquetFile(f).metadata.num_row_groups)
    ]

    def score(batches):
        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            corpus_path,
            columns=["vec_id", "embedding"],
            filters=[("vec_id", "<", probe_max_id)],
        )
        qids = tbl["vec_id"].to_numpy()
        order = np.argsort(qids, kind="stable")
        qids = qids[order]
        Q = np.stack(
            [np.asarray(v, dtype=np.float64) for v in tbl["embedding"].to_pylist()]
        )[order]
        t, dim = Q.shape
        nq = np.zeros(t)
        for i in range(dim):  # left fold over dims == dot_fold order
            nq += Q[:, i] * Q[:, i]
        nq = np.sqrt(nq)

        for pdf in batches:
            for d in pdf["id"]:
                path, rg = descs[d]
                part = pq.ParquetFile(path).read_row_group(
                    int(rg), columns=["vec_id", "embedding"]
                )
                ids = part["vec_id"].to_numpy()
                if not len(ids):
                    continue
                arr = part["embedding"].combine_chunks()
                off = arr.offsets.to_numpy()
                flat = arr.values.to_numpy(zero_copy_only=False)
                V = (
                    flat[off[0] : off[-1]]
                    .reshape(len(ids), -1)
                    .astype(np.float64)
                )
                m = len(ids)
                cs = np.empty((t, m))
                # row-chunked dim fold: the naive full-width fold streams
                # the t×m accumulator through memory once PER DIM (64×9 MB
                # per row group — bandwidth-bound, 1.1 s/task measured);
                # chunking rows keeps the accumulator slice cache-resident
                # across the dim loop while preserving the EXACT per-pair
                # left-fold summation order (bit parity unaffected)
                CH = 4096
                for s0 in range(0, m, CH):
                    s1 = min(s0 + CH, m)
                    Vc = V[s0:s1]
                    nvc = np.zeros(s1 - s0)
                    for i in range(dim):
                        nvc += Vc[:, i] * Vc[:, i]
                    Sc = np.zeros((t, s1 - s0))
                    for i in range(dim):
                        Sc += Q[:, i : i + 1] * Vc[None, :, i]
                    cs[:, s0:s1] = Sc / (nq[:, None] * np.sqrt(nvc)[None, :])
                out_q, out_n, out_cs = [], [], []
                for r in range(t):
                    row = cs[r]
                    sel = np.lexsort((ids, -row))
                    sel = sel[ids[sel] != qids[r]][:k]
                    out_q.append(np.full(len(sel), qids[r]))
                    out_n.append(ids[sel])
                    out_cs.append(row[sel])
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "cs": np.concatenate(out_cs),
                    }
                )

    return spark.range(len(descs), numPartitions=max(1, len(descs))).mapInPandas(
        score, "query_id bigint, neighbor_id bigint, cs double"
    )


# measured crossover (tools/pair_vec_probe.py, round 8): the kernel's
# fixed Python-worker/Arrow stage loses at tiny volume and wins from
# ~the 10× probe volume up — same data-sized posture as the IVF assign
# kernel's 4 MiB switch
_NP_PAIR_MIN_BYTES = 4 * 1024 * 1024


def pair_kernel(sf_dir: str, table: str = "embeddings") -> str:
    """Pick the within-block pair kernel from input metadata (no job,
    lazy-safe): "np" = ``block_pair_cosine``, "join" = the equi-join +
    interpreted ``dot_fold`` shape. ``SPARK_GRAFT_PAIR_KERNEL`` in
    {join, np} overrides for A/B probes."""
    forced = os.environ.get("SPARK_GRAFT_PAIR_KERNEL", "")
    if forced in ("join", "np"):
        return forced
    size = table_bytes(sf_dir, table)
    return "np" if (size < 0 or size >= _NP_PAIR_MIN_BYTES) else "join"
