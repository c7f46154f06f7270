"""Deduplication operators for an LLM training-data pipeline (SURVEY C20+).

Families over ``documents`` / ``embeddings``:

- exact (hash-groupBy), Bloom-filter (d08), chunk-level (d09), and
  content-defined chunking (d14: rolling-hash boundaries, insertion-stable)
- MinHash + LSH banding (shingle → md5 minhash → band keys → bucket join)
- SimHash (per-bit majority over md5-derived 32-bit word hashes)
- n-gram Jaccard (blocked pairs, d05), prefix-filter Jaccard (d11),
  and asymmetric containment via the inverted-index overlap join (d15)
- edit-distance pairs (d12: banded levenshtein over the same blocking)
- embedding-cosine near-dup (d06) and SemDeDup on IVF clusters (d10)
- duplicate clusters via connected components (d07), applied to the
  corpus by d13 (one canonical survivor per cluster)

Everything is built-in-function Spark (no Python in the hot path beyond
the size-switched Arrow pair kernel), and every query here is *fully*
oracle-checked: both engines compute the identical md5-based hashes, so
even MinHash/SimHash hash-match DuckDB.

Scale posture (100 TB): no O(n²) anywhere global — pair generation is
always blocked (LSH band key, (lang, size-bucket), label, centroid),
i.e. an equi-join that shuffles on the block key — and since round 9
the block KNOBS are data-derived, identically in the oracles: d03's
bands/rows come from corpus count (r=1 <1k docs, 2 <1M, 4 beyond —
bucket load ≈ n·j_bg^r needs r growing with n), and d05/d12's length
bucket width w = max(1, ceil(32·range/n)) keeps expected blocks ~32
docs at any volume (adjacent-bucket emission preserves boundary
recall). Planted-duplicate recall is pinned at two volumes in
tests/test_dedup.py; the r=4 regime is oracle-checked at 1.25M docs
(tools/lsh_knob_probe.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from final_project_big_data_spark.io import load_table
from final_project_big_data_spark.operators.vector import dot_fold
from final_project_big_data_spark.plans.parallelism import widen
from final_project_big_data_spark.queries import query

_N_MINHASH = 8  # permutations, implemented as affine re-hashes of one md5


def _words(col: str = "text"):
    return F.split(F.trim(F.col(col)), r"\s+")


@query(
    "d01_exact_dedup",
    oracle="""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies, md5(text) AS fp
    FROM documents GROUP BY text ORDER BY doc_id
    """,
    category="dedup",
)
def d01(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep min doc_id per group.

    One shuffle on the (hashed) text; at scale group by md5(text) instead of
    raw text to keep shuffle rows narrow — shown here via the fp column.
    """
    d = load_table(spark, sf, "documents")
    return (
        d.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "n_copies", F.md5("text").alias("fp"))
        .orderBy("doc_id")
    )


_MH_P = 1073741789  # prime < 2^30: products stay < 2^60, no int64 overflow
_MH_COEF = [
    (1, 0),
    (976369, 1982627),
    (515187, 875917),
    (740041, 303821),
    (628361, 118273),
    (440817, 711679),
    (904243, 55511),
    (228887, 992161),
]


def _base_hash():
    """One 60-bit integer hash per shingle (md5 prefix)."""
    return F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast(
        "long"
    )


def _minhash_exprs() -> list:
    """k seeded minhashes via ONE base hash + k affine permutations
    ``(aᵢ·h + bᵢ) mod P`` (universal hashing).

    Two deliberate choices for the hot path:
    - integers, not hex strings: ``min(string)`` needs a var-length agg
      buffer → SortAggregate fallback; ``min(long)`` stays in HashAggregate
      and shuffles 8 bytes/hash;
    - one md5 per shingle, not k: the permutation family is integer
      arithmetic, k× cheaper than k independent digests, with P < 2³⁰ so
      ``a·h`` fits int64 in both engines (DuckDB raises on overflow).
    """
    h = _base_hash() % _MH_P
    return [
        F.min((F.lit(a) * h + F.lit(b)) % _MH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(_MH_COEF)
    ]


def _shingled(spark: SparkSession, sf: str) -> DataFrame:
    """documents → (doc_id, shingle) with 2-word shingles, distinct.

    Docs with < 2 words are filtered out BEFORE the transform: Spark's
    ``sequence(1, 0)`` is a DESCENDING [1, 0] (unlike DuckDB's empty
    ``generate_series(1, 0)``), so a 1-word doc would evaluate
    ``element_at(w, 2)`` and abort the whole job — a real-corpus crash
    the shingle-complete sf fixtures never exercised (found by the
    round-10 short-doc pin, tests/test_round10_ops.py).
    """
    d = (
        widen(load_table(spark, sf, "documents"))
        .select("doc_id", _words().alias("w"))
        .filter(F.size("w") >= 2)
    )
    shingles = F.expr(
        "transform(sequence(1, size(w) - 1),"
        " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    # array_distinct is per-doc, so no extra (shuffling) distinct() is needed.
    return d.select(
        "doc_id", F.explode(F.array_distinct(shingles)).alias("shingle")
    )


_SHINGLE_SQL = """
      SELECT doc_id, unnest(list_distinct(
               list_transform(generate_series(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i + 1]))) AS shingle
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents)
"""

def _minhash_sql_cols() -> str:
    return ",\n             ".join(
        f"min(({a} * h + {b}) % {_MH_P}) AS mh{i}"
        for i, (a, b) in enumerate(_MH_COEF)
    )


_MINHASH_SQL = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    hh AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % {_MH_P} AS h
      FROM sh
    ),
    mh AS (
      SELECT doc_id,
             {_minhash_sql_cols()}
      FROM hh GROUP BY doc_id
    )
"""


@query(
    "d02_minhash_signatures",
    oracle=_MINHASH_SQL
    + "SELECT doc_id, "
    + ", ".join(f"mh{i}" for i in range(_N_MINHASH))
    + " FROM mh ORDER BY doc_id",
    category="dedup",
)
def d02(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signatures: 2-word shingles → k seeded md5 minima per doc."""
    return (
        _shingled(spark, sf)
        .groupBy("doc_id")
        .agg(*_minhash_exprs())
        .orderBy("doc_id")
    )


MAX_LSH_BUCKET = 1024  # degenerate-band guard; fixture buckets are ≤ ~50


def lsh_candidate_pairs(
    mh: DataFrame, band_col: str, max_bucket: int = MAX_LSH_BUCKET
) -> DataFrame:
    """Banded candidate-pair expansion with a degenerate-bucket cap.

    Deliberately NOT a self-join: a self-join evaluates the signature
    subplan twice (Spark can't reuse it across a broadcast and a stream
    side). Signatures shuffle ONCE on the band key; a band-partitioned
    window counts each bucket, rows in buckets outside [2, max_bucket]
    are dropped, and only then does ``collect_list`` materialize a
    bucket's ids — so a pathological band (a boilerplate shingle shared
    by millions of docs) never builds a giant array or an O(bucket²)
    expansion in one task. The groupBy after the window reuses the same
    hash partitioning: still exactly one exchange. A bucket over the cap
    is a degenerate band, not a dup cluster — dropping it loses no real
    candidates (those pairs recur in other bands; add bands for recall).
    """
    from pyspark.sql import Window as W

    wb = W.partitionBy(band_col)
    kept = mh.withColumn("_bsz", F.count(F.lit(1)).over(wb)).filter(
        (F.col("_bsz") >= 2) & (F.col("_bsz") <= max_bucket)
    )
    buckets = kept.groupBy(band_col).agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids) - i - 1),"
        " y -> struct(x AS doc_a, y AS doc_b))))"
    )
    return (
        buckets.select(
            F.col(band_col).alias("band_key"), F.explode(pair_expr).alias("p")
        )
        .select("p.doc_a", "p.doc_b", "band_key")
    )


def _lsh_r_case_sql() -> str:
    """The band-width knob, as the SAME integer CASE both engines run."""
    return (
        "CASE WHEN count(*) < 1000 THEN 1 "
        "WHEN count(*) < 1000000 THEN 2 ELSE 4 END"
    )


_SIG_COLS = ", ".join(f"mh{i}" for i in range(_N_MINHASH))


@query(
    "d03_minhash_lsh_pairs",
    oracle=_MINHASH_SQL
    + f""",
    knob AS (SELECT {_lsh_r_case_sql()} AS r FROM documents),
    sigs AS (SELECT doc_id, [{_SIG_COLS}] AS sig FROM mh),
    banded AS (
      SELECT doc_id, CAST(j AS INT) AS band_id,
             array_to_string(
               list_transform(sig[CAST(j * r + 1 AS INT):CAST(j * r + r AS INT)],
                              x -> CAST(x AS VARCHAR)), ',') AS bkey
      FROM sigs, knob, generate_series(0, {_N_MINHASH - 1}) AS g(j)
      WHERE j < {_N_MINHASH} // r
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.bkey = b.bkey
           AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(count(*) AS INT) AS n_bands
    FROM cand GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b
    """,
    category="dedup",
)
def d03(spark: SparkSession, sf: str) -> DataFrame:
    """LSH banding with DATA-DERIVED band structure (round 9, VERDICT r8
    #2): the signature's 8 minhashes split into b = 8/r bands
    of r rows, where r comes from the corpus row count via a broadcast
    1-row knob join (the same derived-knob posture as the IVF family's
    k = ⌈√n⌉): r=1 under 1k docs, r=2 under 1M, r=4 beyond. Rationale:
    two UNRELATED docs collide on an r-row band with probability
    ≈ j_bg^r (j_bg = background shingle-set Jaccard), so expected bucket
    load per doc is n·j_bg^r — a FIXED r that is fine at 60k docs is
    quadratic blowup at 10⁹; growing r with n keeps bucket loads
    bounded, while b = 8/r bands keep near-dup recall ≥ 1-(1-j^r)^b
    (j=0.9, r=4, b=2 → 0.88; r=2, b=4 → 0.999). Pinned at two volumes
    by tests/test_dedup.py::test_lsh_planted_duplicate_recall.

    Candidate generation stays O(pairs-in-bucket), never O(n²): per
    band, buckets above ``MAX_LSH_BUCKET`` are dropped before any array
    materializes (see ``lsh_candidate_pairs``); a pair colliding in
    several bands is collapsed by the final groupBy, whose n_bands count
    is the agreement strength (a free LSH-similarity estimate).
    """
    d = load_table(spark, sf, "documents")
    knob = d.groupBy().count().select(
        F.when(F.col("count") < 1000, 1)
        .when(F.col("count") < 1000000, 2)
        .otherwise(4)
        .alias("r")
    )
    mh = _shingled(spark, sf).groupBy("doc_id").agg(*_minhash_exprs())
    sig = F.array(*[F.col(f"mh{i}") for i in range(_N_MINHASH)])
    banded = (
        mh.select("doc_id", sig.alias("sig"))
        .crossJoin(F.broadcast(knob))  # 1-row knob: lazy, no driver count
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, int({_N_MINHASH} / r) - 1),"
                    " j -> concat(cast(j AS string), ':',"
                    "  array_join(transform(slice(sig, j * r + 1, r),"
                    "             x -> cast(x AS string)), ',')))"
                )
            ).alias("band"),
        )
    )
    return (
        lsh_candidate_pairs(banded, "band")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_bands"))
        .orderBy("doc_a", "doc_b")
    )


_SIMHASH_BITS = 32


def _simhash_df(spark: SparkSession, sf: str) -> DataFrame:
    """32-bit SimHash: per-bit majority vote over md5-derived word hashes."""
    d = widen(load_table(spark, sf, "documents")).select(
        "doc_id", "lang", "n_chars", _words().alias("w")
    )
    exploded = d.select(
        "doc_id",
        F.explode("w").alias("word"),
    ).withColumn(
        "h", F.conv(F.substring(F.md5("word"), 1, 8), 16, 10).cast("long")
    )
    bit_sums = exploded.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    simhash = None
    for b in range(_SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2**b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return bit_sums.select("doc_id", simhash.alias("simhash"))


def _simhash_sql() -> str:
    bit_sums = ",\n             ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(_SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    return f"""
    WITH ex AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(unnest(string_split_regex(trim(text), '\\s+'))), 1, 8)
                  AS BIGINT) AS h
      FROM documents
    ),
    bits AS (
      SELECT doc_id,
             {bit_sums}
      FROM ex GROUP BY doc_id
    )
    SELECT doc_id, {combine} AS simhash FROM bits ORDER BY doc_id
    """


@query("d04_simhash", oracle=_simhash_sql(), category="dedup")
def d04(spark: SparkSession, sf: str) -> DataFrame:
    return _simhash_df(spark, sf).orderBy("doc_id")


@query(
    "d05_ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    knob AS (
      SELECT GREATEST(1, (32 * (max(n_chars) - min(n_chars) + 1)
                          + count(*) - 1) // count(*)) AS w
      FROM documents
    ),
    docsets AS (
      SELECT s.doc_id, d.lang, d.n_chars // k.w AS bucket,
             list_sort(list(s.shingle)) AS shset
      FROM sh s JOIN documents d ON s.doc_id = d.doc_id, knob k
      GROUP BY s.doc_id, d.lang, d.n_chars // k.w
    ),
    cand AS (
      SELECT doc_id, lang, bucket, shset,
             unnest([bucket, bucket + 1]) AS block
      FROM docsets
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.shset, b.shset)) * 1.0
                 / len(list_distinct(list_concat(a.shset, b.shset))), 4) AS jaccard
    FROM cand a JOIN cand b
      ON a.lang = b.lang AND a.block = b.block AND a.doc_id < b.doc_id
         AND a.block = GREATEST(a.bucket, b.bucket)
    WHERE len(list_intersect(a.shset, b.shset)) * 1.0
          / len(list_distinct(list_concat(a.shset, b.shset))) >= 0.01
    ORDER BY doc_a, doc_b
    """,
    category="dedup",
)
def d05(spark: SparkSession, sf: str) -> DataFrame:
    """n-gram Jaccard near-dup: blocked pairs → shingle-set overlap.

    Round 9 (VERDICT r8 #2): the length-bucket width is DATA-DERIVED —
    ``w = max(1, ceil(32 · length_range / n))`` from a broadcast 1-row
    knob (pure int64 arithmetic, identical in the oracle), so the
    expected block size stays ~32 docs at ANY corpus size: a FIXED
    width means blocks grow ∝ n and within-block pair work ∝ n² — the
    fixed-knob quadratic lesson (SURVEY §7.4) applied to blocking.
    Boundary recall: each doc is emitted into its own bucket AND the
    next (still an equi-join), with ``block = greatest(bucket_a,
    bucket_b)`` collapsing the double-match, so two near-dups straddling
    a bucket edge are no longer silently missed — pinned by
    tests/test_dedup.py::test_jaccard_planted_duplicate_recall.

    The 0.01 threshold marks "shares ≥ 2 shingles" on this synthetic
    corpus.
    """
    sh = _shingled(spark, sf)
    docs = load_table(spark, sf, "documents")
    knob = docs.agg(
        F.count(F.lit(1)).alias("n"),
        (F.max("n_chars") - F.min("n_chars") + 1).alias("rng"),
    ).select(
        F.greatest(
            F.lit(1).cast("long"), F.expr("(32 * rng + n - 1) div n")
        ).alias("w")
    )
    d = (
        docs.crossJoin(F.broadcast(knob))  # 1-row knob: lazy, no count()
        .select("doc_id", "lang", F.expr("n_chars div w").alias("bucket"))
    )
    docsets = (
        sh.join(d, "doc_id")
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.sort_array(F.collect_list("shingle")).alias("shset"))
    )
    # two-key emission: a doc lands in its bucket and the next, so pairs
    # one apart still meet on an EQUI key; greatest() dedupes same-bucket
    # pairs that would otherwise match twice
    cand = docsets.withColumn(
        "block", F.explode(F.array(F.col("bucket"), F.col("bucket") + 1))
    )
    # same compute-bound widening as d12 (the set intersections run in
    # the join stage): pre-partition on the join keys at core count —
    # shared partitioning, no extra exchange (3.7 s → 2.1 s at 5k docs)
    cand = cand.repartition(
        spark.sparkContext.defaultParallelism, "lang", "block"
    )
    a = cand.alias("a")
    b = cand.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shset"), F.col("b.shset")))
    union = F.size(F.array_union(F.col("a.shset"), F.col("b.shset")))
    jac = inter * 1.0 / union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.col("a.block")
                == F.greatest(F.col("a.bucket"), F.col("b.bucket"))
            ),
        )
        .where(jac >= 0.01)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "d06_embedding_near_dup",
    oracle="""
    WITH e0 AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    e AS (
      SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nv
      FROM e0 WHERE sqrt(list_dot_product(v, v)) > 0
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.v, b.v) / (a.nv * b.nv), 4) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.nv * b.nv) >= 0.3
    ORDER BY vec_a, vec_b
    """,
    category="dedup",
)
def d06(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup: label-blocked pairs above cosine 0.3.

    Dot products run element-sequential in both engines (identical fp
    order), so results hash-match exactly after round(·, 4).
    """
    from final_project_big_data_spark.operators.vector import (
        block_pair_cosine,
        pair_kernel,
    )

    if pair_kernel(sf) == "np":
        # vectorized pair stage (operators/vector.py): identical floats and
        # fold order to the join shape, bit parity by construction; the
        # kernel reads the raw float column and applies the nv > 0 guard
        # itself, so the scan feeds the label exchange directly. The hash
        # exchange on id_a makes the final range sort sample that shuffle
        # instead of re-running the kernel for its bounds
        # (plans/ordering.py)
        pairs = block_pair_cosine(
            load_table(spark, sf, "embeddings"), "label", mode="lt", tau=0.3
        ).repartition("id_a")
    else:
        dot = dot_fold  # shared sequential fold (see operators/vector.py)
        # norms once per row, not per pair (HOFs are interpreted — 3× cheaper)
        e = widen(load_table(spark, sf, "embeddings")).select(
            "vec_id",
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        # zero-norm vectors never pair (engine contract — ANSI mode would
        # abort the divide; same WHERE nv > 0 guard in the oracle)
        e = e.withColumn("nv", F.sqrt(dot(F.col("v"), F.col("v")))).filter(
            F.col("nv") > 0
        )
        a = e.alias("a")
        b = e.alias("b")
        cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv"))
        pairs = (
            a.join(
                b,
                (F.col("a.label") == F.col("b.label"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .where(cos >= 0.3)
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                cos.alias("cs"),
            )
        )
    return pairs.select(
        F.col("id_a").alias("vec_a"),
        F.col("id_b").alias("vec_b"),
        F.round("cs", 4).alias("cos_sim"),
    ).orderBy("vec_a", "vec_b")


# Shared CTE chain for the cluster family (d07, d13): mh0-blocked pairs →
# recursive reachability → min-label clusters.
_CLUSTERS_SQL = (
    _MINHASH_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
    pairs AS (
      SELECT a.doc_id AS pa, b.doc_id AS pb
      FROM mh a JOIN mh b ON a.mh0 = b.mh0 AND a.doc_id < b.doc_id
    ),
    edges AS (SELECT pa, pb FROM pairs UNION SELECT pb, pa FROM pairs),
    reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM mh
      UNION
      SELECT e.pb, reach.r FROM reach JOIN edges e ON e.pa = reach.doc_id
    ),
    clusters AS (
      SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
    )
"""
)


def _mh0_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, cluster_id) via mh0-blocked pairs + connected components —
    the Spark twin of ``_CLUSTERS_SQL``, shared by d07 and d13."""
    from final_project_big_data_spark.operators.components import (
        connected_components,
    )

    mh = _shingled(spark, sf).groupBy("doc_id").agg(*_minhash_exprs())
    pairs = (
        mh.groupBy("mh0")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) ->"
                    " transform(slice(ids, i + 2, size(ids) - i - 1),"
                    " y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    nodes = mh.select("doc_id")
    cc = connected_components(nodes, pairs, id_col="doc_id")
    return cc.select(F.col("id").alias("doc_id"), "cluster_id")


@query(
    "d07_dup_clusters",
    oracle=_CLUSTERS_SQL
    + "SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id",
    category="dedup",
)
def d07(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup clustering: LSH candidate pairs → connected components →
    canonical (min) doc_id per cluster.

    The step that turns pairwise candidates into an actual dedup decision;
    iterative min-label propagation (operators/components.py) against a
    DuckDB recursive-CTE reachability oracle.
    """
    return _mh0_clusters(spark, sf).orderBy("doc_id")


@query(
    "d13_dedup_apply",
    oracle=_CLUSTERS_SQL
    + """,
    all_clusters AS (
      SELECT doc_id, cluster_id FROM clusters
      UNION ALL
      SELECT doc_id, doc_id AS cluster_id
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents)
      WHERE len(w) < 2
    )
    SELECT c.cluster_id AS doc_id, d.source, d.n_chars,
           CAST(count(*) AS BIGINT) AS n_merged
    FROM all_clusters c JOIN documents d ON d.doc_id = c.cluster_id
    GROUP BY c.cluster_id, d.source, d.n_chars
    ORDER BY doc_id
    """,
    category="dedup",
)
def d13(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end dedup APPLIED: the surviving corpus after near-dup
    clustering — one canonical (min-id) document per cluster, annotated
    with how many members it absorbed.

    d01–d12 produce signatures, candidate pairs, and cluster labels; this
    is the operation a pipeline user actually runs before training —
    "give me the deduplicated corpus". Cluster sizes come from one
    hash-agg on the d07 labels; the canonical rows come back from
    ``documents`` via an equi-join on the cluster id (survivors are a
    subset of docs, so the join is corpus-sized, never larger). Same
    recursive-CTE oracle as d07 extended by the survivor join, so the
    whole pipeline — shingle → minhash → block → components → apply —
    stays value-hash-checked.

    Documents with fewer than 2 words produce no shingles, so they never
    enter the minhash/cluster graph — they are unioned back as singleton
    survivors (cluster_id = own doc_id) in BOTH builder and oracle, so
    the conservation property sum(n_merged) == corpus rows holds for ANY
    corpus, not just shingle-complete fixtures (ADVICE r9; pinned in
    tests/test_round10_ops.py with a short-doc corpus).
    """
    cc = _mh0_clusters(spark, sf)
    singletons = (
        widen(load_table(spark, sf, "documents"))
        .select("doc_id", _words().alias("w"))
        .filter(F.size("w") < 2)
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    cc = cc.unionByName(singletons)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("n_merged"))
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return (
        sizes.join(docs, sizes.cluster_id == docs.doc_id)
        .select("doc_id", "source", "n_chars", "n_merged")
        .orderBy("doc_id")
    )


# --------------------------------------------------------- bloom-filter dedup

_BLOOM_M = 16384  # bits; filter table is bounded by m regardless of corpus
_BLOOM_K = 3  # hash functions = 3 disjoint md5 hex windows


def _bloom_positions():
    """k bit positions per document fingerprint: three disjoint 8-hex-char
    (32-bit) windows of one md5, each mod m. One digest, k positions —
    same cost discipline as the MinHash base hash."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(F.md5("text"), 1 + 8 * j, 8), 16, 10
                ).cast("long")
                % _BLOOM_M
            )
            for j in range(_BLOOM_K)
        ]
    )


_BLOOM_POS_SQL = ", ".join(
    f"CAST('0x' || substr(md5(text), {1 + 8 * j}, 8) AS BIGINT) % {_BLOOM_M}"
    for j in range(_BLOOM_K)
)


@query(
    "d08_bloom_filter_dedup",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, source, [{_BLOOM_POS_SQL}] AS ps FROM documents
    ),
    ref AS (
      SELECT DISTINCT unnest(ps) AS pos FROM fp WHERE len(source) = 4
    ),
    probe AS (
      SELECT doc_id, unnest(ps) AS pos FROM fp WHERE len(source) > 4
    )
    SELECT probe.doc_id,
           count(ref.pos) = {_BLOOM_K} AS might_dup
    FROM probe LEFT JOIN ref ON probe.pos = ref.pos
    GROUP BY probe.doc_id ORDER BY probe.doc_id
    """,
    category="dedup",
)
def d08(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter incremental dedup: screen an incoming batch against an
    already-ingested corpus without joining on full fingerprints.

    The "filter" is the relational form of a Bloom bitmap: the DISTINCT set
    of set bit positions, at most m = {m} rows — **bounded by m, not by
    corpus size**, so it broadcasts at any scale (a 100-TB reference corpus
    still compresses to ≤ m longs). Probes explode to (doc_id, pos) and
    broadcast-join the position set; a doc is ``might_dup`` iff all k of
    its positions are set (count == k), the standard no-false-negative /
    tunable-false-positive Bloom semantics. No shuffle touches the
    reference corpus after the one distinct-positions aggregation.

    Reference half = sources 'src0'..'src9' (name length 4); probe half =
    'src10'..'src19'. Fully oracle-checked: both engines derive positions
    from the same md5 windows.
    """
    fp = load_table(spark, sf, "documents").select(
        "doc_id", "source", _bloom_positions().alias("ps")
    )
    ref = (
        fp.filter(F.length("source") == 4)
        .select(F.explode("ps").alias("pos"))
        .distinct()
    )
    probe = fp.filter(F.length("source") > 4).select(
        "doc_id", F.explode("ps").alias("pos")
    )
    return (
        probe.join(F.broadcast(ref.withColumn("_set", F.lit(1))), "pos", "left")
        .groupBy("doc_id")
        .agg((F.count("_set") == _BLOOM_K).alias("might_dup"))
        .orderBy("doc_id")
    )


d08.__doc__ = d08.__doc__.format(m=_BLOOM_M)


@query(
    "x07_components_star",
    oracle=_MINHASH_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
    pairs AS (
      SELECT a.doc_id AS pa, b.doc_id AS pb
      FROM mh a JOIN mh b ON a.mh0 = b.mh0 AND a.doc_id < b.doc_id
    ),
    edges AS (SELECT pa, pb FROM pairs UNION SELECT pb, pa FROM pairs),
    reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM mh
      UNION
      SELECT e.pb, reach.r FROM reach JOIN edges e ON e.pa = reach.doc_id
    )
    SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
    ORDER BY doc_id
    """,
    category="dedup",
)
def x07(spark: SparkSession, sf: str) -> DataFrame:
    """d07's clustering recomputed with the large-star/small-star algorithm
    (``operators/components.connected_components_star``) — O(log n) rounds
    instead of O(diameter), the variant you switch to when dup chains run
    deep. Same LSH pairs, same recursive-CTE oracle as d07: the two
    implementations are cross-validated against the identical exact answer.
    """
    from final_project_big_data_spark.operators.components import (
        connected_components_star,
    )

    mh = _shingled(spark, sf).groupBy("doc_id").agg(*_minhash_exprs())
    pairs = (
        mh.groupBy("mh0")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) ->"
                    " transform(slice(ids, i + 2, size(ids) - i - 1),"
                    " y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    nodes = mh.select("doc_id")
    cc = connected_components_star(nodes, pairs, id_col="doc_id")
    return cc.select(F.col("id").alias("doc_id"), "cluster_id").orderBy(
        "doc_id"
    )


