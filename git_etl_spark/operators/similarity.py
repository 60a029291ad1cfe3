"""Similarity search over embeddings — SURVEY.md §2.10 X3.

Two tiers, as a production vector pipeline would have:

- **Brute-force exact top-k** (oracled): cross join queries × corpus,
  cosine in pure double array lambdas, per-query row_number. The
  correctness baseline; at 100 TB this is the shape you run *within a
  block*, never globally.
- **LSH-bucketed approximate** (oracled since round 4 — the dot fold
  is bitwise-reproducible in DuckDB): random-hyperplane signature
  buckets via fixed seed vectors — candidates only form within a
  bucket, which is the scale path (candidate count ∝ bucket size, not
  corpus²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import (
    cosine,
    duck_cosine,
    duck_dec14_to_double,
    duck_dot,
    duck_mean14,
    duck_sum14,
    mean14,
    py_dec14,
    sum14,
)
from ..io import load_table
from ..registry import query
from ..session import iter_checkpoint, loop_shuffle_partitions, session_artifact

TOP_K = 5
N_QUERIES = 10  # query set = vec_id < 10


def _spread_corpus(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Spread the corpus scan across every core before map-side scoring.

    The embeddings corpus at bench scale is ONE small parquet file →
    one input split, so a broadcast-crossJoin cosine scan runs as a
    SINGLE task on one core — data-linear serialization at any corpus
    size (the round-10 cores sweep measured simsearch_topk_bruteforce
    flat at ~4.6 s from local[4] to local[32] on a 10× corpus; the
    same failure mode the round-9 media sweep fixed for the decode
    stages). The explicit-N repartition is exempt from AQE's
    byte-based coalescer (which reads this corpus as "small" and
    would re-serialize the CPU-heavy lambda math); on a multi-split
    estate the exchange is redundant but costs one narrow corpus
    pass (~0.05 s at sf0.1) — kept for scale correctness, matching
    the media-family and dedup `_unit_cols` precedents."""
    return df.repartition(spark.sparkContext.defaultParallelism)


@query(
    "simsearch_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < {N_QUERIES} AND embedding IS NOT NULL),
    scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               {duck_cosine('q.q_emb', 'e.embedding')} AS cos_sim
        FROM q, embeddings e
        WHERE e.vec_id <> q.q_id AND e.embedding IS NOT NULL
    ),
    ranked AS (
        SELECT q_id, neighbor_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT q_id, neighbor_id, cos_sim, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
)
def simsearch_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for a query set: broadcast the (small) query
    side, score every candidate, keep k per query via row_number.
    Bitwise-reproducible double math (see functions/vector.py).

    NULL embeddings are excluded on BOTH sides and in the oracle (r14
    null-heavy sweep made the family uniform): a tombstoned vector is
    neither a query nor a neighbor — without the filter the top-k pads
    with NULL-similarity "neighbors" whenever fewer than k real
    vectors exist, identically on both engines but meaninglessly."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(_spread_corpus(spark, emb))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )


@query(
    "simsearch_lsh_bucketed",
    oracle=f"""
    WITH planes AS (
        SELECT vec_id AS h_id, embedding AS h FROM embeddings
        WHERE vec_id >= 100 AND vec_id < 108
    ),
    sigs AS (
        SELECT e.vec_id,
               CAST(SUM(CASE WHEN {duck_dot("e.embedding", "p.h")} >= 0
                        THEN (1 << CAST(p.h_id - 100 AS INT))
                        ELSE 0 END) AS INT) AS signature
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id
    )
    SELECT signature, COUNT(*) AS bucket_size
    FROM sigs GROUP BY signature
    """,
)
def simsearch_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 8-bit signatures from sign(v·hᵢ) against
    8 fixed in-corpus hyperplanes (vec_id 100..107, L2-normalized
    implicitly by sign). Neighbor candidates only join within the same
    bucket — the corpus² cross join never materializes. Returns
    per-bucket candidate stats; the top-k-within-bucket refinement
    reuses simsearch_topk_bruteforce's scoring inside each bucket.

    Oracled since round 4: the dot fold is bitwise-reproducible in
    DuckDB (functions/vector.py), so every signature bit — and
    therefore the whole bucket histogram — is hash-verified
    cross-engine.

    At 100 TB: signatures are one narrow shuffle key; skewed buckets
    (hot signatures) split via AQE skew-join or signature+salt."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = (
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 108))
        .orderBy("vec_id")
        .select(F.col("vec_id").alias("h_id"), F.col("embedding").alias("h"))
    )
    # NO _spread_corpus here, deliberately: the map-side work is 8
    # dot products per row (light, vectorized codegen), and the heavy
    # lifting (signature groupBy) already shuffles — measured at sf0.1
    # the exchange costs +0.29 s against ~0 spread benefit, and the 10×
    # corpus runs flat ~0.8 s at every core count (floor-dominated).
    # Same left-as-is reasoning as the three scalar pandas_udf sites
    # (PERFORMANCE.md round 9).
    joined = emb.crossJoin(F.broadcast(planes))
    from ..functions.vector import dot

    bit = F.when(dot(F.col("embedding"), F.col("h")) >= 0, F.lit(1)).otherwise(
        F.lit(0)
    )
    sigs = (
        joined.select(
            "vec_id",
            (bit * F.expr("shiftleft(1, CAST(h_id - 100 AS INT))")).alias(
                "sig_bit"
            ),
        )
        .groupBy("vec_id")
        .agg(F.sum("sig_bit").cast("int").alias("signature"))
    )
    return (
        sigs.groupBy("signature")
        .agg(F.count("*").alias("bucket_size"))
        .orderBy("signature")
    )


@query(
    "vector_centroid_per_label",
    oracle=f"""
    WITH elems AS (
        SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    )
    SELECT label, pos,
           {duck_mean14('val')} AS centroid_val,
           COUNT(*) AS n_vecs
    FROM elems GROUP BY label, pos
    """,
)
def vector_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector aggregate: per-label centroid in long format (label, pos,
    mean component) — the distributed shape of a k-means update step /
    class-prototype computation, one shuffle keyed on (label, pos).

    Determinism at scale: the mean is the order-independent 1e-14-unit
    scaled-DECIMAL sum (functions/vector.py sum14/mean14), which
    partial-aggregates map-side with O(1) per-group state and
    reconstructs a bit-identical double in both engines. A plain double
    SUM is partial-merge-order dependent; the earlier sorted-fold
    (array_sort ∘ collect_list) was order-canonical but carried
    per-group state ∝ corpus — an executor OOM at 100 TB. The ≤1e-14
    per-element truncation is the documented accuracy contract."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "label",
        F.posexplode("embedding").alias("pos", "raw"),
    ).select("label", "pos", F.col("raw").cast("double").alias("val"))
    return elems.groupBy("label", "pos").agg(
        mean14(F.col("val")).alias("centroid_val"),
        F.count("*").alias("n_vecs"),
    )


K_CELLS = 16  # IVF coarse cells
N_PROBE = 2  # cells searched per query


def _ivf_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The trained IVF index: Lloyd k-means centroids plus the
    per-vector cell posting list, both checkpointed and small. Session
    artifact, consumed by simsearch_ivf and simsearch_ivf_full_probe.
    See ivf_topk for the algorithm and determinism contract."""
    return session_artifact(
        spark, "ivf-index", sf_dir, ("embeddings",), lambda: _ivf_train(spark, sf_dir)
    )


def ivf_topk(spark: SparkSession, sf_dir: str, n_probe: int = N_PROBE) -> DataFrame:
    """IVF (inverted-file) approximate top-k: Lloyd k-means learns
    K_CELLS coarse cells, every vector is posted to its nearest cell,
    and each query scores candidates only in its ``n_probe`` nearest
    cells. With ``n_probe == K_CELLS`` this degrades to exact brute
    force (the recall test asserts that equality); with small
    ``n_probe`` the scored-candidate count drops to ~n_probe/K of the
    corpus — the scale path where brute force is the per-cell kernel.

    Everything is deterministic: seeds are vec_id < K_CELLS, three
    Lloyd rounds, and centroid means use the sorted-fold sum (see
    vector_centroid_per_label) so no double addition depends on
    partitioning. Each round ends in a localCheckpoint (16 rows) so
    lineage stays flat.

    At 100 TB: centroids are always broadcast (K·dim doubles); the
    cell assignment is one narrow shuffle; per-cell search is an equi
    join on cell id — skewed (hot) cells split by AQE. Training runs
    on a sample; assignment streams."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids, posting = _ivf_index(spark, sf_dir)
    l2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    q_vecs = queries.select(
        "q_id", F.transform("q_emb", lambda x: x.cast("double")).alias("qv")
    )
    w_probe = Window.partitionBy("q_id").orderBy("dist", "cell")
    probes = (
        q_vecs.crossJoin(F.broadcast(centroids))
        .withColumn("dist", l2(F.col("qv"), F.col("cv")))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "cell")
    )
    cand = (
        F.broadcast(probes)
        .join(posting, "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
    )
    scored = (
        cand.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(queries), "q_id")
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w_rank = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w_rank)).filter(
        F.col("rnk") <= TOP_K
    )


def _ivf_train(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The IVF training job (see ivf_topk docstring): deterministic
    Lloyd rounds producing (centroids, posting)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    l2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    centroids = iter_checkpoint(
        vecs.filter(F.col("vec_id") < K_CELLS).select(
            F.col("vec_id").alias("cell"), F.col("v").alias("cv")
        )
    )
    w_assign = Window.partitionBy("vec_id").orderBy("dist", "cell")
    # Lloyd rounds shuffle ~|corpus|·dim exploded elements; size the
    # round to that working set instead of the session default (the
    # training loop is the fixed-cost-dominated part of the query)
    with loop_shuffle_partitions(
        spark, vecs.count() * 64, rows_per_partition=20_000
    ):
        for _ in range(3):
            assigned = (
                vecs.crossJoin(F.broadcast(centroids))
                .withColumn("dist", l2(F.col("v"), F.col("cv")))
                .withColumn("rn", F.row_number().over(w_assign))
                .filter(F.col("rn") == 1)
                .select("vec_id", "cell", "v")
            )
            elems = assigned.select("cell", F.posexplode("v").alias("pos", "val"))
            # order-independent scaled-integer mean (functions/vector.py):
            # O(1) per-group state, deterministic under any partitioning —
            # cells are corpus-sized groups, so no collect_list here
            means = elems.groupBy("cell", "pos").agg(
                mean14(F.col("val")).alias("m")
            )
            centroids = iter_checkpoint(
                means.groupBy("cell")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "m"))),
                        lambda s: s.getField("m"),
                    ).alias("cv")
                )
            )
        posting = (
            vecs.crossJoin(F.broadcast(centroids))
            .withColumn("dist", l2(F.col("v"), F.col("cv")))
            .withColumn("rn", F.row_number().over(w_assign))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cell")
        )
        posting = iter_checkpoint(posting)  # materialized inside the
        # sized-loop scope, per the loop_shuffle_partitions contract
    return centroids, posting


@query("simsearch_ivf")  # rows-only: learned cells are engine-internal
def simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors at the default n_probe (see
    ivf_topk — the registered surface of the IVF index)."""
    return ivf_topk(spark, sf_dir, N_PROBE)


@query(
    "simsearch_ivf_full_probe",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < {N_QUERIES} AND embedding IS NOT NULL),
    scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               {duck_cosine('q.q_emb', 'e.embedding')} AS cos_sim
        FROM q, embeddings e
        WHERE e.vec_id <> q.q_id AND e.embedding IS NOT NULL
    ),
    ranked AS (
        SELECT q_id, neighbor_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT q_id, neighbor_id, cos_sim, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
)
def simsearch_ivf_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index with ``n_probe == K_CELLS``: every cell is probed,
    so the index structurally degrades to exact brute force — and the
    oracle is therefore the exact top-k SQL definition. This gives the
    whole IVF machinery (Lloyd training, cell posting, probe routing,
    candidate scoring, ranking) a hash-checked cross-engine gate every
    driver round, complementing the rows-only default-``n_probe``
    surface and the pytest bit-equality twin
    (tests/test_rows_only.py::test_ivf_full_probe_equals_bruteforce):
    a routing bug that silently dropped or duplicated candidates would
    MISMATCH here even though it survives recall-style checks."""
    return ivf_topk(spark, sf_dir, K_CELLS)


@query("simsearch_ann_ml_lsh")  # rows-only: pyspark.ml LSH is seed-dependent
def simsearch_ann_ml_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pyspark.ml BucketedRandomProjectionLSH approximate similarity
    join (Euclidean): the library scale path. Returns approx-neighbor
    pairs (vec_id < 10 queries) within a distance threshold; model
    hashes are seeded for reproducibility of THIS engine (not
    cross-engine, hence rows-only)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # _spread_corpus: the per-row hash projections (numHashTables × d
    # dot products via the ml Vector UDT) otherwise run on the single
    # input split — the round-10 cores screen measured this query
    # data-growing (0.83 → 2.09 s at 10×) but flat in cores. Hash
    # values depend only on (features, seed), so the spread cannot
    # change the result set.
    # a null vector has no geometry: the array_to_vector UDF (and
    # .fit's dimension probe) die on it; drop such rows like every
    # other simsearch query does implicitly (NULL distances never
    # pass their comparisons)
    base = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    if base.isEmpty():
        # ml LSH .fit dies on an empty corpus ("head of empty array"
        # while inferring the vector dimension); an empty index has an
        # empty neighbor set. Probed BEFORE the _spread_corpus
        # repartition so the limit-1 pushes into the scan (after an
        # exchange it would force a full shuffle-map stage).
        return spark.createDataFrame(
            [], "q_id LONG, neighbor_id LONG, dist DOUBLE"
        )
    emb = _spread_corpus(spark, base).select(
        "vec_id", array_to_vector("embedding").alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=4,
        seed=42,
    )
    model = lsh.fit(emb)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    pairs = model.approxSimilarityJoin(queries, emb, 3.0, distCol="dist")
    return pairs.select(
        F.col("datasetA.vec_id").alias("q_id"),
        F.col("datasetB.vec_id").alias("neighbor_id"),
        F.col("dist"),
    ).filter(F.col("q_id") != F.col("neighbor_id"))


PQ_M = 8  # subspaces (64-dim embedding → 8 × 8-dim subvectors)
PQ_K = 16  # codes per subspace → 4 bits; 8 codes/vec = 32 bits total
PQ_ROUNDS = 2  # Lloyd rounds per subspace
PQ_SHORTLIST = 100  # ADC candidates per query that reach the exact re-rank


def _pq_l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def pq_codebooks_and_codes(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Train per-subspace codebooks (deterministic Lloyd, seeded by the
    first PQ_K vectors' subvectors) and encode the corpus.

    Returns (codebooks: (m, code, cv), codes: (vec_id, m, code)).
    All PQ_M subspaces train **concurrently in one plan** — the Lloyd
    round is a single job keyed by (m, code), not a per-subspace loop —
    so the round count, not the subspace count, bounds the number of
    shuffles. Session artifact, consumed by simsearch_pq_adc and
    simsearch_pq_full_rerank."""
    return session_artifact(
        spark, "pq-codebooks", sf_dir, ("embeddings",), lambda: _pq_train(spark, sf_dir)
    )


def _pq_train(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    sub_dim = 64 // PQ_M
    # (vec_id, m, sv): the m-th contiguous sub_dim-slice, cast double
    subvecs = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("pos", "raw"))
        .select(
            "vec_id",
            (F.col("pos") / sub_dim).cast("int").alias("m"),
            (F.col("pos") % sub_dim).alias("sub_pos"),
            F.col("raw").cast("double").alias("val"),
        )
        .groupBy("vec_id", "m")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub_pos", "val"))),
                lambda s: s.getField("val"),
            ).alias("sv")
        )
    )
    # Measured and NOT spread (round-10 cores screen): explicit
    # repartitions on subvecs/codes parallelize the ADC scoring at 10×
    # (2.11 → 1.50 s) but cost +0.58 s at sf0.1 — two extra exchanges
    # on an already exchange-heavy pipeline whose fixed costs dominate
    # at bench byte sizes. The 10× serialization is the AQE coalescer
    # folding kilobyte shuffle outputs; at real corpus size the codes
    # table is TBs and coalescing itself yields thousands of
    # partitions, so the artifact is bench-local. Rejected with
    # numbers, same discipline as PERFORMANCE.md round 9's
    # "measured and left alone" tier.
    subvecs = iter_checkpoint(subvecs)
    codebooks = iter_checkpoint(
        subvecs.filter(F.col("vec_id") < PQ_K).select(
            "m", F.col("vec_id").cast("int").alias("code"), F.col("sv").alias("cv")
        )
    )
    w_assign = Window.partitionBy("vec_id", "m").orderBy("dist", "code")
    for _ in range(PQ_ROUNDS):
        assigned = (
            subvecs.join(F.broadcast(codebooks), "m")
            .withColumn("dist", _pq_l2(F.col("sv"), F.col("cv")))
            .withColumn("rn", F.row_number().over(w_assign))
            .filter(F.col("rn") == 1)
            .select("vec_id", "m", "code", "sv")
        )
        elems = assigned.select(
            "m", "code", F.posexplode("sv").alias("sub_pos", "val")
        )
        # scaled-integer mean: O(1) per-group state over corpus-sized
        # (m, code, sub_pos) groups (see functions/vector.py mean14)
        means = elems.groupBy("m", "code", "sub_pos").agg(
            mean14(F.col("val")).alias("mv")
        )
        codebooks = iter_checkpoint(
            means.groupBy("m", "code").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub_pos", "mv"))),
                    lambda s: s.getField("mv"),
                ).alias("cv")
            )
        )
    codes = iter_checkpoint(
        subvecs.join(F.broadcast(codebooks), "m")
        .withColumn("dist", _pq_l2(F.col("sv"), F.col("cv")))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "code")
    )
    return codebooks, codes


@query("simsearch_pq_adc")  # rows-only: learned codebooks are engine-internal
def simsearch_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of the PQ-ADC index at the production
    shortlist depth (see pq_adc_topk)."""
    return pq_adc_topk(spark, sf_dir, PQ_SHORTLIST)


def pq_adc_topk(
    spark: SparkSession, sf_dir: str, shortlist_n: int
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou et al., TPAMI'11): the 64-dim float corpus is compressed to
    8 four-bit codes per vector (64× smaller than float32), and each
    query scores the *whole* corpus through an 8×16 per-query lookup
    table — approximate L2 = Σ_m table[m, code_m(v)] — instead of
    touching raw vectors.

    The 100 TB story is the compression: a 100 TB float corpus becomes
    ~1.5 TB of codes, the per-query distance table is 128 doubles
    (always broadcast), and scoring is an equi-join of codes against
    the table followed by a fixed-depth fold — no full-precision
    vector ever moves after encoding. Re-ranking the ADC top
    candidates against raw vectors (the standard two-stage refinement)
    is stage two here: only the shortlist_n-deep ADC shortlist touches raw
    vectors (the corpus is unit-norm, so exact-L2 order ≡ cosine
    order and the re-rank is the cosine kernel). Deterministic end to
    end: seeded Lloyd, sorted folds, total tie-break order; recall vs
    the exact oracle is pytest-asserted."""
    codebooks, codes = pq_codebooks_and_codes(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    sub_dim = 64 // PQ_M
    q_sub = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", F.posexplode("embedding").alias("pos", "raw"))
        .select(
            F.col("vec_id").alias("q_id"),
            (F.col("pos") / sub_dim).cast("int").alias("m"),
            (F.col("pos") % sub_dim).alias("sub_pos"),
            F.col("raw").cast("double").alias("val"),
        )
        .groupBy("q_id", "m")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub_pos", "val"))),
                lambda s: s.getField("val"),
            ).alias("qv")
        )
    )
    # per-query ADC table: distance from each query subvector to every
    # code centroid — PQ_M × PQ_K rows per query
    table = (
        q_sub.join(F.broadcast(codebooks), "m")
        .select("q_id", "m", "code", _pq_l2(F.col("qv"), F.col("cv")).alias("d"))
    )
    # score all corpus codes against the broadcast table; the per-pair
    # distance folds the 8 per-subspace terms in sorted m-order so the
    # double sum is partition-independent
    scored = (
        codes.join(F.broadcast(table), on=["m", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "d"))),
                    lambda s: s.getField("d"),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("adc_dist")
        )
    )
    # two-stage refinement (the standard PQ deployment): ADC shortlists
    # PQ_SHORTLIST candidates per query from codes alone, then only the
    # shortlist touches raw vectors for an exact cosine re-rank
    w_adc = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    shortlist = (
        scored.withColumn("adc_rnk", F.row_number().over(w_adc))
        .filter(F.col("adc_rnk") <= shortlist_n)
        .select("q_id", "vec_id", "adc_dist")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    reranked = (
        shortlist.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(queries), "q_id")
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_dist",
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w_exact = Window.partitionBy("q_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        reranked.withColumn("rnk", F.row_number().over(w_exact))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "neighbor_id", "adc_dist", "cos_sim", "rnk")
    )


@query(
    "simsearch_pq_full_rerank",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < {N_QUERIES} AND embedding IS NOT NULL),
    scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               {duck_cosine('q.q_emb', 'e.embedding')} AS cos_sim
        FROM q, embeddings e
        WHERE e.vec_id <> q.q_id AND e.embedding IS NOT NULL
    ),
    ranked AS (
        SELECT q_id, neighbor_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT q_id, neighbor_id, cos_sim, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
)
def simsearch_pq_full_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ-ADC two-stage pipeline with an unbounded shortlist: every
    corpus vector passes ADC scoring into the exact re-rank, so the
    output must equal exact brute-force top-k — and the oracle is that
    SQL definition. Like simsearch_ivf_full_probe this hash-gates the
    index *machinery* (codebook training, 4-bit encoding, ADC table
    join, fold, shortlist window, re-rank) cross-engine every driver
    round: a bug that dropped or duplicated candidates anywhere in the
    chain MISMATCHes here while recall tests might still pass.
    adc_dist is projected away — it is the one engine-internal column
    (learned codebooks), and the re-ranked order must not depend on it.
    """
    return pq_adc_topk(spark, sf_dir, 1 << 30).select(
        "q_id", "neighbor_id", "cos_sim", "rnk"
    )


PCA_ITERS = 500  # power-iteration rounds on the 64x64 covariance (small eigengap)


@query("embedding_pca_top_component")  # rows-only: eigensolve is iterative
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First principal component of the embedding corpus: per-dimension
    mean, PC1 loading, the top eigenvalue, and its explained-variance
    ratio — the spectral summary behind whitening, drift detection on
    representation spaces, and SemDeDup-style cluster pre-conditioning.

    Split of labor that scales: the *data-sized* work is one pass
    building the 64×64 second-moment matrix (a per-row array lambda
    expands each vector's upper symmetric half of the cell grid, each
    cell an order-independent scaled-DECIMAL sum, so cells
    partial-aggregate map-side with O(1) state — no element self-join)
    plus the same-machinery mean vector. The *eigensolve*
    then runs on 4096 driver-side numbers (fixed 500-round power
    iteration, deterministic float ops) — O(d²) metadata, the
    documented legitimate driver step, same category as broadcasting
    k-means centroids. At 100 TB the moment pass is the only part that
    sees data, and it is a single partial-aggregated shuffle of d²
    cells regardless of corpus size.

    Verification (pytest, tests/test_rows_only.py): unit-norm loading,
    eigen-residual ‖Cv−λv‖ < 1e-6·λ, |cos| ≥ 0.999 agreement with
    numpy.linalg.eigh on the same matrix, run-to-run determinism —
    plus the hash-oracled ppm twin ``embedding_pca_loading_ppm``."""
    d, n, mu, v, lam, trace = _pca_power_solve(spark, sf_dir)
    evr = lam / trace if trace else 0.0
    out = [(i, mu[i], v[i], lam, evr) for i in range(d)]
    return spark.createDataFrame(
        out, "pos INT, mean_val DOUBLE, pc1_loading DOUBLE, "
        "eigenvalue DOUBLE, explained_variance_ratio DOUBLE"
    )


def _pca_power_solve(
    spark: SparkSession, sf_dir: str
) -> tuple[int, int, list, list, float, float]:
    """Shared PCA kernel: distributed moment pass + driver-side
    fixed-round power iteration. Every float operation is written to be
    reproducible verbatim in DuckDB (scaled-DECIMAL exact sums with the
    sign/hi/lo double reconstruction, math.sqrt, identical association
    order), which is what lets ``embedding_pca_loading_ppm``
    hash-oracle the whole solve cross-engine. Both the mean pass and
    the moment cells carry O(1) per-group aggregation state (no
    collect_list over corpus-sized groups) and the DECIMAL(38,0) sums
    hold exactly to ~10²⁴ terms — executor-memory- and overflow-safe at
    100 TB. Returns (d, n, mu, v, lam, trace)."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    # One compact row per vector, spread across every core: the moment
    # pass below expands each vector into d(d+1)/2 = 2080 cell
    # products, CPU that a single-split scan would serialize onto one
    # task (the round-10 cores-sweep failure mode; AQE's byte-based
    # coalescer reads the corpus as "small" — bytes are a poor proxy
    # for a 2080× expansion, so the explicit-N exchange stays). The
    # exchange now carries n vector rows (one 64-double array each)
    # instead of the former n·d exploded element rows — 64× fewer
    # shuffle rows for the same CPU spread — and the lazy checkpoint
    # lets the means and cells passes share one scan+shuffle instead
    # of re-exploding per consumer.
    vecs = iter_checkpoint(
        _spread_corpus(
            spark,
            emb.select(
                "vec_id",
                F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
                    "e"
                ),
            ),
        ),
        eager=False,  # the means collect below materializes it — one job
    )
    means_rows = (
        vecs.select(F.posexplode("e").alias("pos", "val"))
        .groupBy("pos")
        .agg(sum14(F.col("val")).alias("s14"), F.count("*").alias("n"))
        .collect()
    )
    d = len(means_rows)
    if d == 0:
        # empty corpus: no moments, no spectrum — callers emit an
        # empty result, and the DuckDB twin emits zero rows through
        # its explicit `WHERE EXISTS (SELECT 1 FROM elems)` guard
        # (without that guard its ungrouped list() aggregate would
        # produce one NULL-matrix row and 64 NULL outputs)
        return 0, 0, [], [], 0.0, 0.0
    n = means_rows[0]["n"]
    mu = [0.0] * d
    for r in means_rows:
        mu[r["pos"]] = py_dec14(r["s14"]) / float(r["n"])
    # second-moment matrix S[i][j] = Σ x_i·x_j; covariance C = S/n − μμᵀ
    # is formed driver-side from d² numbers. The upper symmetric half
    # is expanded per ROW by a SQL lambda (the agg_frequent_itemset_
    # pairs basket pattern): each vector emits its own d(d+1)/2
    # (i, j, x_i·x_j) terms inline — the identical term set the former
    # posexplode + self-join on vec_id produced, without shuffling n·d
    # element rows into the join or running the join at all (guide §2.4
    # "remove shuffles outright" / §2.3 "shuffle fewer bytes"; A/B and
    # plan diff in OPTIMIZATION_r15.md — the n·d-row exchange and the
    # self-join disappear, leaving one n-row exchange).
    pairs = vecs.select(
        F.explode(
            F.expr(
                "flatten(transform(e, (x, i) -> "
                "transform(slice(e, i + 1, size(e) - i), "
                "(y, j) -> struct(i AS i, i + j AS j, x * y AS xx))))"
            )
        ).alias("p")
    ).select("p.i", "p.j", "p.xx")
    # scaled-integer accumulation: each double product is truncated to
    # 1e-14 units and summed as DECIMAL(38,0) — order-independent (so
    # the cells partial-aggregate map-side; the shuffle carries d²
    # cells, not n·d² terms) and exact to ~10²⁴ terms (a BIGINT cell
    # would overflow int64 past n ≈ 9·10⁴ terms — not 100 TB-safe).
    # The ≤1e-14 per-term truncation is 8 orders below the
    # 1e-6-relative eigen checks; py_dec14 reconstructs the identical
    # double both engines compute.
    cells = (
        pairs.groupBy("i", "j")
        .agg(sum14(F.col("xx")).alias("s14"))
        .collect()
    )
    S = [[0.0] * d for _ in range(d)]
    for r in cells:
        S[r["i"]][r["j"]] = py_dec14(r["s14"])
        S[r["j"]][r["i"]] = S[r["i"]][r["j"]]
    C = [[S[i][j] / n - mu[i] * mu[j] for j in range(d)] for i in range(d)]
    # fixed-round power iteration (deterministic float ops, no RNG).
    # numpy carries the arithmetic, but ONLY in forms bit-identical to
    # the sequential Python fold the DuckDB oracle mirrors: elementwise
    # multiply/divide are correctly-rounded IEEE ops in either runtime,
    # and np.cumsum(...)[-1] IS the left-to-right fold (asserted
    # bit-for-bit against the pure-Python loop over 500 rounds in
    # tests/test_pca_moment_pass.py::test_pca_numpy_fold_bit_identical).
    # 500·d² interpreted multiply-adds (~0.25 s of driver time per
    # solve) become C-speed (guide §1.2: per-task — here per-driver —
    # work, after the job shape is right).
    import numpy as np

    Ca = np.array(C, dtype=np.float64)
    va = np.zeros(d)
    va[0] = 1.0
    lam = 0.0
    for _ in range(PCA_ITERS):
        w = np.cumsum(Ca * va, axis=1)[:, -1]
        norm = math.sqrt(np.cumsum(w * w)[-1])
        if norm == 0.0:
            # exactly-zero covariance (e.g. every vector identical):
            # the iterate is already a fixed point; keep the current
            # unit vector with eigenvalue 0 instead of dividing by 0
            lam = 0.0
            break
        va = w / norm
        lam = norm
    v = va.tolist()
    trace = sum(C[i][i] for i in range(d))
    return d, n, mu, v, lam, trace


# DuckDB twin of the ENTIRE PCA solve — the moment pass (exact
# scaled-DECIMAL cells and means, sign/hi/lo double reconstruction)
# AND the 500-round power iteration, run as a recursive CTE over a
# list-typed state vector with the same sequential fold arithmetic as
# the Python loop. MATERIALIZED is load-bearing: without it DuckDB
# re-evaluates the moment-matrix chain on every one of the 500
# recursive steps (measured 63 s → 0.9 s).
_PCA_PPM_ORACLE = f"""
WITH RECURSIVE elems AS MATERIALIZED (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS val
    FROM embeddings
),
mu AS MATERIALIZED (
    SELECT pos, {duck_mean14('val')} AS mu,
           COUNT(*) AS n
    FROM elems GROUP BY pos
),
cells AS MATERIALIZED (
    SELECT a.pos AS i, b.pos AS j,
           {duck_sum14('a.val * b.val')} AS s14
    FROM elems a JOIN elems b USING (vec_id)
    WHERE b.pos >= a.pos
    GROUP BY a.pos, b.pos
),
mat AS MATERIALIZED (
    SELECT list(row ORDER BY i) AS m FROM (
        SELECT i, list(c ORDER BY j) AS row FROM (
            SELECT i, j,
                   {duck_dec14_to_double('s14')} / (SELECT ANY_VALUE(n) FROM mu)
                     - (SELECT mu FROM mu WHERE pos = i)
                     * (SELECT mu FROM mu WHERE pos = j) AS c
            FROM (SELECT i, j, s14 FROM cells
                  UNION ALL
                  SELECT j AS i, i AS j, s14 FROM cells WHERE i <> j)
        ) GROUP BY i
    )
),
it AS (
    SELECT 0 AS k,
           list_transform(range(0, 64),
             i -> CAST(CASE WHEN i = 0 THEN 1 ELSE 0 END AS DOUBLE)) AS v,
           CAST(0 AS DOUBLE) AS lam
    UNION ALL
    -- nrm = 0 (exactly-zero covariance, e.g. every vector identical)
    -- mirrors the Spark solver's fixed-point break: keep the current
    -- unit iterate with eigenvalue 0 instead of dividing by zero
    -- (DuckDB x/0 -> NULL would otherwise poison the whole recursion)
    SELECT k + 1,
           CASE WHEN nrm = 0 THEN v
                ELSE list_transform(w, x -> x / nrm) END,
           CASE WHEN nrm = 0 THEN CAST(0 AS DOUBLE) ELSE nrm END
    FROM (
        SELECT k, v,
               list_transform(range(0, 64),
                 i -> list_aggregate(list_transform(range(0, 64),
                        j -> m[i + 1][j + 1] * v[j + 1]), 'sum')) AS w
        FROM it, mat WHERE k < 500
    ),
    LATERAL (SELECT sqrt(list_aggregate(list_transform(w, x -> x * x), 'sum')) AS nrm)
),
anch AS (
    SELECT v, lam,
           CASE WHEN v[list_position(list_transform(v, x -> abs(x)),
                        list_aggregate(list_transform(v, x -> abs(x)), 'max'))]
                     > 0
                THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS s,
           (SELECT list_aggregate(
                list_transform(range(0, 64), i -> m[i + 1][i + 1]), 'sum')
            FROM mat) AS trace
    FROM it WHERE k = 500
)
SELECT CAST(t.i AS INT) AS pos,
       CAST(floor(s * v[t.i + 1] * 1000000 + 0.5) AS BIGINT) AS loading_ppm,
       CAST(floor(lam * 1000000000 + 0.5) AS BIGINT) AS eigenvalue_ppb,
       CAST(floor(CASE WHEN trace = 0 THEN 0 ELSE lam / trace END
                  * 1000000 + 0.5) AS BIGINT) AS evr_ppm
FROM anch, range(0, 64) t(i)
-- empty corpus: no elements -> no spectrum -> ZERO rows, matching the
-- Spark solver's d == 0 early return (without this the ungrouped
-- list() in mat emits one NULL-matrix row and 64 NULL outputs here)
WHERE EXISTS (SELECT 1 FROM elems)
"""


@query("embedding_pca_loading_ppm", oracle=_PCA_PPM_ORACLE)
def embedding_pca_loading_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-oracled surface of the PCA solve: PC1 loadings sign-anchored
    (the component with the largest |loading| is made positive —
    eigenvectors are defined up to sign) and quantized to exact ppm
    integers, plus the eigenvalue (ppb) and explained-variance ratio
    (ppm). The DuckDB oracle reproduces the *entire* computation — the
    distributed moment pass arrives at bit-identical doubles (exact
    scaled-BIGINT cells + sorted-fold means) and a recursive CTE runs
    the same 500 power-iteration rounds with the same sequential fold
    order, so the quantization has ~8 orders of magnitude of margin.
    This converts the PCA family from rows-only to a full cross-engine
    hash gate every driver round (the unquantized doubles remain
    available as ``embedding_pca_top_component``)."""
    import math

    d, n, mu, v, lam, trace = _pca_power_solve(spark, sf_dir)
    if d == 0:
        return spark.createDataFrame(
            [],
            "pos INT, loading_ppm BIGINT, eigenvalue_ppb BIGINT, "
            "evr_ppm BIGINT",
        )
    m = max(range(d), key=lambda i: (abs(v[i]), -i))
    s = 1.0 if v[m] > 0 else -1.0
    evr = lam / trace if trace else 0.0
    out = [
        (
            i,
            int(math.floor(s * v[i] * 1e6 + 0.5)),
            int(math.floor(lam * 1e9 + 0.5)),
            int(math.floor(evr * 1e6 + 0.5)),
        )
        for i in range(d)
    ]
    return spark.createDataFrame(
        out, "pos INT, loading_ppm BIGINT, eigenvalue_ppb BIGINT, evr_ppm BIGINT"
    )


# ---------------------------------------------------------------------------
# Range query: all neighbors within a similarity radius
# ---------------------------------------------------------------------------

RANGE_N_PROBES = 3  # probe set = vec_id < 3
RANGE_TAU = 0.30  # cosine radius (calibrated to near-random vectors)


@query(
    "simsearch_range_cosine",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < {RANGE_N_PROBES})
    SELECT q.q_id, e.vec_id AS neighbor_id,
           {{cos}} AS cos_sim
    FROM q, embeddings e
    WHERE e.vec_id <> q.q_id AND {{cos}} >= {RANGE_TAU}
    """.replace("{cos}", duck_cosine("q.q_emb", "e.embedding")),
)
def simsearch_range_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range query: EVERY corpus vector within cosine ≥ τ of each probe
    (the radius-based complement of top-k — dedup candidate pulls and
    recommendation candidate pools want "all close enough", not "the k
    closest"). Exact tier: broadcast the probe set, score all vectors,
    keep the threshold survivors; the cosine fold is the bitwise-
    reproducible double chain shared with the other exact kernels, so
    the ≥ τ comparison decides identically in both engines.

    At 100 TB the probe side stays broadcast and the corpus scan
    shards freely (the _spread_corpus exchange exists for the
    single-split bench artifact; on a sharded estate scan → filter
    needs no shuffle); with a large probe set the same query routes
    through the LSH/IVF bucketed candidate generation instead
    (simsearch_lsh_bucketed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < RANGE_N_PROBES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return (
        F.broadcast(q)
        .crossJoin(_spread_corpus(spark, emb))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= RANGE_TAU)
    )


@query(
    "embedding_dim_median_ppm",
    oracle="""
    WITH elems AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    ranked AS (
        SELECT pos, val,
               ROW_NUMBER() OVER (PARTITION BY pos ORDER BY val, vec_id) AS rn,
               COUNT(*) OVER (PARTITION BY pos) AS n
        FROM elems
    )
    SELECT pos, CAST(ANY_VALUE(n) AS BIGINT) AS n,
           CAST(floor((MIN(CASE WHEN rn = (n + 1) // 2 THEN val END)
                       + MIN(CASE WHEN rn = (n + 2) // 2 THEN val END)) / 2.0
                      * 1000000000 + 0.5) AS BIGINT) AS median_ppb
    FROM ranked
    WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
    GROUP BY pos
    """,
)
def embedding_dim_median_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed median per embedding dimension — the robust
    center used for representation-drift monitoring and whitening
    sanity checks where the mean is skew-fragile. Median is computed
    as the mean of the two middle order statistics under a TOTAL order
    (val, vec_id), so even-n ties resolve identically in both engines;
    the average of two doubles and the ppb quantization are exact
    cross-engine float ops.

    Scale shape: one shuffle partitions the exploded elements by
    dimension, each dimension sorts locally inside its partition (64
    independent sorts, no global sort), and only the two middle rows
    per dimension survive to the final 64-row aggregate. At 100 TB the
    same query routes per-dimension data through the identical
    partition-local sort — the canonical exact-quantile plan — with
    approx sketches (agg_approx_sketches) as the cheap tier."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "raw")
    ).select("vec_id", "pos", F.col("raw").cast("double").alias("val"))
    w = Window.partitionBy("pos").orderBy("val", "vec_id")
    wn = Window.partitionBy("pos")
    ranked = elems.select(
        "pos",
        "val",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    lo = F.expr("(n + 1) div 2")
    hi = F.expr("(n + 2) div 2")
    mid = ranked.filter((F.col("rn") == lo) | (F.col("rn") == hi))
    return mid.groupBy("pos").agg(
        F.any_value("n").cast("long").alias("n"),
        F.floor(
            (
                F.min(F.when(F.col("rn") == lo, F.col("val")))
                + F.min(F.when(F.col("rn") == hi, F.col("val")))
            )
            / F.lit(2.0)
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("median_ppb"),
    )


NORM_LO = 0.9  # healthy unit-norm band (embeddings are ~unit length)
NORM_HI = 1.1


@query(
    "embedding_norm_health",
    oracle=f"""
    WITH n AS (
        SELECT vec_id, label,
               sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS norm,
               list_aggregate(list_transform(embedding,
                    x -> CASE WHEN CAST(x AS DOUBLE) = 0 THEN 1 ELSE 0 END),
                    'sum') AS nz
        FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN norm < {NORM_LO} OR norm > {NORM_HI}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_band,
           CAST(SUM(CASE WHEN nz > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_zero_dims,
           MIN(norm) AS min_norm,
           MAX(norm) AS max_norm
    FROM n GROUP BY label
    """,
)
def embedding_norm_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-health screen, per label cohort: how many vectors fall
    outside the healthy unit-norm band or carry exact-zero components
    (the two cheap signatures of a broken embedding job — truncated
    writes, failed normalization, dead dimensions — that silently
    poison cosine similarity downstream), plus the cohort's min/max
    norm. Zero everywhere and a tight norm band IS the desired
    production answer; the summary stays non-empty either way so the
    gate always has values to hash. Norms are the bitwise-reproducible
    double fold shared with the cosine kernels (min/max select raw
    fold outputs — no arithmetic over them), counts are exact.

    Scale: scan-level projection + one |labels|-row aggregate — the
    screen runs inline with embedding ingestion at any corpus size."""
    from ..functions.vector import norm

    emb = load_table(spark, sf_dir, "embeddings")
    n_zero = F.aggregate(
        F.transform(
            "embedding",
            lambda x: F.when(x.cast("double") == 0.0, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    checked = emb.select(
        "label",
        norm(F.col("embedding")).alias("norm"),
        n_zero.alias("nz"),
    )
    out_of_band = (F.col("norm") < NORM_LO) | (F.col("norm") > NORM_HI)
    return checked.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum(F.when(out_of_band, 1).otherwise(0))
        .cast("long")
        .alias("n_out_of_band"),
        F.sum(F.when(F.col("nz") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_with_zero_dims"),
        F.min("norm").alias("min_norm"),
        F.max("norm").alias("max_norm"),
    )
