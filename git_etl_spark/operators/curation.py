"""End-to-end training-corpus curation — the composite the LLM-data
operators exist for (SURVEY.md §2.10 X1/X4 composed): quality gate →
canonical dedup → deterministic train/val/test split, as ONE
declarative plan the optimizer can see whole.

Plan shape at 100 TB: the quality gate is a scan-level filter (no
shuffle); dedup is one shuffle on the bag-of-words fingerprint; the
split is a pure projection off a cryptographic hash — no sampling
state, no RNG, reproducible across engines and runs by construction
(the property a training pipeline actually needs: re-running curation
tomorrow must put the same document in the same split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import query
from .text import _STOP_SQL, STOPWORDS

MIN_CHARS = 120          # drop boilerplate-short docs
MIN_STOPWORD_RATIO = 0.05  # drop keyword-soup (no function words)
PACK_BUDGET = 256        # tokens per packed training sequence


@query(
    "pipeline_corpus_curation",
    oracle=f"""
    WITH gated AS (
        SELECT doc_id, lang, source, n_chars,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fingerprint
        FROM documents
        WHERE n_chars >= {MIN_CHARS}
          AND len(list_filter(string_split(text, ' '),
                  t -> t IN ({_STOP_SQL})))
              * 1.0 / len(string_split(text, ' ')) >= {MIN_STOPWORD_RATIO}
    ),
    deduped AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY fingerprint
                   ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM gated
    )
    SELECT doc_id, lang, source, n_chars, fingerprint,
           CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket = 8 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT *, CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                       AS BIGINT) % 10 AS bucket
        FROM deduped WHERE rn = 1
    )
    """,
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1+X4 composite: (1) quality gate — length floor + function-word
    ratio floor, both scan-level predicates; (2) exact near-dup
    collapse on the bag-of-words canonical fingerprint (md5 of the
    sorted distinct token set — token-order-robust), keeping the
    longest representative with a doc_id tie-break; (3) deterministic
    8/1/1 train/val/test assignment from the doc_id's md5 — a pure
    projection, so the split is stable across runs, engines, and
    cluster sizes (never ``rand()``, which reshuffles splits every
    run and leaks val into train on retries)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_ratio = (
        F.size(
            F.filter(
                toks,
                lambda t: t.isin(*STOPWORDS),
            )
        ).cast("double")
        / F.size(toks)
    )
    gated = docs.filter(
        (F.col("n_chars") >= MIN_CHARS) & (stop_ratio >= MIN_STOPWORD_RATIO)
    ).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))).alias(
            "fingerprint"
        ),
    )
    w = Window.partitionBy("fingerprint").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    best = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint")
        % 10
    )
    return best.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "fingerprint",
        F.when(bucket < 8, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "pipeline_sequence_packing",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT doc_id, source, n_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / {PACK_BUDGET}) AS BIGINT) AS pack_id
        FROM sized
    )
    SELECT source, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
           MIN(doc_id) AS first_doc
    FROM packed
    GROUP BY source, pack_id
    """,
)
def pipeline_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: documents are packed into
    fixed-token-budget sequences by a *streaming* first-fit — each doc
    joins the pack where the running token total (in deterministic
    doc_id order, per source shard) crossed its budget boundary. The
    window cumulative sum is one shuffle keyed by shard; integer token
    counts make the assignment bit-identical across engines (pandas
    cumsum vs segment-tree float issues don't apply — see
    oracle-determinism notes). At 100 TB the shard key is the file /
    shard id, so packing parallelism ∝ shard count and no pack spans a
    shard boundary — exactly how training-data writers shard anyway."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_BUDGET),
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


NGRAM_N = 8  # contamination shingle width (tokens)


# naive-definition oracle for the contamination probe - shared by the
# broadcast query and its Bloom-pre-probe twin (the Bloom stage is a
# lossless pre-filter, so both must produce identical rows)
_DECON_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(
                   range(1, len(t) - {NGRAM_N - 2}),
                   i -> array_to_string(t[i:i+{NGRAM_N - 1}], ' ')))) AS g
        FROM toks WHERE len(t) >= {NGRAM_N}
    ),
    eval_sh AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
    train_sh AS (SELECT doc_id, g FROM sh WHERE source <> 'src0'),
    counts AS (
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM train_sh t JOIN eval_sh e ON t.g = e.g
        GROUP BY t.doc_id
    ),
    totals AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
        FROM sh WHERE source <> 'src0' GROUP BY doc_id
    )
    SELECT c.doc_id, c.n_shared, tt.n_shingles,
           CAST(c.n_shared AS DOUBLE) / tt.n_shingles AS contamination
    FROM counts c JOIN totals tt ON c.doc_id = tt.doc_id
    """


@query("pipeline_decontamination", oracle=_DECON_ORACLE)
def pipeline_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training documents (here: every
    source but ``src0``, which stands in for the eval set) are flagged
    when they share ≥1 distinct 8-token shingle with any eval
    document, with the shared-shingle count and contamination ratio.
    This is *containment*, not symmetric similarity — a 50k-token doc
    quoting one eval question has near-zero Jaccard but is still
    contaminated, which is why near-dup dedup cannot subsume this op.

    Scale shape: the eval side is orders of magnitude smaller than the
    corpus — its distinct shingle set broadcasts, so the contamination
    probe is a broadcast semi-join against the exploded training
    shingles: no shuffle of the big side, parallelism ∝ corpus
    partitions. (At a truly huge eval set, swap the broadcast for a
    bloom-filter pre-probe + shuffle join — same plan tail.)"""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = F.split("text", " ")
    # materialize the per-doc distinct shingle ARRAY once: three
    # consumers (eval set, probe, totals) would otherwise each re-run
    # the ×(len−7) concat fan-out (CollapseProject inlines the array
    # expression into every consumer — see the size+explode gotcha),
    # and totals come from the array length, not a second explode
    arrs = docs.select(
        "doc_id",
        "source",
        F.array_distinct(
            F.when(
                F.size(toks) >= NGRAM_N,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (NGRAM_N - 1)),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, NGRAM_N)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ).alias("gs"),
    ).localCheckpoint()
    eval_sh = (
        arrs.filter(F.col("source") == "src0")
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    train = arrs.filter(F.col("source") != "src0")
    counts = (
        train.select("doc_id", F.explode("gs").alias("g"))
        .join(F.broadcast(eval_sh), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    totals = train.select("doc_id", F.size("gs").alias("n_shingles"))
    return counts.join(totals, "doc_id").select(
        "doc_id",
        "n_shared",
        "n_shingles",
        (F.col("n_shared").cast("double") / F.col("n_shingles")).alias(
            "contamination"
        ),
    )


BLOOM_BITS = 1 << 17  # 128k-bit filter -> 2048 bitmap words
BLOOM_K = 5  # probes per shingle; FP rate ~ (1-e^(-kn/m))^k


def _bloom_probe_array():
    """k (word, mask) probes for the shingle column ``g``:
    position_j = xxhash64(g, j) mod m, as one pure-JVM array expression
    (seeded hashes via the extra hash argument; shiftleft needs its
    count as an expression, hence SQL text)."""
    probes = ", ".join(
        f"named_struct("
        f" 'w', CAST(pmod(xxhash64(g, {j}), {BLOOM_BITS}) DIV 64 AS INT),"
        f" 'mask', shiftleft(CAST(1 AS BIGINT),"
        f"  CAST(pmod(xxhash64(g, {j}), {BLOOM_BITS}) % 64 AS INT)))"
        for j in range(BLOOM_K)
    )
    return F.expr(f"array({probes})")


@query("pipeline_decontamination_bloom", oracle=_DECON_ORACLE)
def pipeline_decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contamination probe with a **relational Bloom-filter
    pre-probe** — the plan shape for when the eval shingle set is too
    large to broadcast as rows (pipeline_decontamination's documented
    escape hatch):

    1. build the filter AS DATA: explode every eval shingle to
       BLOOM_K (word, mask) probes, ``bit_or(mask)`` per word — a
       ≤ m/64-row bitmap table (2048 rows ≈ 16 KB here) that stays
       broadcastable long after the shingle rows themselves aren't;
    2. probe: the bitmap folds to ONE row holding a dense m/64-slot
       long array (O(m/64) state, ~16 KB), broadcast onto the training
       shingles; each shingle then evaluates all k probes as a single
       JVM ``forall`` expression — it survives only if ALL k probed
       bits are set. No false negatives by construction, false
       positives at the designed rate. (Before r15 this step exploded
       every shingle into k probe ROWS, joined each against the bitmap
       and re-grouped by (doc, shingle) — a shuffle of k× the shingle
       volume that the expression form removes outright, guide §2.4;
       A/B and plan diff in OPTIMIZATION_r15.md.)
    3. exact join on the survivors only, which removes false
       positives — so the result (and the oracle) is IDENTICAL to the
       broadcast variant, and only the candidate volume differs.

    At 100 TB: the bitmap scales with DISTINCT eval n-grams / 64 words
    regardless of corpus size; the big side is touched once, filtered
    to ~FP-rate of its shingles before any join shuffle."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = F.split("text", " ")
    arrs = docs.select(
        "doc_id",
        "source",
        F.array_distinct(
            F.when(
                F.size(toks) >= NGRAM_N,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (NGRAM_N - 1)),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, NGRAM_N)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ).alias("gs"),
    ).localCheckpoint()
    eval_sh = (
        arrs.filter(F.col("source") == "src0")
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    bitmap = (
        eval_sh.select(F.explode(_bloom_probe_array()).alias("p"))
        .select("p.w", "p.mask")
        .groupBy("w")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    # fold the bitmap to one row: a DENSE m/64-slot long array — the
    # same O(m/64) bound as the bitmap table, still broadcastable at
    # any corpus size, but probe-able from a scalar expression in O(1)
    # (a word→bits MAP would linear-scan its entries per lookup —
    # Spark's MapData is unsorted arrays — turning k probes per
    # shingle into k·m/64 comparisons; measured 1.8 → 2.7 s before
    # this densification). The sparse→dense transform runs once on the
    # single aggregated row.
    bloom_row = bitmap.agg(
        F.map_from_arrays(
            F.collect_list("w"), F.collect_list("bits")
        ).alias("bm")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(BLOOM_BITS // 64 - 1)),
            lambda w: F.coalesce(
                F.try_element_at("bm", w), F.lit(0).cast("long")
            ),
        ).alias("bloom")
    )
    train = arrs.filter(F.col("source") != "src0")
    survivors = (
        train.select("doc_id", F.explode("gs").alias("g"))
        .join(F.broadcast(bloom_row))
        # all k probes in one JVM expression per shingle: an unset word
        # is a 0 slot in the dense array, so the bit test fails exactly
        # like the former left-join miss; p.w ∈ [0, m/64) by pmod, so
        # the 1-based array index is always in bounds (ANSI-safe)
        .filter(
            F.forall(
                _bloom_probe_array(),
                lambda p: (
                    F.element_at("bloom", p["w"] + 1).bitwiseAND(p["mask"])
                    != 0
                ),
            )
        )
        .select("doc_id", "g")
    )
    counts = (
        survivors.join(F.broadcast(eval_sh), "g")  # exact FP removal
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    totals = train.select("doc_id", F.size("gs").alias("n_shingles"))
    return counts.join(totals, "doc_id").select(
        "doc_id",
        "n_shared",
        "n_shingles",
        (F.col("n_shared").cast("double") / F.col("n_shingles")).alias(
            "contamination"
        ),
    )


@query(
    "pipeline_mixture_sampling",
    oracle="""
    WITH w AS (
        SELECT source, COUNT(*) AS n_src,
               (CAST('0x' || substring(md5(source), 1, 8) AS BIGINT) % 4)
                 + 1 AS w
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_src) AS BIGINT) AS n_total,
               CAST(SUM(w) AS BIGINT) AS total_w
        FROM w
    ),
    plan AS (
        SELECT w.source, w.n_src,
               ((tot.n_total // 2) * w.w) // tot.total_w AS target_k
        FROM w, tot
    )
    SELECT d.doc_id, d.source, plan.target_k
    FROM documents d JOIN plan ON d.source = plan.source
    WHERE (CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
                AS BIGINT) % 1000000) * plan.n_src
          < plan.target_k * 1000000
    """,
)
def pipeline_mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture sampling: given per-source target weights (here a
    deterministic weight 1–4 hashed from the source id) and a total
    token/doc budget (half the corpus), compute each source's target
    count and keep a deterministic hash-based sample of that source at
    the implied rate — the reweighting step that turns a raw crawl into
    a training mixture.

    The weight hash is TOTAL on any source string: the r11 cores
    screen crashed the previous digit-parsing form
    (``regexp_replace(source,'src','')::int``, an ANSI cast) on the
    rotated-source 10x corpus — and it would crash equally on any
    real source id ('web', 'books'). Same md5 bucket trick as the
    keep decision, so both engines agree bit-for-bit.

    Everything is exact integer arithmetic — budget and per-source
    targets via integer division, the keep decision via
    ``bucket(doc) · n_src < target_k · 10⁶`` with a million-bucket md5
    hash — so Spark and DuckDB agree bit-for-bit, and re-running the
    pipeline (or adding executors) never changes the sample. At 100 TB
    the weight/count table is a broadcast dimension and sampling is an
    embarrassingly parallel filter — no shuffle at all on the corpus
    side (the one groupBy is over the tiny source dimension)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    weights = docs.groupBy("source").agg(F.count("*").alias("n_src")).withColumn(
        "w",
        (
            F.conv(F.substring(F.md5("source"), 1, 8), 16, 10).cast("long")
            % 4
        ).cast("int")
        + 1,
    )
    tot = weights.agg(
        F.sum("n_src").cast("long").alias("n_total"),
        F.sum("w").cast("long").alias("total_w"),
    )
    plan = weights.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_src",
        F.expr("((n_total DIV 2) * w) DIV total_w").alias("target_k"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1000000
    )
    return (
        docs.join(F.broadcast(plan), "source")
        .filter(bucket * F.col("n_src") < F.col("target_k") * 1000000)
        .select("doc_id", "source", "target_k")
    )


@query(
    "pipeline_leakage_safe_split",
    oracle="""
    WITH RECURSIVE sets AS (
        SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sets a, sets b
        WHERE a.doc_id < b.doc_id
          AND len(list_filter(a.toks, t -> list_contains(b.toks, t))) * 1.0
                / (len(a.toks) + len(b.toks)
                   - len(list_filter(a.toks, t -> list_contains(b.toks, t))))
              >= 0.95
    ),
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    verts AS (SELECT a AS v FROM e UNION SELECT b FROM e),
    cc(v, lbl) AS (
        SELECT v, v FROM verts
        UNION
        SELECT e.b AS v, cc.lbl FROM cc JOIN e ON cc.v = e.a WHERE cc.lbl < e.b
    ),
    clusters AS (SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM cc GROUP BY v)
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           CASE WHEN CAST('0x' || substring(
                         md5(CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR)),
                         1, 8) AS BIGINT) % 10 < 8 THEN 'train'
                WHEN CAST('0x' || substring(
                         md5(CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR)),
                         1, 8) AS BIGINT) % 10 < 9 THEN 'val'
                ELSE 'test' END AS split
    FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    """,
)
def pipeline_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split key is the *near-dup
    cluster*, not the document, so near-duplicates can never straddle
    train and eval (the standard contamination failure of naive
    per-document splits). Documents outside any near-dup pair form
    singleton clusters keyed by their own id.

    Cluster labels come from the collapsed-graph connected components
    (:func:`...operators.dedup.dedup_cluster_components`, memoized
    candidate generation shared within the session); the 80/10/10
    assignment hashes the cluster id through the same million-bucket
    md5 rule both engines compute identically. The DuckDB oracle
    re-derives the clusters with a recursive CTE, so the *entire*
    chain — pair threshold, components, singleton fallback, split
    hash — is verified end to end."""
    from .dedup import dedup_cluster_components

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = dedup_cluster_components(spark, sf_dir)
    labeled = docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 10
    )
    return labeled.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 8, F.lit("train"))
        .when(bucket < 9, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


NEG_BUCKETS = 256  # candidate pool = catalog/256 per user
NEG_PER_USER = 4   # negatives sampled per user


@query(
    "pipeline_negative_sampling",
    oracle=f"""
    WITH positives AS (
        SELECT DISTINCT o.o_custkey AS c_custkey, l.l_partkey AS p_partkey
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    cust AS (
        SELECT c_custkey,
               CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
                    AS BIGINT) % {NEG_BUCKETS} AS bucket
        FROM customer
    ),
    prt AS (
        SELECT p_partkey,
               CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 8))
                    AS BIGINT) % {NEG_BUCKETS} AS bucket
        FROM part
    ),
    pool AS (
        SELECT c.c_custkey, p.p_partkey
        FROM cust c JOIN prt p ON p.bucket = c.bucket
    ),
    negatives AS (
        SELECT pool.c_custkey, pool.p_partkey
        FROM pool ANTI JOIN positives pos
          ON pos.c_custkey = pool.c_custkey
         AND pos.p_partkey = pool.p_partkey
    ),
    ranked AS (
        SELECT c_custkey, p_partkey AS neg_partkey,
               CAST(row_number() OVER (
                   PARTITION BY c_custkey
                   ORDER BY md5(c_custkey || ':' || p_partkey), p_partkey
               ) AS BIGINT) AS rk
        FROM negatives
    )
    SELECT c_custkey, neg_partkey, rk FROM ranked WHERE rk <= {NEG_PER_USER}
    """,
)
def pipeline_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    for every customer, up to 4 parts they never purchased, drawn
    pseudo-randomly but reproducibly (md5 order, no RNG state).

    The naive pool is users × catalog — corpus² and dead on arrival at
    scale. Instead both sides are hashed into 256 aligned buckets and a
    user's candidate pool is only the catalog slice in their own
    bucket: pool size is n·m/256 (tunable by the bucket count), the
    bucket id is an equi-join key (shuffle-friendly, AQE-splittable),
    and because md5 assigns buckets uniformly the slice is an unbiased
    catalog sample per user. Known positives are removed with an
    anti-join keyed on the (user, item) pair, and the per-user top-4 by
    ranking hash is a bounded window over ~catalog/256 candidates.
    Re-running tomorrow yields byte-identical negatives — what a
    training-data pipeline needs for reproducible epochs."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    positives = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("l_partkey").alias("p_partkey"),
        )
        .distinct()
    )

    def bucket(col: F.Column) -> F.Column:
        return (
            F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
            .cast("long")
            % NEG_BUCKETS
        )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", bucket(F.col("c_custkey")).alias("bucket")
    )
    prt = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey"), bucket(F.col("p_partkey")).alias("bucket")
    )
    pool = cust.join(prt, "bucket").select("c_custkey", "p_partkey")
    negatives = pool.join(
        positives, on=["c_custkey", "p_partkey"], how="left_anti"
    )
    w = Window.partitionBy("c_custkey").orderBy(
        F.md5(F.concat_ws(":", F.col("c_custkey"), F.col("p_partkey"))),
        F.col("p_partkey"),
    )
    return (
        negatives.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= NEG_PER_USER)
        .select(
            "c_custkey", F.col("p_partkey").alias("neg_partkey"), "rk"
        )
    )


@query(
    "pipeline_dataset_card",
    oracle="""
    WITH per_doc AS (
        SELECT source, lang,
               len(string_split(text, ' ')) AS n_tokens,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fp
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tokens) * 1000000 // COUNT(*) AS BIGINT)
               AS mean_tokens_ppm,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST((COUNT(*) - COUNT(DISTINCT fp)) * 1000000 // COUNT(*)
                AS BIGINT) AS dup_rate_ppm
    FROM per_doc GROUP BY source
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the summary table a data-governance
    review (or a model card appendix) wants for every corpus slice:
    document count, token volume, mean document length, language
    spread, and the within-source duplicate rate off the canonical
    bag-of-words fingerprint (the same fingerprint
    pipeline_corpus_curation dedupes on, so the card's dup_rate is
    exactly what that pipeline would remove). Ratios in exact ppm.

    One aggregation keyed by source; the fingerprint distinct rides
    the same shuffle as the counts. At 100 TB this is the cheap
    always-on telemetry that catches a bad crawl batch before it
    trains."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(F.split("text", " "))), " ")
        ).alias("fp"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.expr("SUM(n_tokens) * 1000000 div COUNT(*)")
        .cast("long")
        .alias("mean_tokens_ppm"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.expr("(COUNT(*) - COUNT(DISTINCT fp)) * 1000000 div COUNT(*)")
        .cast("long")
        .alias("dup_rate_ppm"),
    )


CURRICULUM_HEAD = 2000  # emitted prefix of the training order


@query(
    "pipeline_curriculum_order",
    oracle=f"""
    WITH banded AS (
        SELECT doc_id, source,
               CASE WHEN len(string_split(text, ' ')) >= 40
                     AND len(list_filter(string_split(text, ' '),
                                         t -> t IN ({_STOP_SQL}))) * 1.0
                         / len(string_split(text, ' ')) >= 0.05
                    THEN 'good' ELSE 'low' END AS quality_band
        FROM documents
    ),
    ordered AS (
        SELECT doc_id, source, quality_band,
               ROW_NUMBER() OVER (
                   ORDER BY CASE quality_band WHEN 'good' THEN 0 ELSE 1 END,
                            substring(md5(CAST(doc_id AS VARCHAR)), 1, 8),
                            doc_id
               ) AS train_pos
        FROM banded
    )
    SELECT doc_id, source, quality_band, CAST(train_pos AS BIGINT) AS train_pos
    FROM ordered WHERE train_pos <= {CURRICULUM_HEAD}
    """,
)
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: emit the training-order prefix with
    high-quality documents first and a DETERMINISTIC shuffle within
    each band (sort key = md5(doc_id) — reproducible across runs and
    engines, unlike rand()). This is the curriculum / quality-annealing
    stage of a pretraining pipeline: the band rule is the same one
    text_quality_score applies, so the curriculum consumes an existing
    audited signal rather than inventing a parallel notion of quality.

    The prefix is cut by an EXPLICIT distributed top-k (orderBy +
    limit → TakeOrderedAndProject: per-partition bounded heaps, then a
    driver-side merge of k-row heads) and only then numbered, so the
    single-partition window sees exactly CURRICULUM_HEAD rows by
    construction. Round 11 found the previous shape numbering EVERY
    row through one task: it leaned on Spark's InferWindowGroupLimit
    to prune past-the-limit rows, but that rule caps at
    spark.sql.optimizer.windowGroupLimitThreshold (default 1000) <
    CURRICULUM_HEAD (2000), so it never fired — a plan audit, not a
    bench delta, caught it (the claim had been asserted in a
    docstring, never in a test; now it is). The numbering window's
    input is therefore bounded by CURRICULUM_HEAD rows at any corpus
    size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
        / F.size(toks)
    )
    banded = docs.select(
        "doc_id",
        "source",
        F.when(
            (F.size(toks) >= 40) & (stop_ratio >= 0.05), F.lit("good")
        ).otherwise(F.lit("low")).alias("quality_band"),
    )
    band_rank = F.when(F.col("quality_band") == "good", 0).otherwise(1)
    shuffle_key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    w = Window.orderBy(band_rank, shuffle_key, F.col("doc_id"))
    head = banded.orderBy(band_rank, shuffle_key, F.col("doc_id")).limit(
        CURRICULUM_HEAD
    )
    return head.withColumn("train_pos", F.row_number().over(w).cast("long"))


MIXTURE_EPOCH_BUDGET = 10_000  # sampled docs per training epoch


@query(
    "pipeline_mixture_temperature",
    oracle=f"""
    WITH c AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(floor(sqrt(COUNT(*))) AS BIGINT) AS w
        FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM c)
    SELECT c.source, c.n_docs, c.w AS weight,
           c.w * 1000000 // t.tw AS share_ppm,
           c.w * {MIXTURE_EPOCH_BUDGET} // t.tw AS epoch_docs,
           CASE WHEN c.w * {MIXTURE_EPOCH_BUDGET} // t.tw > c.n_docs
                THEN c.w * {MIXTURE_EPOCH_BUDGET} // t.tw - c.n_docs
                ELSE 0 END AS oversample_docs
    FROM c, t
    """,
)
def pipeline_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mixture weights (the multilingual /
    multi-source sampling rule from mBERT/XLM-R pretraining): source
    weight ∝ count^α with α = 1/2, flattening the source distribution
    so head sources don't drown tail ones. √count is floored to an
    integer up front — IEEE sqrt is correctly rounded in both engines,
    and every derived number after that (share, per-epoch quota, the
    oversampling overhang where quota exceeds corpus size) is pure
    BIGINT arithmetic, so the whole mixture plan is hash-stable.

    Scale: one groupBy(source) scan; the |sources|-row weight table
    joins back as a broadcast literal (a 1-row total via cross join) —
    driver and shuffle traffic are O(|sources|), never corpus-sized."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    c = c.withColumn("weight", F.floor(F.sqrt(F.col("n_docs"))).cast("long"))
    total = c.agg(F.sum("weight").cast("long").alias("tw"))
    quota = F.expr(f"weight * {MIXTURE_EPOCH_BUDGET} div tw")
    return (
        c.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "weight",
            F.expr("weight * 1000000 div tw").alias("share_ppm"),
            quota.alias("epoch_docs"),
            F.when(quota > F.col("n_docs"), quota - F.col("n_docs"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("oversample_docs"),
        )
    )


ERASE_MOD = 97  # deterministic stand-in for the deletion-request list


@query(
    "pipeline_gdpr_erasure_audit",
    oracle=f"""
    WITH requests AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % {ERASE_MOD} = 0
    ),
    retained AS (
        SELECT e.* FROM events e
        WHERE NOT EXISTS (SELECT 1 FROM requests r WHERE r.user_id = e.user_id)
    ),
    per_type AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_total
        FROM events GROUP BY event_type
    ),
    kept AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_retained
        FROM retained GROUP BY event_type
    ),
    erased_users AS (
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_erased
        FROM events WHERE user_id % {ERASE_MOD} = 0 GROUP BY event_type
    )
    SELECT p.event_type, p.n_total,
           COALESCE(k.n_retained, 0) AS n_retained,
           p.n_total - COALESCE(k.n_retained, 0) AS n_erased,
           COALESCE(u.n_users_erased, 0) AS n_users_erased
    FROM per_type p
    LEFT JOIN kept k USING (event_type)
    LEFT JOIN erased_users u USING (event_type)
    """,
)
def pipeline_gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure cascade audit: given a deletion-request list of
    user ids (synthesized deterministically as user_id % MOD = 0 — in
    production this is a small requests table), remove every event row
    belonging to a requested user via LEFT ANTI join and report, per
    event_type, total / retained / erased row counts and the distinct
    users erased. This is the compliance evidence a data-deletion job
    emits alongside the rewrite: counts must reconcile exactly
    (total = retained + erased) before the old partitions are dropped.

    Scale: the request list is always broadcast (deletion requests are
    tiny vs the corpus); the anti join is therefore a map-side probe —
    the corpus streams once, no shuffle for the cascade itself, and
    the three audit aggregates are partial-aggregated per type."""
    events = load_table(spark, sf_dir, "events")
    requests = (
        events.filter(F.col("user_id") % ERASE_MOD == 0)
        .select("user_id")
        .distinct()
    )
    retained = events.join(F.broadcast(requests), "user_id", "left_anti")
    per_type = events.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_total")
    )
    kept = retained.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_retained")
    )
    erased_users = (
        events.filter(F.col("user_id") % ERASE_MOD == 0)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users_erased"))
    )
    return (
        per_type.join(kept, "event_type", "left")
        .join(erased_users, "event_type", "left")
        .select(
            "event_type",
            "n_total",
            F.coalesce("n_retained", F.lit(0)).cast("long").alias("n_retained"),
            (F.col("n_total") - F.coalesce("n_retained", F.lit(0)))
            .cast("long")
            .alias("n_erased"),
            F.coalesce("n_users_erased", F.lit(0))
            .cast("long")
            .alias("n_users_erased"),
        )
    )


@query(
    "pipeline_length_bucket_padding",
    oracle="""
    WITH sized AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id, n_tok,
               CAST(length(bin(CAST(greatest(n_tok - 1, 1) AS BIGINT)))
                    AS INT) AS bucket_bits
        FROM sized
    )
    SELECT bucket_bits,
           CAST(1 << bucket_bits AS BIGINT) AS bucket_cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
           CAST(COUNT(*) * (1 << bucket_bits) - SUM(n_tok) AS BIGINT)
               AS padding_tokens,
           CAST(SUM(n_tok) * 1000000 // (COUNT(*) * (1 << bucket_bits))
                AS BIGINT) AS fill_ppm
    FROM bucketed GROUP BY bucket_bits
    """,
)
def pipeline_length_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: documents are routed to
    power-of-two token buckets (bucket cap = next power of two ≥
    length, via integer bit-length — no runtime logarithm) and each
    bucket reports real vs padded token volume and its exact-ppm fill
    factor. This is the padding-efficiency table behind dynamic
    batching in a training pipeline: batches drawn within one bucket
    waste at most (1 − fill) of their compute, and the per-bucket
    doc counts tell the batch scheduler which buckets can sustain
    full batches. Pure integer arithmetic end to end (bit-length
    bucketing, BIGINT sums, floor-div ppm) — hash-stable.

    Scale: one scan, one partial-aggregated shuffle keyed on the
    bucket id; ≤ ~40 output rows regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    bucket_bits = F.length(
        F.bin(F.greatest(F.col("n_tok") - 1, F.lit(1)))
    ).cast("int")
    return (
        sized.withColumn("bucket_bits", bucket_bits)
        .groupBy("bucket_bits")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("real_tokens"),
        )
        .select(
            "bucket_bits",
            F.expr("CAST(shiftleft(1L, bucket_bits) AS BIGINT)").alias(
                "bucket_cap"
            ),
            "n_docs",
            "real_tokens",
            F.expr(
                "CAST(n_docs * shiftleft(1L, bucket_bits) - real_tokens"
                " AS BIGINT)"
            ).alias("padding_tokens"),
            F.expr(
                "CAST(real_tokens * 1000000"
                " div (n_docs * shiftleft(1L, bucket_bits)) AS BIGINT)"
            ).alias("fill_ppm"),
        )
    )


DOMAIN_CAP = 80  # max documents kept per source


@query(
    "pipeline_domain_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rnk
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN rnk <= {DOMAIN_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rnk > {DOMAIN_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN rnk <= {DOMAIN_CAP} THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM ranked GROUP BY source
    """,
)
def pipeline_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (the C4/RefinedWeb anti-spam rule): no
    source may contribute more than {CAP} documents, keeping the
    longest first under a deterministic total order (n_chars DESC,
    doc_id) — without a cap, SEO farms and boilerplate-heavy domains
    dominate a crawl-derived mixture. Output is the enforcement audit
    per source: total/kept/dropped and the surviving character volume
    (what actually enters the token budget).

    Scale: one window rank partitioned by source (partition-local
    sort) and one aggregate — the same shape at any corpus size; a
    pathologically hot source is exactly the case the cap exists for,
    and its rank window parallelizes by source-partition."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = docs.select(
        "source", "n_chars", F.row_number().over(w).alias("rnk")
    )
    kept = F.when(F.col("rnk") <= DOMAIN_CAP, 1).otherwise(0)
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(kept).cast("long").alias("n_kept"),
        F.sum(1 - kept).cast("long").alias("n_dropped"),
        F.sum(F.when(F.col("rnk") <= DOMAIN_CAP, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
    )


@query(
    "pipeline_release_manifest",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes,
           CAST(bit_xor(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT))
                AS BIGINT) AS content_sig
    FROM documents
    GROUP BY source
    """,
)
def pipeline_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-release manifest: per shard (source), the row count,
    token and byte volume, and an ORDER-INDEPENDENT content signature
    (XOR of a 60-bit md5 prefix per document) — the ledger published
    alongside a training-data release so a consumer can verify their
    copy shard-by-shard without re-hashing a canonical ordering (XOR
    commutes, so the signature is stable under any partitioning,
    re-shuffle, or parallel re-download; any added, dropped, or
    mutated document flips it). This is the reproducibility receipt
    the curation pipeline signs after every rebuild.

    Scale: one scan, one partial-aggregated shuffle keyed on shard —
    the XOR partial-aggregates map-side exactly like a sum, O(1)
    state per group."""
    docs = load_table(spark, sf_dir, "documents")
    sig = F.expr("bit_xor(CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT))")
    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
        F.sum(F.octet_length(F.encode("text", "UTF-8"))).cast("long").alias(
            "n_bytes"
        ),
        sig.cast("long").alias("content_sig"),
    )
