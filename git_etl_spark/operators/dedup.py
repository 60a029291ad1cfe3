"""Deduplication pack — SURVEY.md §2.10 X1/X2 and the training-data
pipeline dedup family: exact, keep-best, n-gram Jaccard (with prefix
filtering), SimHash, MinHash-LSH, and embedding-cosine near-dup.

Scale design notes (these run against 100 TB corpora):

- Exact dedup is one shuffle on the dedup key; keyed keep-first /
  keep-best uses row_number over a natural-key window (the distributed
  form of the reference's ``INSERT OR IGNORE`` / upsert semantics,
  ``src/database.ts:149-152``).
- All-pairs similarity is never materialized globally. The Jaccard
  query uses *prefix filtering* (candidates must share a token from
  the first ⌈(1−t)·|set|⌉+1 sorted tokens) so candidate pairs ∝
  near-dup density, not corpus². SimHash reduces each doc to a 48-bit
  key whose hamming neighborhoods are bucketable; MinHash-LSH banding
  is the library form of the same idea.
- Every hash here (md5-derived) is engine-independent — the SimHash
  query is oracle-checked bit-for-bit against DuckDB.
- Every cluster query (exact-Jaccard, embedding-cosine, SimHash) runs
  connected components on one engine, ``graph.large_star_small_star``:
  O(log n) rounds whatever the component diameter. Embedding-cosine
  pairs have one source, the exact all-pairs tier, because at the
  calibrated threshold the qualifying pair set is itself quadratic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import norm
from ..io import load_table
from ..registry import query
from ..session import iter_checkpoint, session_artifact

# DuckDB twin of functions.vector.norm over the raw embedding column
_DUCK_NORM = (
    "sqrt(list_aggregate(list_transform(embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
)

JACCARD_THRESHOLD = 0.95
# char-5-gram threshold: measured corpus separation is 25 pairs ≥ 0.9
# vs background < 0.3 — 0.9 isolates true near-dups with wide margin.
# Kept as a ratio (9/10) so the prefix length is exact integer math.
NGRAM_JACCARD_THRESHOLD = 0.9
# PPJoin verify-kernel switch: dense bitsets (AND+popcount) up to this
# many distinct shingles; sorted dictionary-int arrays past it. 4096 →
# 64-word bitsets — per-pair cost comparable to the typical set size,
# past which width-independent array intersection wins (measured on a
# 10× substituted corpus, PERFORMANCE.md round 7).
BITSET_VOCAB_MAX = 4096
COSINE_DUP_THRESHOLD = 0.35
SIMHASH_BITS = 48  # md5-derived; 48 bits keeps conv() inside BIGINT range

# banded MinHash parameters: 128 hashes = 8 bands × 16 rows.
# P(candidate) = 1-(1-j^16)^8: ~0.008 at this corpus's background
# similarity j≈0.65, ~0.99 at j≥0.95 — AND-amplification that keeps
# candidates ∝ near-dup density instead of corpus².
# 32-bit token hashes + 31-bit coefficients keep a·h+b < 2^63, so the
# whole family runs in codegen'd BIGINT arithmetic (a 128-bit/decimal
# modmul here costs ~2× on the signature stage).
MINHASH_HASHES = 128
MINHASH_BANDS = 8
# Salt fan-out for the within-clique pair expansion (see
# dedup_minhash_lsh): bounds the largest single-task share of a
# k-member clique's k(k-1)/2 generated pairs at ~1/WITHIN_SALTS.
WITHIN_SALTS = 8
MINHASH_PRIME = (1 << 31) - 1  # Mersenne prime for the universal hash family



@query(
    "dedup_exact_rebuild",
    oracle="""
    WITH doubled AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
    )
    SELECT doc_id, md5(text) AS text_hash FROM (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM doubled
    ) WHERE rn = 1
    """,
)
def dedup_exact_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 exact dedup, demonstrated on a corpus with planted exact
    duplicates (the corpus unioned with an id-shifted copy of itself):
    keep the lowest doc_id per identical text. Recovers exactly the
    original rows — the idempotence property (f∘f = f) the reference
    gets from UNIQUE constraints."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    w = Window.partitionBy("text").orderBy("doc_id")
    return (
        doubled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.md5("text").alias("text_hash"))
    )


@query(
    "dedup_keep_longest_per_group",
    oracle="""
    SELECT lang, source, doc_id, n_chars FROM (
        SELECT lang, source, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang, source
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_keep_longest_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed keep-best dedup: one representative per (lang, source),
    preferring the longest document — the K1 last-writer-wins upsert
    generalized to an explicit quality ordering.

    Keep-ONE-per-group is an argmax, not a ranking: since r11 it is a
    single ``max_by`` aggregation over the composite order
    (n_chars DESC, doc_id ASC) instead of a row_number window. The
    window form sorted each (lang, source) partition — and lang x
    source is LOW-cardinality here, so at scale that is a handful of
    tasks each sorting a data-linear shard (the same failure class
    the weighted-median fix addresses); the aggregate form partial-
    aggregates map-side (one best row per group per task) and its
    shuffle carries |groups| rows, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    best = docs.groupBy("lang", "source").agg(
        F.max_by(
            F.struct("doc_id", "n_chars"),
            F.struct(F.col("n_chars"), -F.col("doc_id")),
        ).alias("best")
    )
    return best.select(
        "lang", "source", F.col("best.doc_id"), F.col("best.n_chars")
    )


@query(
    "dedup_jaccard_pairs",
    oracle=f"""
    WITH sets AS (
        SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_filter(a.toks, t -> list_contains(b.toks, t))) * 1.0
             / (len(a.toks) + len(b.toks)
                - len(list_filter(a.toks, t -> list_contains(b.toks, t))))
             AS jaccard
    FROM sets a, sets b
    WHERE a.doc_id < b.doc_id
      AND len(list_filter(a.toks, t -> list_contains(b.toks, t))) * 1.0
            / (len(a.toks) + len(b.toks)
               - len(list_filter(a.toks, t -> list_contains(b.toks, t))))
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 exact token-set Jaccard near-dup pairs (see
    :func:`_jaccard_pairs_impl` for the candidate-generation scheme).
    Built from the per-session materialized collapsed graph so the
    clustering query consuming the same pairs in the same session does
    not re-execute candidate generation."""
    return _jaccard_pairs_impl(spark, sf_dir)


def _token_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks) with toks = sorted distinct whitespace tokens —
    repartitioned off the single input split so the per-doc hashing
    fan-out downstream parallelizes.

    NULL-text docs (tombstones, failed fetches) are EXCLUDED, mirrored
    by every consumer oracle where J(NULL, x) is NULL and never meets
    the threshold. Without the filter they all hash to one set_key
    (concat_ws maps a NULL array to '') and the exact-dup clique
    expansion emits C(n_tombstones, 2) pairs — the r14 null-heavy
    full-oracle sweep's 124,750-pair divergence, and at 100 TB a
    quadratic blow-up on exactly the corpora (crawl dumps with fetch
    failures) this pipeline targets. Absent content is not equal
    content. EMPTY-string text stays in deliberately: both engines
    tokenize '' to [''] and agree the docs are exact duplicates (J=1)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.array_sort(F.array_distinct(F.split("text", " "))).alias("toks"),
    )


def _distinct_set_groups(sets: DataFrame) -> DataFrame:
    """Collapse identical token sets: (set_key, doc_id, rep, toks) where
    ``rep`` is the group's min doc_id. Real near-dup corpora are
    dominated by *exact* duplicate cliques (here: one 248-doc clique →
    30k of the 382k qualifying pairs); collapsing them first turns every
    k-member clique into ONE node/row for all downstream candidate
    generation and verification — the k² work reappears only in the
    final constant-cost expansion join."""
    w = Window.partitionBy("set_key")
    keyed = sets.withColumn("set_key", F.md5(F.concat_ws(" ", "toks")))
    # explicit fixed-width hash repartition on the window key: AQE's
    # coalescer treats the corpus as "small" here and would fold the
    # window's shuffle to ONE partition, serializing the window compute
    # and every downstream consumer (measured 1.7 s single-task at
    # sf0.1). A user repartition with explicit N is exempt from AQE
    # coalescing and satisfies the window's required distribution, so
    # no second exchange is inserted.
    keyed = keyed.repartition(
        keyed.sparkSession.sparkContext.defaultParallelism, "set_key"
    )
    return keyed.withColumn("rep", F.min("doc_id").over(w))


def _jaccard_pairs_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 exact token-set Jaccard near-dup pairs at t ≥ 0.95 via
    **exact-clique collapse + deletion-neighborhood candidates**:

    1. collapse docs with identical token sets to one representative
       (``_distinct_set_groups``) — within-group pairs are emitted
       directly with jaccard 1.0, never joined or verified;
    2. deletion-neighborhood candidate generation over the *distinct*
       sets only: J(A,B) ≥ t bounds |A∆B| ≤ (1/t−1)·|A∩B|, so each
       side needs keys for at most d deleted tokens, with d derived
       from the corpus's max set size at runtime (`_deletion_distance`
       — d=1 for this corpus's ≤31-token sets, automatically d=2 when
       sets grow past 38 tokens, and past 57 tokens — where the key
       fan-out C(|set|, d) would explode — the scheme auto-switches
       to PPJoin-style prefix keys (`_prefix_keys_expr`, linear
       fan-out; added after the r13 extreme-key-skew survey showed
       boilerplate-heavy corpora crossing the bound on ordinary
       documents). A qualifying pair then shares a candidate key.
       Never a cross join; deletion candidates ∝ near-dup density,
       prefix candidates length-filtered (`_length_filter`);
    3. exact Jaccard verification on representative pairs only;
    4. expand each verified representative pair over both groups'
       members (token sets identical within a group ⇒ the pair Jaccard
       is the representatives' Jaccard).

    The DuckDB oracle is the naive O(n²) definition — it independently
    proves the scheme loses no pairs at every driver round; the
    data-derived d is property-tested on a synthetic large-set corpus
    where a hardcoded d=1 provably loses a pair."""
    members, rep_pairs = _rep_graph_materialized(spark, sf_dir)

    # within-group: every doc pair sharing a token set, jaccard = 1.0
    ma, mb = members.alias("ma"), members.alias("mb")
    within = (
        ma.join(
            mb,
            (F.col("ma.set_key") == F.col("mb.set_key"))
            & (F.col("ma.doc_id") < F.col("mb.doc_id")),
        )
        .select(
            F.col("ma.doc_id").alias("doc_a"),
            F.col("mb.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )

    # expand verified representative pairs over both member groups
    cross = (
        rep_pairs.join(ma, F.col("ma.set_key") == F.col("key_a"))
        .join(mb, F.col("mb.set_key") == F.col("key_b"))
        .select(
            F.least("ma.doc_id", "mb.doc_id").alias("doc_a"),
            F.greatest("ma.doc_id", "mb.doc_id").alias("doc_b"),
            "jaccard",
        )
    )
    return within.unionByName(cross)


def _deletion_distance(
    max_set_size: int, threshold: float = JACCARD_THRESHOLD
) -> int:
    """Per-side deletion distance the candidate keys must cover so the
    deletion-neighborhood scheme is lossless for THIS corpus.

    J(A,B) ≥ t bounds the symmetric difference: |A∆B| ≤ (1/t−1)·|A∩B|
    ≤ (1/t−1)·max|set|, and each side deletes at most its share of the
    difference, so d = ⌊(1/t−1)·max|set|⌋ deletions per side suffice.
    Computed in exact rational arithmetic — ⌊(1/0.95−1)·38⌋ in floats
    is 1.9999…→1, silently one short of the true 38/19 = 2."""
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(10_000)
    return max(1, (max_set_size * (fr.denominator - fr.numerator)) // fr.numerator)


# deletion-neighborhood key families over a sorted token array `toks`:
# md5 of the space-joined remainder after deleting 0, 1, or 2 tokens.
# Index-lambda filters keep every key a pure JVM expression.
_KEYS_D0 = "array(md5(concat_ws(' ', toks)))"
_KEYS_D1 = (
    "transform(sequence(1, size(toks)), i ->"
    " md5(concat_ws(' ', filter(toks, (t, k) -> k != i - 1))))"
)
_KEYS_D2 = (
    "flatten(transform(sequence(1, size(toks)), i ->"
    " transform(filter(sequence(1, size(toks)), j -> j > i), j ->"
    "  md5(concat_ws(' ', filter(toks, (t, k) -> k != i - 1 and k != j - 1))))))"
)


def _deletion_keys_expr(d: int):
    """Exploded key column covering all deletion subsets of size ≤ d.

    d ≤ 2 covers Jaccard ≥ 0.95 up to 57-token sets (the corpus is 31).
    Beyond that the key fan-out is C(|set|, d) per set — at that point
    the right candidate scheme is prefix filtering, which the callers
    auto-select (:func:`_prefix_keys_expr`; before r13 this raise
    surfaced to users — the r13 extreme-key-skew survey showed a
    boilerplate-heavy monorepo corpus pushes ordinary documents past
    57 tokens, so long docs are in-domain input, not a refusable
    edge). The raise stays as the guard that no caller ever asks for
    a d>2 key family."""
    if d == 1:
        expr = f"array_union({_KEYS_D0}, {_KEYS_D1})"
    elif d == 2:
        expr = f"array_union(array_union({_KEYS_D0}, {_KEYS_D1}), {_KEYS_D2})"
    else:
        raise NotImplementedError(
            f"deletion distance {d} > 2: callers must auto-select the "
            "prefix-filter scheme (_prefix_keys_expr) for corpora whose "
            "set sizes push the deletion neighborhood past pairs"
        )
    return F.explode(F.expr(expr)).alias("key")


def _jaccard_fraction(threshold: float = JACCARD_THRESHOLD):
    """(numerator, denominator) of the threshold as an exact rational —
    every candidate-scheme bound below is integer arithmetic so no
    float rounding can shorten a prefix or a length window and silently
    drop a pair (same rationale as :func:`_deletion_distance`)."""
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(10_000)
    return fr.numerator, fr.denominator


def _prefix_keys_expr(threshold: float = JACCARD_THRESHOLD):
    """Exploded PPJoin-style prefix keys over the sorted token array:
    the first p = |toks| − ⌈t·|toks|⌉ + 1 tokens.

    Lossless for J(A,B) ≥ t under ANY shared total token order (here:
    the lexicographic ``array_sort`` both sides already apply): let c
    be the order-smallest common token. If c sat outside A's prefix,
    every common token would sit in A's last ⌈t·|A|⌉ − 1 positions, so
    |A∩B| < t·|A| ≤ t·|A∪B| — contradicting J ≥ t. Hence c is in both
    prefixes and the key equi-join finds every qualifying pair.
    ⌈t·n⌉ in exact integers: (num·n + den − 1) div den. Key fan-out is
    (1−t)·|set| + 1 per set — LINEAR in set size where the deletion
    neighborhood is C(|set|, d) — which is why this is the scheme for
    long documents; the deletion scheme stays preferred for short sets
    because its candidates are ∝ true near-dup density while prefix
    candidates are ∝ shared-rare-token density (df-ordering, which the
    shingle PPJoin uses, narrows that gap but needs a frequency pass).
    Empty token sets emit no keys: they can only match other empty
    sets, which the exact-clique collapse already pairs."""
    num, den = _jaccard_fraction(threshold)
    p = (
        f"(size(toks) - (({num} * size(toks) + {den} - 1) div {den}) + 1)"
    )
    return F.explode(F.expr(f"slice(toks, 1, greatest({p}, 0))")).alias("key")


def _length_filter(
    sz_a: Column, sz_b: Column, threshold: float = JACCARD_THRESHOLD
) -> Column:
    """Lossless size prune: J(A,B) ≤ min/max, so J ≥ t requires
    den·min(|A|,|B|) ≥ num·max(|A|,|B|). Exact integers."""
    num, den = _jaccard_fraction(threshold)
    return F.least(sz_a, sz_b) * F.lit(den) >= F.greatest(sz_a, sz_b) * F.lit(num)


def _corpus_deletion_distance(
    spark: SparkSession, sf_dir: str, sets: DataFrame
) -> int:
    """Derive d from the data (max token-set size), never assume it.

    Session artifact, consumed by the rep graph and
    dedup_incremental_index_join. The reps-vs-all-sets call sites share
    one entry: every distinct-set group's rep carries toks identical
    to its members', so max(size(toks)) agrees by construction."""
    return session_artifact(
        spark,
        "corpus-d",
        sf_dir,
        ("documents",),
        lambda: _deletion_distance(
            sets.agg(F.max(F.size("toks"))).collect()[0][0] or 1
        ),
    )


def _rep_graph_impl(
    spark: SparkSession, sf_dir: str, deletion_d: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """(members, rep_pairs): group membership (set_key, doc_id) and the
    verified cross-group near-dup pairs between distinct token sets
    (key_a, key_b, jaccard) — the collapsed form both the pair listing
    and the clustering are derived from. ``deletion_d`` overrides the
    data-derived deletion distance (tests only)."""
    grouped = _distinct_set_groups(_token_sets(spark, sf_dir))
    members = grouped.select("set_key", "doc_id")
    reps = grouped.filter(F.col("doc_id") == F.col("rep")).select(
        "set_key", "toks"
    )

    # cross-group candidates over distinct sets. Scheme auto-selection
    # (r13): the deletion neighborhood (keys per deletion subset of
    # size ≤ d, d derived from the corpus's max set size) while d ≤ 2
    # — its candidates are ∝ true near-dup density; past that the key
    # fan-out C(|set|, d) explodes, so long-document corpora (the
    # boilerplate-monorepo shape from the r13 skew survey) switch to
    # PPJoin-style prefix keys — linear fan-out, same losslessness
    # proof, same naive-O(n²) oracle checking it every driver round.
    # The length filter is lossless under BOTH schemes.
    if deletion_d is None:
        deletion_d = _corpus_deletion_distance(spark, sf_dir, reps)
    key_expr = (
        _deletion_keys_expr(deletion_d)
        if deletion_d <= 2
        else _prefix_keys_expr()
    )
    keys = reps.select("set_key", F.size("toks").alias("sz"), key_expr)
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.set_key") < F.col("b.set_key"))
            & _length_filter(F.col("a.sz"), F.col("b.sz")),
        )
        .select(
            F.col("a.set_key").alias("key_a"),
            F.col("b.set_key").alias("key_b"),
        )
        .dropDuplicates(["key_a", "key_b"])
    )
    sa = reps.select(F.col("set_key").alias("key_a"), F.col("toks").alias("toks_a"))
    sb = reps.select(F.col("set_key").alias("key_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    jac = inter.cast("double") / union
    rep_pairs = (
        cand.join(sa, "key_a")
        .join(sb, "key_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("key_a", "key_b", "jaccard")
    )
    return members, rep_pairs


def _rep_graph_materialized(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Session artifact, consumed by dedup_jaccard_pairs and
    dedup_cluster_components: one checkpointed copy of the
    collapsed graph, tiny by construction (distinct sets + verified rep
    pairs)."""

    def build() -> tuple[DataFrame, DataFrame]:
        members, rep_pairs = _rep_graph_impl(spark, sf_dir)
        return members.localCheckpoint(), rep_pairs.localCheckpoint()

    return session_artifact(spark, "rep-graph", sf_dir, ("documents",), build)


@query(
    "dedup_embedding_cosine_pairs",
    oracle=f"""
    WITH unit AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(x AS DOUBLE) / {_DUCK_NORM}) AS u
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_aggregate(list_transform(list_zip(a.u, b.u),
                          p -> p[1] * p[2]), 'sum') AS cos_sim
    FROM unit a, unit b
    WHERE a.vec_id < b.vec_id
      AND list_aggregate(list_transform(list_zip(a.u, b.u),
                         p -> p[1] * p[2]), 'sum') >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.35 — calibrated
    to this corpus's near-random vectors). The verified pair set is a
    session artifact, consumed by this query and dedup_semantic_clusters.

    All pairs are scored exactly. At this calibrated-low threshold that
    is not a compromise: ~1% of ALL pairs qualify on near-random
    embeddings, so the output itself is Θ(corpus²) and no algorithm
    does better than a well-executed quadratic scan. (Hyperplane LSH
    separates cos 0.35 from random at only 0.61 vs 0.5 per bit, so a
    blocked candidate set with honest recall would admit ~all pairs.)

    Plan shape, tuned against measured alternatives at sf0.1:

    1. Normalize once into **64 plain double columns** (not an array):
       array getItem + higher-order lambdas are interpreted per element
       inside the O(n²) join, while flat column arithmetic whole-stage-
       codegens — measured 65 s (array fold) → 5.6 s (columnar).
    2. ``repartition`` barrier after normalization so Catalyst cannot
       inline the per-vector norm back into the per-pair projection
       (CollapseProject would otherwise recompute it 64× per pair).
    3. Pair join is a broadcast nested-loop on ``vec_id <`` with the
       dot product as a left-associative add chain — the same addition
       order as a sequential fold, so the oracle (which folds the array
       form) stays bitwise-identical.

    At 100 TB the same normalized-columnar layout feeds LSH/IVF bucket
    joins (see simsearch_lsh_bucketed); only the blocking changes."""
    return session_artifact(
        spark,
        "cosine-pairs",
        sf_dir,
        ("embeddings",),
        # tiny (near-dup pairs only)
        lambda: _exact_cosine_pairs(spark, sf_dir).localCheckpoint(),
    )

EMBED_DIM = 64


def _unit_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, u0..u63): L2-normalized embedding as flat double
    columns (codegen-friendly — see dedup_embedding_cosine_pairs), with
    a repartition barrier so the per-vector norm is computed once."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        *[
            (
                F.col("embedding").getItem(i).cast("double")
                / norm(F.col("embedding"))
            ).alias(f"u{i}")
            for i in range(EMBED_DIM)
        ],
    ).repartition(spark.sparkContext.defaultParallelism)



def _exact_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs exact cosine ≥ COSINE_DUP_THRESHOLD (vec_a < vec_b) —
    the quadratic kernel. The dot product is a left-associative add
    chain: the same addition order as the DuckDB oracle's sequential
    list fold, so cos values are bitwise identical."""
    from functools import reduce

    unit = _unit_cols(spark, sf_dir)
    a, b = unit.alias("a"), unit.alias("b")
    dot = reduce(
        lambda x, y: x + y,
        [F.col(f"a.u{i}") * F.col(f"b.u{i}") for i in range(EMBED_DIM)],
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            dot.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= COSINE_DUP_THRESHOLD)
    )

@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sets AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(text) - 3),
                                            i -> substring(text, i, 5))) AS sh
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_filter(a.sh, s -> list_contains(b.sh, s))) * 1.0
             / (len(a.sh) + len(b.sh)
                - len(list_filter(a.sh, s -> list_contains(b.sh, s))))
             AS jaccard
    FROM sets a, sets b
    WHERE a.doc_id < b.doc_id
      AND len(list_filter(a.sh, s -> list_contains(b.sh, s))) * 1.0
            / (len(a.sh) + len(b.sh)
               - len(list_filter(a.sh, s -> list_contains(b.sh, s))))
          >= {NGRAM_JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    bitset_vocab_max: int = BITSET_VOCAB_MAX,
) -> DataFrame:
    """X2 char-5-gram Jaccard near-dup pairs at t ≥ 0.9 via
    **prefix filtering** (Bayardo All-Pairs / PPJoin): order every
    doc's shingles rarest-first (global document frequency); if
    J(A,B) ≥ t then the globally-smallest common shingle sits within
    the first |S| − ⌈t·|S|⌉ + 1 shingles of *both* docs, so an
    equi-join on prefix shingles alone generates every qualifying
    pair. Two further lossless prunes before the pair is even formed:
    the **length filter** (t ≤ |A|/|B| ≤ 1/t) and PPJoin's
    **positional filter** (the matched occurrence must leave
    min(|A|−posA, |B|−posB)+1 ≥ ⌈t/(1+t)·(|A|+|B|)⌉ shingles of
    possible overlap — the minimum common shingle always does).
    Survivors get exact set verification.

    All bounds use exact integer math (t = 9/10 → ⌈9·|S|/10⌉ =
    (9·|S|+9) div 10; the overlap bound ⌈9·x/19⌉ likewise) so no
    float rounding can shorten a prefix and silently drop a pair. The
    DuckDB oracle is the naive O(n²) definition — it proves candidate
    generation lossless at every driver round. Measured at sf0.1:
    105k prefix rows → 2.6M shingle matches → 655k after the
    positional prune, vs 12.5M raw pairs² — and the gap widens with
    corpus size since posting lists of rare shingles stay short.

    Survivor verification is **vocabulary-adaptive** (and since round
    7 the switch is implemented, not just documented —
    ``BITSET_VOCAB_MAX``): up to 4096 distinct shingles every doc's
    set becomes a fixed-width bitset (⌈|V|/64⌉ longs) and a pair
    verifies as a handful of AND+popcount words — measured 22 s →
    1.7 s vs the string-array intersect at sf0.1. Past the cutoff the
    SAME join runs over the sorted dictionary-int arrays (already
    materialized): O(sz_a+sz_b) per pair, independent of |V| —
    without the switch, a 10× corpus with a 10× vocabulary measured
    33 s vs 14.5 s (PERFORMANCE.md round 7; both kernels asserted
    pair-identical in tests). The candidate plan is unchanged either
    way.

    At 100 TB: document frequencies come from a first aggregation pass
    (or a frequency sketch broadcast); the prefix join shuffles only
    ~(1−t)·corpus shingle occurrences, and the verify join is keyed by
    candidate doc ids — both AQE-skew-splittable.

    The corpus arrives as one small parquet file → one input split;
    the explicit-N text_key hash repartition spreads documents across
    every core before the CPU-heavy shingling runs AND satisfies the
    dedup window's distribution (one shuffle total — and, unlike the
    window's own exchange, exempt from AQE's byte-based coalescer,
    which would fold this "small" corpus onto a handful of cores).

    Materialization strategy (each localCheckpoint is a barrier — keep
    them few and small, and keep everything per-DOC, never
    per-occurrence): the occurrence stream exists only transiently
    inside the document-frequency aggregate and the one keyed shuffle
    that builds per-doc *sorted sid arrays*; prefix rows, bitsets, and
    set sizes all derive map-side from those arrays (sid is df-rank,
    so a sorted array IS the rarest-first PPJoin order — no
    per-occurrence rank window, no materialized occurrence table).
    Group membership (tiny) is checkpointed once and reused by both
    expansion branches; the per-doc bitset table (|docs| × ⌈|V|/64⌉
    longs) is broadcast on BOTH sides of the verify join, making
    verification map-only over candidates instead of two shuffle
    joins.

    **Exact-duplicate collapse first**: identical texts have identical
    shingle sets, so the whole PPJoin runs over one representative per
    distinct text and verified pairs expand over group members at the
    end (within-group pairs are emitted directly with jaccard 1.0).
    Real corpora are dominated by exact-dup cliques — here a 248-doc
    clique alone would otherwise contribute ~30k of the candidate
    pairs through every stage of the pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    # explicit-N hash repartition on the window key: AQE's byte-based
    # coalescer reads this corpus as "small" and would fold the window
    # shuffle to a handful of partitions — serializing the CPU-heavy
    # shingling that runs on the window's output (bytes are a poor
    # proxy for shingling CPU). A user repartition with explicit N is
    # exempt from coalescing and satisfies the window's required
    # distribution, so no second exchange is inserted.
    keyed = docs.withColumn("text_key", F.md5("text"))
    keyed = (
        keyed.repartition(spark.sparkContext.defaultParallelism, "text_key")
        .withColumn("rep", F.min("doc_id").over(Window.partitionBy("text_key")))
        .localCheckpoint()  # ONE corpus pass: members, reps, and the
        # within-group branch all read this — previously the md5 +
        # window shuffle re-ran for each consumer
    )
    members = keyed.select(
        "text_key", "doc_id", "rep", F.length("text").alias("tlen")
    )
    reps = keyed.filter(F.col("doc_id") == F.col("rep")).select("doc_id", "text")
    # Chunked shingling: substring(text, i, 5) is O(i) on UTF8String
    # (char offsets are found by scanning), so the naive per-position
    # transform is O(len²) per document — measured 7.7 s for the
    # shingle explode at sf0.1. Cutting the text into 64-char chunks
    # (with 4 chars of overlap so no window is lost) first makes each
    # inner substring O(chunk), for O(len²/64) total — bit-identical
    # output, asserted against the naive form in tests.
    chunks = (
        "transform(sequence(1, CAST(ceil((length(text) - 4) / 64.0) AS INT)),"
        " c -> substring(text, (c - 1) * 64 + 1, 68))"
    )
    sets = reps.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                f"CASE WHEN length(text) >= 5 THEN flatten(transform({chunks},"
                " ch -> transform(sequence(1, greatest(length(ch) - 4, 0)),"
                "                 i -> substring(ch, i, 5))))"
                " ELSE array() END"
            )
        ).alias("sh"),
    ).localCheckpoint()  # |docs| rows of shingle arrays — the compact
    # form of the occurrence table; consumers re-explode from here so
    # the expensive shingling runs once but no 200×-larger exploded
    # table is ever written
    occ = sets.select("doc_id", F.explode("sh").alias("s"))
    # |V|-row table (2041 at sf0.1) — checkpointed so the n_vocab
    # count and the sid-assignment join don't each re-run the full
    # occurrence aggregation
    docfreq = occ.groupBy("s").agg(F.count("*").alias("df")).localCheckpoint()
    # dictionary-encode shingles ONCE, up front: every downstream stage
    # (prefix ranking, candidate self-join, bitset build) then works on
    # int ids instead of 5-char strings — cheaper hashing/shuffles, and
    # the bitset build no longer needs its own vocab join. sid is
    # assigned in (df, s) rank order, so SORTING a doc's sid array IS
    # the rarest-first PPJoin order — no per-occurrence window needed.
    n_vocab = docfreq.count()
    n_words = (n_vocab + 63) // 64
    # the dictionary rank runs over the aggregated vocabulary, not the
    # occurrences: its input is bounded by |V| (~20k shingles at 10x
    # sf0.1), milliseconds for the single-task rank
    vocab = docfreq.select(
        "s",
        (F.row_number().over(Window.orderBy(F.asc("df"), F.asc("s"))) - 1).alias(
            "sid"
        ),
    )
    # ONE keyed shuffle turns the occurrence stream into per-doc sorted
    # sid arrays; prefix rows AND bitsets then derive map-side from the
    # arrays. This replaced a materialized occurrence table + a
    # per-occurrence rank window + a two-level bit_or aggregation —
    # measured 5.3 → 3.9 s end-to-end at sf0.1, bit-identical output.
    # Per-group state is one doc's shingle set (bounded by document
    # length, never corpus size).
    sets_i = (
        occ.join(F.broadcast(vocab), "s")
        # ONE user exchange where r15 paid two (r16, guide §2.4): the
        # explicit hash(doc_id, N) repartition both SATISFIES the
        # aggregation's clustering (same key, so no ENSURE_REQUIREMENTS
        # exchange is inserted) and — being user-specified — is exempt
        # from AQE's byte-based coalescer, so the aggregate's output
        # stays spread over every core for the map-side candidate
        # generation downstream. The r15 shape let the groupBy insert
        # its own (coalescible) exchange and then round-robin
        # repartitioned the |reps|-row array table a second time to
        # restore the spread. A/B at sf0.1: this segment 1.06 → 0.72 s,
        # rows identical; doc_id is unique per row, so hash(doc_id) is
        # skew-free by construction.
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("sid")).alias("sids"))
        .withColumn("sz", F.size("sids"))
        .localCheckpoint()
    )
    prefix_len = F.col("sz") - F.floor((9 * F.col("sz") + 9) / 10) + 1
    prefix = (
        sets_i.select(
            "doc_id",
            "sz",
            F.posexplode(F.slice("sids", 1, prefix_len.cast("int"))).alias(
                "p0", "sid"
            ),
        )
        .select("doc_id", "sid", "sz", (F.col("p0") + 1).alias("pos"))
        .localCheckpoint()  # consumed twice (both sides of the self-join)
    )
    a, b = prefix.alias("a"), F.broadcast(prefix.alias("b"))
    # overlap lower bound α = ⌈t/(1+t)·(|A|+|B|)⌉ = ⌈9(|A|+|B|)/19⌉
    alpha = F.floor((9 * (F.col("a.sz") + F.col("b.sz")) + 18) / 19)
    cand = (
        a.join(
            b,  # prefix rows ≈ (1−t)·occurrences — broadcastable, so
            # candidate generation is map-side (no sid shuffle; sid is
            # low-cardinality and would skew a shuffle join)
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: t ≤ |A|/|B| ≤ 1/t
            & (F.col("b.sz") * 10 >= F.col("a.sz") * 9)
            & (F.col("a.sz") * 10 >= F.col("b.sz") * 9)
            # positional filter: enough shingles remain past this match
            & (
                1
                + F.least(
                    F.col("a.sz") - F.col("a.pos"),
                    F.col("b.sz") - F.col("b.pos"),
                )
                >= alpha
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        # NO dedup here at SMALL vocab: a pair matching on k prefix
        # shingles flows k times into verification, and re-verifying
        # duplicate candidates with a narrow bitset is cheaper than a
        # dropDuplicates shuffle. At WIDE vocab the per-pair verify is
        # itself O(|V|/64), so duplicates are deduped first (below) and
        # survivors dedup after the filter either way.
    )
    # Vocabulary-adaptive verify kernel — measured at sf0.1 (|V|=2041)
    # and on a 10× substituted corpus (|V|=20410, PERFORMANCE.md):
    #  - dense-bitset AND+popcount wins while the vocabulary is narrow
    #    (n_words small): the bitset build is map-side O(sz·n_words)
    #    and each pair costs n_words word-ANDs;
    #  - past the width cutoff both the build and the per-pair cost
    #    scale with |V| while the real work (set overlap) does not —
    #    switch to sorted dictionary-int arrays: O(sz) per doc to
    #    build (already materialized!) and O(sz_a + sz_b) per pair,
    #    independent of vocabulary width. Candidates dedup BEFORE this
    #    kernel (multiplicity × a wide kernel is the 10× regression
    #    this switch removed: 33 s → 21 s at 10× corpus).
    if n_vocab <= bitset_vocab_max:
        bs_expr = F.expr(
            f"aggregate(sids, array_repeat(0L, {n_words}),"
            " (acc, s) -> transform(acc, (w, i) ->"
            "   CASE WHEN i = CAST(s / 64 AS INT)"
            "        THEN w | shiftleft(1L, CAST(s % 64 AS INT)) ELSE w END))"
        )
        sides = sets_i.select(
            "doc_id", bs_expr.alias("bs"), F.col("sz").alias("set_sz")
        ).localCheckpoint()  # docs × ⌈|V|/64⌉ longs; reused by both sides
        inter = F.expr(
            "aggregate(zip_with(bs_a, bs_b, (x, y) -> bit_count(x & y)),"
            " 0, (acc, v) -> acc + v)"
        )
        verify_in = cand
    else:
        sides = sets_i.select(
            "doc_id", F.col("sids").alias("bs"), F.col("sz").alias("set_sz")
        )
        inter = F.size(F.array_intersect("bs_a", "bs_b"))
        verify_in = cand.dropDuplicates(["doc_a", "doc_b"])
    ba = sides.select(
        F.col("doc_id").alias("doc_a"),
        F.col("bs").alias("bs_a"),
        F.col("set_sz").alias("sz_a"),
    )
    bb = sides.select(
        F.col("doc_id").alias("doc_b"),
        F.col("bs").alias("bs_b"),
        F.col("set_sz").alias("sz_b"),
    )
    rep_pairs = (
        verify_in.join(F.broadcast(ba), "doc_a")
        .join(F.broadcast(bb), "doc_b")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .dropDuplicates(["doc_a", "doc_b"])  # candidate multiplicity
        # (see above) — jaccard is identical per pair, so any survivor
    )
    # expand verified representative pairs over both groups' members;
    # within-group pairs are exact duplicates (J = 1.0) — guarded to
    # docs that actually have shingles, matching the oracle (shingle-
    # less docs can never satisfy the join/division there)
    ma, mb = members.alias("ma"), members.alias("mb")
    cross = (
        rep_pairs.join(ma, F.col("ma.rep") == F.col("doc_a"))
        .join(mb, F.col("mb.rep") == F.col("doc_b"))
        .select(
            F.least("ma.doc_id", "mb.doc_id").alias("doc_a"),
            F.greatest("ma.doc_id", "mb.doc_id").alias("doc_b"),
            "jaccard",
        )
    )
    # sh is non-empty ⇔ length(text) ≥ 5 (the CASE guard), so test the
    # cheap length predicate instead of recomputing the whole shingle
    # transform for this branch (Catalyst can't prune it away: size(sh)
    # needs sh) — this was a full second re-shingle of the corpus
    shingled = reps.filter(F.length("text") >= 5).select(
        F.col("doc_id").alias("sh_rep")
    )
    within = (
        ma.join(
            mb,
            (F.col("ma.text_key") == F.col("mb.text_key"))
            & (F.col("ma.doc_id") < F.col("mb.doc_id")),
        )
        .join(shingled, F.col("ma.rep") == F.col("sh_rep"))
        .select(
            F.col("ma.doc_id").alias("doc_a"),
            F.col("mb.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return within.unionByName(cross)


# DuckDB CTE computing the per-doc SimHash signature — shared by the
# signature query's oracle and the Hamming-pair query's oracle so both
# check the identical arithmetic.
_SIMHASH_SIG_SQL = f"""
    tok_counts AS (
        SELECT doc_id, tok, COUNT(*) AS cnt FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ) GROUP BY doc_id, tok
    ), hashed AS (
        SELECT doc_id, cnt,
               CAST(('0x' || substr(md5(tok), 1, {SIMHASH_BITS // 4})) AS BIGINT) AS h
        FROM tok_counts
    ), bit_sums AS (
        SELECT doc_id, b.b AS b,
               SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN cnt ELSE -cnt END) AS s
        FROM hashed, (SELECT unnest(range(0, {SIMHASH_BITS})) AS b) b
        GROUP BY doc_id, b.b
    ), sigs AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
                   AS simhash
        FROM bit_sums GROUP BY doc_id
    )
"""


def _simhash_sig_df(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — the Spark twin of ``_SIMHASH_SIG_SQL``.

    The corpus is one parquet file, so without the explicit
    repartition the token explode + md5 + map-side partial aggregation
    all run on a single scan task (measured 2.0 s → 0.5 s at sf0.1
    for ``dedup_simhash``); the shuffle moves only raw doc bytes."""
    tok_counts = (
        docs.repartition(32, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    hashed = tok_counts.select(
        "doc_id",
        "cnt",
        F.conv(F.substring(F.md5("tok"), 1, SIMHASH_BITS // 4), 16, 10)
        .cast("long")
        .alias("h"),
    )
    bits = hashed.select(
        "doc_id",
        "cnt",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("b"),
    )
    contrib = F.when(
        F.expr("shiftright(h, b)").bitwiseAND(F.lit(1)) == 1,
        F.col("cnt"),
    ).otherwise(-F.col("cnt"))
    bit_sums = bits.groupBy("doc_id", "b").agg(F.sum(contrib).alias("s"))
    bit_val = F.when(
        F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")
    ).otherwise(F.lit(0).cast("long"))
    return bit_sums.groupBy("doc_id").agg(
        F.sum(bit_val).cast("long").alias("simhash")
    )


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_SIMHASH_SIG_SQL}
    SELECT doc_id, simhash FROM sigs
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 SimHash document signatures, engine-independent: per-token
    48-bit hashes derived from md5 hex (identical in any engine, unlike
    murmur/xxhash), weighted by term frequency; bit b of the signature
    is the sign of Σ±cnt. Pure relational plan — explode tokens, explode
    bit positions, two hash aggregations — no UDF, and oracle-checked
    bit-for-bit. Near-dup candidates at scale bucket on signature bands
    and verify with hamming distance (``bit_count(a XOR b)``) — see
    ``dedup_simhash_hamming_pairs``."""
    docs = load_table(spark, sf_dir, "documents")
    return _simhash_sig_df(docs)


SIMHASH_HAMMING_RADIUS = 3  # pairs within 3 of 48 bits are near-dups
SIMHASH_BANDS = SIMHASH_HAMMING_RADIUS + 1  # pigeonhole: ≥1 exact band
_SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 12




@query(
    "dedup_simhash_hamming_pairs",
    oracle=f"""
    WITH {_SIMHASH_SIG_SQL}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_RADIUS}
    """,
)
def dedup_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 SimHash near-dup *pairs*: all doc pairs whose 48-bit
    signatures differ in ≤ 3 bits, found without an O(n²) comparison.
    The signature is split into 4 disjoint 12-bit bands; by pigeonhole,
    two signatures within Hamming 3 agree exactly on at least one band,
    so candidate pairs are generated by an equi-join on (band index,
    band value) and only candidates pay the ``bit_count(xor)``
    verification.

    This is the multi-index Hamming scheme behind web-crawl SimHash
    dedup (Manku et al., WWW'07): candidate volume is ∝
    pairs-per-band-bucket (near-dup density + 2⁻¹² random collisions),
    never corpus², and the band key is a shuffle key — AQE skew
    splitting applies if one bucket runs hot. The DuckDB oracle *is*
    the O(n²) definition, so the banding is proved lossless on every
    run, not assumed. The verified pairs are a session artifact,
    consumed by this query and dedup_simhash_clusters."""
    return session_artifact(
        spark,
        "simhash-pairs",
        sf_dir,
        ("documents",),
        lambda: _simhash_pairs(spark, sf_dir),
    )


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = _simhash_sig_df(docs)
    mask = (1 << _SIMHASH_BAND_BITS) - 1
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))
        ).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(
            f"shiftright(simhash, band * {_SIMHASH_BAND_BITS})"
        ).bitwiseAND(F.lit(mask)),
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), on=["band", "band_val"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sig_a"),
            F.col("y.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_RADIUS)
        .select("doc_a", "doc_b", "hamming")
        .localCheckpoint()  # tiny (verified near-dup pairs)
    )


def _minhash_coefficients() -> list[tuple[int, int]]:
    """Fixed universal-hash family (a·h + b mod p): deterministic
    seeded coefficients, identical across runs and engines."""
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, MINHASH_PRIME - 1), rng.randrange(0, MINHASH_PRIME))
        for _ in range(MINHASH_HASHES)
    ]


def _minhash_oracle_sql() -> str:
    """DuckDB twin of the ENTIRE MinHash-LSH pipeline — not just the
    naive pair definition: the same seeded coefficients (inlined as a
    VALUES table), the same md5-derived token hashes, the same banded
    bucketing and verification. Every stage is engine-independent
    arithmetic, so the banding itself is hash-verified, not merely the
    final pair set."""
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    coeff_rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_minhash_coefficients())
    )
    return f"""
    WITH coeffs(i, ca, cb) AS (VALUES {coeff_rows}),
    sets0 AS (
        SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks
        FROM documents
    ),
    grouped AS (
        SELECT doc_id, toks, md5(array_to_string(toks, ' ')) AS set_key,
               MIN(doc_id) OVER (
                   PARTITION BY md5(array_to_string(toks, ' '))
               ) AS rep
        FROM sets0
    ),
    reps AS (SELECT set_key, toks FROM grouped WHERE doc_id = rep),
    th AS (
        SELECT set_key,
               CAST('0x' || substr(md5(t.tok), 1, 8) AS BIGINT) AS h
        FROM reps, unnest(toks) AS t(tok)
    ),
    minh AS (
        SELECT th.set_key, c.i,
               MIN((c.ca * th.h + c.cb) % {MINHASH_PRIME}) AS m
        FROM th CROSS JOIN coeffs c
        GROUP BY th.set_key, c.i
    ),
    bands AS (
        SELECT set_key, i // {rows_per_band} AS band,
               md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)) AS band_key
        FROM minh GROUP BY set_key, i // {rows_per_band}
    ),
    cand AS (
        SELECT DISTINCT a.set_key AS key_a, b.set_key AS key_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.set_key < b.set_key
    ),
    verify AS (
        SELECT * FROM (
            SELECT key_a, key_b,
                   len(list_filter(ra.toks, t -> list_contains(rb.toks, t)))
                     * 1.0
                     / (len(ra.toks) + len(rb.toks)
                        - len(list_filter(ra.toks,
                                          t -> list_contains(rb.toks, t))))
                     AS jaccard
            FROM cand
            JOIN reps ra ON ra.set_key = cand.key_a
            JOIN reps rb ON rb.set_key = cand.key_b
        ) WHERE jaccard >= 0.9
    )
    SELECT ma.doc_id AS doc_a, mb.doc_id AS doc_b,
           CAST(1.0 AS DOUBLE) AS jaccard
    FROM grouped ma JOIN grouped mb
      ON ma.set_key = mb.set_key AND ma.doc_id < mb.doc_id
    UNION ALL
    SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
           GREATEST(ma.doc_id, mb.doc_id) AS doc_b, v.jaccard
    FROM verify v
    JOIN grouped ma ON ma.set_key = v.key_a
    JOIN grouped mb ON mb.set_key = v.key_b
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 MinHash + banded LSH near-dup pairs, the full
    shingle → minhash → band → bucket-join pipeline as relational ops:

    1. token hash: md5-derived 60-bit int per distinct token (engine-
       independent, like dedup_simhash);
    2. 128 minhashes per doc via a seeded universal hash family —
       computed with array higher-order functions in a single
       projection (no explode, no shuffle; see inline note);
    3. band keys: 8 bands × 16 rows, key = md5 of the band's ordered
       minhash vector;
    4. candidates: self-join on (band, key) — **AND-amplification**
       P(candidate) = 1−(1−j¹⁶)⁸, ≈0.8% at this corpus's background
       similarity j≈0.65 but ≈100% at j≥0.95. (pyspark.ml's MinHashLSH
       OR-amplifies single hashes, which degenerates to ~j·n² candidates
       on a self-similar corpus — measured 564 s vs ~10 s for this plan
       at sf0.1.)
    5. exact Jaccard verification on the candidate set (≥ 0.9 kept).

    Identical token sets collide in every band, so recall of exact-
    duplicate sets is 1.0 by construction (asserted in tests) — which
    is also why the pipeline runs over one representative per distinct
    token set (`_distinct_set_groups`): within-group pairs are emitted
    directly with jaccard 1.0 (what every band would have produced),
    and banding/verification only see the collapsed corpus."""
    coeffs = _minhash_coefficients()
    # grouped feeds four consumers (the rep sets upstream of signatures
    # and verification, plus both sides of the member expansion and the
    # within-clique join) — materialize once instead of recomputing the
    # tokenize + set_key-window chain per consumer. At 100 TB this is
    # the standard disk-backed tokenized-corpus intermediate; the
    # alternative is four full corpus re-scans.
    grouped = _distinct_set_groups(_token_sets(spark, sf_dir)).localCheckpoint()
    members = grouped.select("set_key", "doc_id")
    sets = grouped.filter(F.col("doc_id") == F.col("rep")).select(
        F.col("set_key"), "toks"
    )
    # Signatures via array higher-order functions, NOT explode+groupBy:
    # the naive pipeline (explode tokens ×128 hash indices, min per
    # (doc, index)) shuffles |docs|·|toks|·128 rows — ~640M at sf0.1,
    # measured 179 s, and the shuffle grows with corpus size. Here the
    # whole signature is computed inside one projection per document
    # (same multiply-mod arithmetic, zero shuffle, zero intermediate
    # rows): 32-bit md5 token hashes as an array, then for each (a, b)
    # coefficient the min of (a·h+b) mod p over that array. Per-row
    # cost is identical; cluster cost drops from a 640M-row shuffle to
    # an embarrassingly parallel map. (A third shape — explode tokens
    # once and run 128 codegen'd MIN aggregate columns — executes ~2.4×
    # faster per row but pays ~2.5 s of Catalyst/codegen time per call
    # for the 128-buffer plan, a net loss at any interactive cadence
    # and pure overhead the fold shape never incurs.)
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    # The coefficient family travels as TWO single array Literal nodes,
    # not 128 struct(lit, lit) constructors: the struct-array shape put
    # ~400 expression nodes into the projection, and this query re-plans
    # per call — measured ~0.8 s of driver-side Catalyst/codegen gap
    # before the signature job at interactive cadence (the round-6
    # wide-agg lesson, same root cause). Two literals collapse the tree
    # to a handful of nodes; the executed arithmetic is identical.
    a_arr = F.lit([a for a, _ in coeffs])
    b_arr = F.lit([b for _, b in coeffs])
    th = F.transform(
        F.col("toks"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )
    # single traversal of the token-hash array carrying all 128 running
    # mins as the accumulator — NOT transform(ab, c -> array_min(...)),
    # which references `th` 128 times: Catalyst's CollapseProject
    # inlines the th projection into every reference, recomputing the
    # md5 of every token ×128
    sig = F.aggregate(
        F.col("th"),
        F.array_repeat(F.lit(MINHASH_PRIME).cast("long"), MINHASH_HASHES),
        # (a·h + b) mod p stays under 2^63 → plain BIGINT arithmetic
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(
                a_arr, b_arr, lambda a, b: (a * h + b) % MINHASH_PRIME
            ),
            lambda m, v: F.least(m, v),
        ),
    )
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1)),
        lambda bi: F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
            )
        ),
    )
    bands = (
        sets.withColumn("th", th)
        .withColumn("sig", sig)
        .select("set_key", F.posexplode(band_keys).alias("band", "band_key"))
        # distinct sets × 8 small rows, consumed by both sides of the
        # self-join: materialize so the ×128 signature stage runs once
        .localCheckpoint()
    )
    # Broadcast gating: the rep token sets are materialized
    # (localCheckpoint), so their true size is known for one cheap
    # count — broadcast the rep-sized artifacts (bands = 8·reps rows,
    # the rep token sets, and the verified pair list) only while they
    # fit, the same decision AQE's runtime SMJ→BHJ rewrite would make
    # from shuffle statistics. Past the cap the joins degrade to the
    # canonical LSH shuffles on (band, band_key) / set_key with
    # identical results.
    bcast_cap = 2_000_000  # rows; well under driver/executor budgets
    # both verify sides re-read the rep token arrays through grouped's
    # checkpoint (filter + project over a materialized ~MB-scale
    # artifact) — a second checkpoint of the same data cost a job +
    # planning round per call and saved nothing
    sets_m = sets
    reps_n = sets_m.count()
    bands_small = reps_n * MINHASH_BANDS <= bcast_cap
    sets_small = reps_n <= bcast_cap
    a, b = bands.alias("a"), bands.alias("b")
    # A pair colliding in k of the 8 bands surfaces k times; keep the
    # dropDuplicates exchange. (Measured alternative: the no-dup-LSH
    # trick — carry each row's full 8-key vector and keep a pair only
    # at its first colliding band as a per-row predicate. It removes
    # this exchange but regressed ~0.7 s at sf0.1: the 8 md5 strings
    # per row inflate the broadcast and every join probe, costing more
    # than the ~350k-row exchange they replace.)
    cand = (
        (F.broadcast(a) if bands_small else a)
        .join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.set_key") < F.col("b.set_key")),
        )
        .select(F.col("a.set_key").alias("key_a"), F.col("b.set_key").alias("key_b"))
        .dropDuplicates(["key_a", "key_b"])
    )
    sa = sets_m.select(F.col("set_key").alias("key_a"), F.col("toks").alias("toks_a"))
    sb = sets_m.select(F.col("set_key").alias("key_b"), F.col("toks").alias("toks_b"))
    if sets_small:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    rep_pairs = (
        cand.join(sa, "key_a")
        .join(sb, "key_b")
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= 0.9)
        .select("key_a", "key_b", "jaccard")
    )
    ma, mb = members.alias("ma"), members.alias("mb")
    # rep_pairs is verified-near-dup-pair-sized (∝ output density, never
    # corpus²) — broadcast it into the member-expansion joins so the
    # corpus-sized members table streams map-side instead of shuffling.
    # Gated on the candidate artifact sizes above: on a corpus where
    # reps no longer fit, the expansion falls back to set_key shuffles.
    cross = (
        (F.broadcast(rep_pairs) if sets_small else rep_pairs)
        .join(ma, F.col("ma.set_key") == F.col("key_a"))
        .join(mb, F.col("mb.set_key") == F.col("key_b"))
        .select(
            F.least("ma.doc_id", "mb.doc_id").alias("doc_a"),
            F.greatest("ma.doc_id", "mb.doc_id").alias("doc_b"),
            "jaccard",
        )
    )
    # Within-clique expansion is OUTPUT-skewed: one k-member exact-dup
    # clique emits its k(k-1)/2 pairs from a single set_key, so an
    # unsalted self-join funnels the biggest clique's quadratic pair
    # generation through one task (measured: the stage's max task ran
    # ~2x its p50 and bounded the job). AQE's skew splitter never fires
    # because the INPUT partition is tiny in bytes — the skew is in the
    # generated output. Salt the left side by doc hash and replicate the
    # right side across the salt domain: each pair (a, b) still appears
    # exactly once (at a's salt), but a clique's generation fans out
    # over WITHIN_SALTS tasks. The replicated side is the thin
    # (set_key, doc_id) projection, a bounded constant-factor shuffle.
    salts = F.array(*[F.lit(i) for i in range(WITHIN_SALTS)])
    ma_s = members.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(WITHIN_SALTS))
    ).alias("ma")
    mb_r = members.withColumn("salt", F.explode(salts)).alias("mb")
    within = (
        ma_s.join(
            mb_r,
            (F.col("ma.set_key") == F.col("mb.set_key"))
            & (F.col("ma.salt") == F.col("mb.salt"))
            & (F.col("ma.doc_id") < F.col("mb.doc_id")),
        )
        .select(
            F.col("ma.doc_id").alias("doc_a"),
            F.col("mb.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return within.unionByName(cross)


@query(
    "dedup_cluster_components",
    oracle=f"""
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
              >= {JACCARD_THRESHOLD}
    ),
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    verts AS (SELECT a AS v FROM e UNION SELECT b FROM e),
    cc(v, lbl) AS (
        SELECT v, v FROM verts
        UNION
        SELECT e.b AS v, cc.lbl FROM cc JOIN e ON cc.v = e.a WHERE cc.lbl < e.b
    )
    SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM cc GROUP BY v
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 cluster collapse: connected components over the near-dup pair
    graph (cluster id = min doc_id in the component) — the step that
    turns pairwise matches into dedup groups, so one representative per
    cluster survives.

    Spark side: components run on the **exact-clique-collapsed
    graph** (`_distinct_set_groups`): one node per distinct token set
    (labelled by its min doc_id), an edge per verified representative
    pair. Exact-duplicate cliques — k² edges in the doc-pair graph —
    are single nodes here, so the edge count shrinks by the duplication
    factor before the engine runs. The engine is Large-Star/Small-Star
    (`graph.large_star_small_star`): O(log n) rounds whatever the
    component diameter, each round sized to the collapsed edge list and
    checkpointed through `session.iter_checkpoint`. Membership
    expansion happens once, after convergence. The DuckDB oracle
    computes the fixpoint of the full doc-pair graph with a recursive
    CTE, so the collapsed iteration is verified against declarative
    ground truth. The labels are a session artifact, consumed by this
    query and pipeline_leakage_safe_split."""
    return session_artifact(
        spark,
        "cluster-labels",
        sf_dir,
        ("documents",),
        lambda: _cluster_labels(spark, sf_dir),
    )


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import large_star_small_star

    members, rep_pairs = _rep_graph_materialized(spark, sf_dir)
    group_rep = members.groupBy("set_key").agg(
        F.min("doc_id").alias("rep"), F.count("*").alias("sz")
    )
    # LS/SS labels components by the MIN NODE ID, so it must run in
    # rep-id space (rep = group's min doc_id), not set_key space —
    # md5-string ordering has nothing to do with cluster ids
    ga = group_rep.select(F.col("set_key").alias("key_a"), F.col("rep").alias("a"))
    gb = group_rep.select(F.col("set_key").alias("key_b"), F.col("rep").alias("b"))
    rep_edges = rep_pairs.join(ga, "key_a").join(gb, "key_b").select("a", "b")
    rep_labels = large_star_small_star(spark, rep_edges).select(
        F.col("v").alias("rep"), "lbl"
    )
    # nodes that appear in any doc-level pair: endpoints of cross-group
    # edges (labelled by LS/SS) plus groups of size ≥ 2 (internal
    # clique edges), which without a cross edge keep their self-label
    labels = (
        group_rep.join(rep_labels, "rep", "left")
        .filter(F.col("lbl").isNotNull() | (F.col("sz") >= 2))
        .select("set_key", F.coalesce("lbl", "rep").alias("lbl"))
    )
    return (
        members.join(labels, "set_key")
        .select(F.col("doc_id"), F.col("lbl").alias("cluster_id"))
        .localCheckpoint()  # converged labels
    )


@query(
    "dedup_incremental_index_join",
    oracle=f"""
    WITH sets AS (
        SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks
        FROM documents
    ),
    delta AS (SELECT * FROM sets WHERE doc_id % 17 = 0)
    SELECT LEAST(d.doc_id, s.doc_id) AS doc_a,
           GREATEST(d.doc_id, s.doc_id) AS doc_b,
           len(list_filter(d.toks, t -> list_contains(s.toks, t))) * 1.0
             / (len(d.toks) + len(s.toks)
                - len(list_filter(d.toks, t -> list_contains(s.toks, t))))
             AS jaccard,
           CASE WHEN s.doc_id % 17 = 0 THEN 'new-new' ELSE 'new-old' END
             AS pair_type
    FROM delta d, sets s
    WHERE d.doc_id <> s.doc_id
      AND (s.doc_id % 17 <> 0 OR d.doc_id < s.doc_id)
      AND len(list_filter(d.toks, t -> list_contains(s.toks, t))) * 1.0
            / (len(d.toks) + len(s.toks)
               - len(list_filter(d.toks, t -> list_contains(s.toks, t))))
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_incremental_index_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection: a new batch of documents (the
    deterministic ``doc_id % 17 = 0`` slice stands in for today's
    ingest) is checked against the full corpus by joining the *delta's*
    deletion-neighborhood keys against the corpus-wide key index —
    discovering every qualifying new-new and new-old pair WITHOUT
    re-running pair generation over the old corpus.

    This is the shape a 100 TB ingest actually runs: the full key table
    is a persisted index (built once, appended per batch), so per-batch
    cost is |delta|·|set| key lookups ∝ batch size, never corpus².
    Here both sides are computed in-query (no storage dependency), but
    the join topology is identical. The oracle is the naive
    delta × corpus definition, proving the key scheme loses no pairs.

    Output: (doc_a, doc_b, jaccard, pair_type) with pair_type
    distinguishing new-new from new-old matches — the former dedup
    within the batch, the latter dedup against the archive."""
    # four consumers (both sides of the key join, both token sides of
    # the verify join) each re-ran the tokenize+sort projection —
    # materialize the |docs|-row set table once (r15, guide §2.4). Lazy:
    # the first action against it (the corpus_d probe on a memo miss,
    # else the candidate join itself) materializes it — no extra job.
    sets = iter_checkpoint(_token_sets(spark, sf_dir), eager=False)
    # the persisted-index stand-in; key family sized to the corpus so
    # the scheme stays lossless if set sizes grow (see
    # _deletion_distance) — and auto-switched to prefix keys when the
    # derived d passes 2, exactly like _rep_graph_impl (the r13 skew
    # survey's long-document fix; the index rebuild on a scheme switch
    # is the same full pass a d=1→2 growth already required)
    corpus_d = _corpus_deletion_distance(spark, sf_dir, sets)
    key_expr = (
        _deletion_keys_expr(corpus_d) if corpus_d <= 2 else _prefix_keys_expr()
    )
    index = sets.select("doc_id", F.size("toks").alias("sz"), key_expr)
    delta_keys = index.filter(F.col("doc_id") % 17 == 0)
    d, s = delta_keys.alias("d"), index.alias("s")
    cand = (
        d.join(
            s,
            (F.col("d.key") == F.col("s.key"))
            & (F.col("d.doc_id") != F.col("s.doc_id"))
            # new-new pairs would match twice (once per side): keep the
            # d.doc_id < s.doc_id orientation; new-old pairs match once
            & ((F.col("s.doc_id") % 17 != 0) | (F.col("d.doc_id") < F.col("s.doc_id")))
            & _length_filter(F.col("d.sz"), F.col("s.sz")),
        )
        .select(F.col("d.doc_id").alias("id_d"), F.col("s.doc_id").alias("id_s"))
        .dropDuplicates(["id_d", "id_s"])
    )
    ta = sets.select(F.col("doc_id").alias("id_d"), F.col("toks").alias("toks_d"))
    tb = sets.select(F.col("doc_id").alias("id_s"), F.col("toks").alias("toks_s"))
    inter = F.size(F.array_intersect("toks_d", "toks_s"))
    union = F.size("toks_d") + F.size("toks_s") - inter
    return (
        cand.join(ta, "id_d")
        .join(tb, "id_s")
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(
            F.least("id_d", "id_s").alias("doc_a"),
            F.greatest("id_d", "id_s").alias("doc_b"),
            "jaccard",
            F.when(F.col("id_s") % 17 == 0, F.lit("new-new"))
            .otherwise(F.lit("new-old"))
            .alias("pair_type"),
        )
    )


@query(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH RECURSIVE unit AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(x AS DOUBLE) / {_DUCK_NORM}) AS u
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM unit a, unit b
        WHERE a.vec_id < b.vec_id
          AND list_aggregate(list_transform(list_zip(a.u, b.u),
                             p -> p[1] * p[2]), 'sum') >= {COSINE_DUP_THRESHOLD}
    ),
    e AS (SELECT va AS a, vb AS b FROM pairs
          UNION SELECT vb, va FROM pairs),
    verts AS (SELECT a AS v FROM e UNION SELECT b FROM e),
    cc(v, lbl) AS (
        SELECT v, v FROM verts
        UNION
        SELECT e.b AS v, cc.lbl FROM cc JOIN e ON cc.v = e.a WHERE cc.lbl < e.b
    )
    SELECT v AS vec_id, MIN(lbl) AS cluster_id,
           v = MIN(lbl) AS is_representative
    FROM cc GROUP BY v
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: connected components over
    the embedding-cosine near-dup graph (cos ≥ COSINE_DUP_THRESHOLD),
    cluster id = min vec_id in the component, plus the keep-flag —
    retain exactly one representative per semantic cluster, drop the
    rest.

    Pairs are the dedup_embedding_cosine_pairs session artifact (the
    exact all-pairs tier: at the corpus-calibrated 0.35 the qualifying
    pair set is itself ~1% of ALL pairs, so no blocking scheme beats
    the quadratic scan); components come from Large-Star/Small-Star,
    whose min-node-id labels are the min vec_id. The DuckDB recursive
    CTE verifies the full pipeline — pair threshold, component
    structure, representative choice — end to end."""
    from .graph import large_star_small_star

    pairs = dedup_embedding_cosine_pairs(spark, sf_dir)
    edges = pairs.select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b"))
    labels = large_star_small_star(spark, edges)
    return labels.select(
        F.col("v").alias("vec_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("v") == F.col("lbl")).alias("is_representative"),
    )


@query(
    "dedup_simhash_clusters",
    oracle=f"""
    WITH RECURSIVE {_SIMHASH_SIG_SQL.strip()},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_RADIUS}
    ),
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    verts AS (SELECT a AS v FROM e UNION SELECT b FROM e),
    cc(v, lbl) AS (
        SELECT v, v FROM verts
        UNION
        SELECT e.b AS v, cc.lbl FROM cc JOIN e ON cc.v = e.a WHERE cc.lbl < e.b
    )
    SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM cc GROUP BY v
    """,
)
def dedup_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup closed end-to-end: banded Hamming candidate pairs
    (dedup_simhash_hamming_pairs — candidates ∝ density, oracle-proved
    lossless) flow into the Large-Star/Small-Star connected-components
    engine, yielding one cluster id per near-duplicate document. The
    third pair source wired into the shared CC machinery (after exact
    Jaccard and embedding cosine), and the whole composition — banding,
    verification, clustering — is held to a single recursive-CTE
    ground truth over the naive O(n²) pair definition.

    At 100 TB each stage keeps its own contract: signatures are one
    token-explode aggregation, banding shuffles 4 rows/doc, candidates
    pay only bit_count verification, and the cluster engine is
    O(log n) rounds with data-sized shuffles."""
    from .graph import large_star_small_star

    pairs = dedup_simhash_hamming_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    labels = large_star_small_star(spark, edges)
    return labels.select(
        F.col("v").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


MINHASH_AUDIT_DOCS = 16  # probe set: all pairs among doc_id < 16


def _minhash_audit_oracle() -> str:
    coeff_rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_minhash_coefficients())
    )
    return f"""
    WITH coeffs(i, ca, cb) AS (VALUES {coeff_rows}),
    sets AS (
        SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks
        FROM documents WHERE doc_id < {MINHASH_AUDIT_DOCS}
    ),
    th AS (
        SELECT doc_id, CAST('0x' || substr(md5(t.tok), 1, 8) AS BIGINT) AS h
        FROM sets, unnest(toks) AS t(tok)
    ),
    minh AS (
        SELECT th.doc_id, c.i,
               MIN((c.ca * th.h + c.cb) % {MINHASH_PRIME}) AS m
        FROM th CROSS JOIN coeffs c
        GROUP BY th.doc_id, c.i
    ),
    est AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_match
        FROM minh a JOIN minh b ON a.i = b.i AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    ex AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_filter(a.toks, t -> list_contains(b.toks, t)))
                   AS n_inter,
               len(a.toks) + len(b.toks)
                   - len(list_filter(a.toks, t -> list_contains(b.toks, t)))
                   AS n_union
        FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    )
    SELECT e.doc_a, e.doc_b,
           CAST(e.n_match * 1000000 // {MINHASH_HASHES} AS BIGINT)
               AS est_jaccard_ppm,
           CAST(x.n_inter * 1000000 // x.n_union AS BIGINT)
               AS exact_jaccard_ppm,
           CAST(abs(e.n_match * 1000000 // {MINHASH_HASHES}
                    - x.n_inter * 1000000 // x.n_union) AS BIGINT)
               AS abs_err_ppm
    FROM est e JOIN ex x ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b
    """


@query("dedup_minhash_estimate_audit", oracle=_minhash_audit_oracle())
def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-estimator quality audit: for every pair in a fixed probe
    set, the MinHash similarity ESTIMATE (matching components / 128,
    exact ppm) side by side with the TRUE token-set Jaccard and the
    absolute error — the calibration table an operator reads before
    trusting banded-LSH thresholds on a new corpus (the estimator's
    error must sit inside the band design's margin; E[err] ≈
    √(j(1−j)/128) ≈ 4% worst-case). Every number is integer-derived
    (hash component equality counts, intersection sizes, floor-div
    ppm), so the audit itself is hash-gated cross-engine — including
    all 128·|probe| minhash components implicitly: one wrong component
    in either engine shifts a ppm.

    Scale: the audit runs on a bounded probe sample by construction
    (estimator error is a property of the SKETCH, not the corpus);
    signatures reuse the shuffle-free fold from dedup_minhash_lsh."""
    coeffs = _minhash_coefficients()
    sets = (
        _token_sets(spark, sf_dir)
        .filter(F.col("doc_id") < MINHASH_AUDIT_DOCS)
        .localCheckpoint()
    )
    # two array Literals, not 128 struct(lit, lit) nodes — same
    # planning-cost fix as dedup_minhash_lsh (the struct shape cost
    # ~0.5 s of per-call Catalyst/codegen on a data-independent plan)
    a_arr = F.lit([a for a, _ in coeffs])
    b_arr = F.lit([b for _, b in coeffs])
    th = F.transform(
        F.col("toks"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )
    sig = F.aggregate(
        F.col("th"),
        F.array_repeat(F.lit(MINHASH_PRIME).cast("long"), MINHASH_HASHES),
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(
                a_arr, b_arr, lambda a, b: (a * h + b) % MINHASH_PRIME
            ),
            lambda m, v: F.least(m, v),
        ),
    )
    sigs = sets.withColumn("th", th).select("doc_id", "toks", sig.alias("sig"))
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("sig").alias("sig_a"),
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("sig").alias("sig_b"),
    )
    n_match = F.aggregate(
        F.zip_with(
            "sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("long")
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("long")
    union = (
        F.size("toks_a").cast("long") + F.size("toks_b").cast("long") - inter
    )
    est_ppm = F.expr(f"CAST(n_match * 1000000 div {MINHASH_HASHES} AS BIGINT)")
    ex_ppm = F.expr("CAST(n_inter * 1000000 div n_union AS BIGINT)")
    return (
        F.broadcast(a)
        .join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            n_match.alias("n_match"),
            inter.alias("n_inter"),
            union.alias("n_union"),
        )
        .select(
            "doc_a",
            "doc_b",
            est_ppm.alias("est_jaccard_ppm"),
            ex_ppm.alias("exact_jaccard_ppm"),
            F.abs(est_ppm - ex_ppm).cast("long").alias("abs_err_ppm"),
        )
    )


@query(
    "dedup_cross_source_duplicates",
    oracle="""
    WITH fp AS (
        SELECT doc_id, source,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fingerprint
        FROM documents
    ),
    multi AS (
        SELECT fingerprint
        FROM fp GROUP BY fingerprint
        HAVING COUNT(DISTINCT source) > 1
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(DISTINCT a.fingerprint) AS BIGINT) AS n_shared_docs
    FROM fp a
    JOIN fp b ON a.fingerprint = b.fingerprint AND a.source < b.source
    JOIN multi m ON m.fingerprint = a.fingerprint
    GROUP BY a.source, b.source
    """,
)
def dedup_cross_source_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syndication detection: canonical documents (bag-of-words
    fingerprint) appearing under MORE THAN ONE source, aggregated to
    the source-pair level — the matrix that tells a curation pipeline
    which sources republish each other (keep one copy, credit one
    source, and deduct the rest from both sources' mixture weights).
    Within-source duplicates are deliberately excluded (that's
    ordinary dedup); only cross-boundary sharing survives the
    DISTINCT-source HAVING gate.

    Scale: one fingerprint shuffle, the multi-source gate is a
    fingerprint-keyed aggregate, and the pair join only touches
    fingerprints already known to span sources — candidates ∝
    syndicated content, never corpus²."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize the fingerprint ONCE: both consumers below (the
    # multi-source gate and the pair join) would otherwise re-run the
    # split + array_sort + md5 tokenize pass; the checkpoint pins a
    # 3-narrow-column relation, not text
    fp = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
        ).alias("fingerprint"),
    ).localCheckpoint()
    multi = (
        fp.groupBy("fingerprint")
        .agg(F.countDistinct("source").alias("ns"))
        .filter(F.col("ns") > 1)
        .select("fingerprint")
    )
    fpm = fp.join(F.broadcast(multi), "fingerprint")
    a = fpm.select("fingerprint", F.col("source").alias("source_a"))
    b = fpm.select("fingerprint", F.col("source").alias("source_b"))
    return (
        a.join(b, ["fingerprint"])
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.countDistinct("fingerprint").cast("long").alias("n_shared_docs"))
    )
