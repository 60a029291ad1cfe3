"""Iterative graph analytics on the star schema's implicit graphs.

Connected components (``large_star_small_star``, the one engine behind
every dedup clustering query) and PageRank share the same distributed
shape: per round, a shuffle keyed by node, an aggregate, and a
checkpoint (``session.iter_checkpoint``) to keep lineage O(1). This is
the DataFrame form of Pregel-style iteration — no RDDs, no driver-side
loops over collected data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import (
    dec_scaled_to_double,
    duck_dec_scaled_to_double,
    sum_scaled,
)
from ..io import load_table
from ..registry import query
from ..session import iter_checkpoint, loop_shuffle_partitions, session_artifact

PAGERANK_ITERS = 6
DAMPING = 0.85


class ConvergenceError(RuntimeError):
    """An iterative fixpoint exhausted its round bound without reaching
    a stable state. Raised instead of returning silently-unconverged
    labels (``large_star_small_star`` after 30 rounds, ~2× its
    O(log n) bound)."""


@query("graph_pagerank_bipartite")  # rows-only: iterative fixpoint, not SQL
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite customer↔supplier trade graph
    (an edge per distinct high-volume (customer, supplier) trading
    pair, both directions). Six synchronous rounds: contributions =
    rank/out-degree joined across edges, new rank = (1−d) + d·Σ.

    Determinism: per-node contribution sums use the order-independent
    scaled-integer machinery (functions/vector.py sum14 — O(1)
    aggregation state even for hub nodes, unlike a collected fold) so
    partial-merge order cannot perturb doubles; two runs produce
    identical bits (asserted).

    At 100 TB: the edge table is the only large operand — it is
    hash-partitioned by source once and every round reuses that
    exchange; node state is thousands× smaller and broadcastable.
    Checkpoint to reliable storage on a real cluster.

    The converged rank table (checkpointed, ~node-count rows) is a
    session artifact, consumed by this query and graph_pagerank_ppm."""
    return session_artifact(
        spark,
        "pagerank",
        sf_dir,
        ("lineitem", "orders"),
        lambda: _pagerank(spark, sf_dir),
    )


def _pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # NULL-endpoint quarantine, mirrored in the ppm oracle (r15
    # numeric-band null sweep): an edge with an unknown endpoint is
    # not an edge — unfiltered, concat('c', NULL) minted a NULL node
    # that the iteration's equi-joins treated asymmetrically (it
    # received contributions through groupBy(dst) but never emitted
    # any through join(src)), producing an engine-dependent rank.
    pairs = (
        li.filter(
            (F.col("l_quantity") >= 40)  # high-volume trades only
            & F.col("l_suppkey").isNotNull()
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("o_custkey").isNotNull())
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("cust"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("supp"),
        )
        .distinct()
    )
    edges = (
        pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst"))
        .unionByName(
            pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
        )
        .localCheckpoint()
    )
    # out-degree is a static per-source property: bake it into the edge
    # table once so each round joins edges against node state exactly
    # once (two joins/round → one, and the degree aggregation never
    # re-runs) — at scale this halves the per-iteration shuffle work
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    edges_w = edges.join(outdeg, "src").localCheckpoint()
    # order-independent scaled-integer contribution sum (functions/
    # vector.py): O(1) per-node aggregation state. The former sorted
    # fold (array_sort ∘ collect_list) collected a hub's full
    # in-neighborhood per node — state ∝ in-degree, which for hub nodes
    # grows with the graph. Scale 1e10, not the default 1e14: a term is
    # rank/deg, and hub ranks grow with graph size — 1e14 overflows
    # int64 past rank≈9e4 (DuckDB raises, Spark silently clamps: a
    # data-dependent divergence), while 1e10 admits ranks to 9.2e8 —
    # any realistic graph — and both engines truncate at the identical
    # unit, so cross-engine bit-equality is unaffected. Truncation is
    # still 4 orders below the ppm quantization the oracle checks.
    contrib_sum = dec_scaled_to_double(
        sum_scaled(F.col("contrib"), 1e10), 1e10
    )
    # size each round's shuffle to the materialized edge list — the
    # per-round fixed cost (tasks, AQE planning, checkpoint) dominates
    # small rounds, while the sorted-fold aggregation is CPU-heavy
    # enough that ~20k edges per task keeps cores busy at this scale
    with loop_shuffle_partitions(spark, edges_w.count(), rows_per_partition=20_000):
        ranks = iter_checkpoint(
            edges.select("src").distinct().withColumn("rank", F.lit(1.0))
        )
        for _ in range(PAGERANK_ITERS):
            contribs = edges_w.join(ranks, "src").select(
                "dst", (F.col("rank") / F.col("deg")).alias("contrib")
            )
            ranks = iter_checkpoint(
                contribs.groupBy(F.col("dst").alias("src"))
                .agg(((1 - DAMPING) + DAMPING * contrib_sum).alias("rank"))
            )
    return ranks.select(F.col("src").alias("node"), "rank")


_PR_S14 = (
    "list_aggregate(list_transform(al[i + 1],"
    " j -> CAST(trunc((v[j + 1] / dl[j + 1]) * 1e10) AS BIGINT)), 'sum')"
)

_PAGERANK_PPM_ORACLE = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
    SELECT DISTINCT 'c' || o_custkey AS cust, 's' || l_suppkey AS supp
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_quantity >= 40
      AND o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
),
edges AS MATERIALIZED (
    SELECT cust AS src, supp AS dst FROM pairs
    UNION ALL
    SELECT supp, cust FROM pairs
),
nodes AS MATERIALIZED (
    SELECT node, row_number() OVER (ORDER BY node) - 1 AS idx
    FROM (SELECT DISTINCT src AS node FROM edges)
),
degs AS MATERIALIZED (
    SELECT list(deg ORDER BY idx) AS dl FROM (
        SELECT n.idx AS idx, CAST(COUNT(*) AS BIGINT) AS deg
        FROM edges e JOIN nodes n ON e.src = n.node
        GROUP BY n.idx)
),
adj AS MATERIALIZED (
    SELECT list(nbrs ORDER BY idx) AS al FROM (
        SELECT nd.idx AS idx, list(ns.idx) AS nbrs
        FROM edges e JOIN nodes nd ON e.dst = nd.node
                     JOIN nodes ns ON e.src = ns.node
        GROUP BY nd.idx)
),
it AS (
    SELECT 0 AS k,
           (SELECT list_transform(range(0, COUNT(*)), x -> CAST(1 AS DOUBLE))
            FROM nodes) AS v
    UNION ALL
    SELECT k + 1,
           list_transform(range(0, len(v)),
             i -> (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                  + CAST(0.85 AS DOUBLE) * {duck_dec_scaled_to_double(_PR_S14, "1e10")})
    FROM it, adj, degs WHERE k < 6
)
SELECT n.node AS node,
       CAST(floor(v[n.idx + 1] * 1000000 + 0.5) AS BIGINT) AS rank_ppm
FROM it, nodes n WHERE k = 6
"""


@query("graph_pagerank_ppm", oracle=_PAGERANK_PPM_ORACLE)
def graph_pagerank_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-oracled surface of the PageRank fixpoint: the same six
    synchronous rounds, quantized to exact ppm integers. The DuckDB
    oracle reproduces the ENTIRE iteration — same damping arithmetic
    ((1−d) and d as IEEE doubles), same order-independent scaled-
    integer contribution sum with the sign/hi/lo double
    reconstruction, same rank/out-degree division — as a recursive CTE
    over an index-aligned adjacency-list state (the PCA-oracle
    technique, ``embedding_pca_loading_ppm``). Every node's rank after
    round 6 must agree cross-engine to the ppm; the unquantized
    doubles remain available as ``graph_pagerank_bipartite``.

    Alignment caveat the oracle relies on: the trade graph is
    symmetric (both directions of every pair), so every node has
    in-degree ≥ 1 and the dense index-keyed adjacency list covers all
    nodes — the same property that keeps the Spark groupBy from
    dropping rankless nodes between rounds."""
    ranks = graph_pagerank_bipartite(spark, sf_dir)
    return ranks.select(
        "node",
        F.floor(F.col("rank") * 1000000 + F.lit(0.5)).cast("long").alias(
            "rank_ppm"
        ),
    )


def _lss_round(cur: DataFrame, parts: int) -> DataFrame:
    """One Large-Star + Small-Star alternation over the current edge
    set — the loop body of :func:`large_star_small_star`, factored out
    so the r16 plan gate (tests/test_plans.py) asserts the exact shape
    the loop executes.

    ONE explicit exchange per star phase, and NO joins (r16, guide
    §2.4): each phase hash-repartitions by its key up front —
    HashPartitioning on ``a`` satisfies the clustering every downstream
    step needs (dropDuplicates on (a, b): same ``a`` ⇒ same partition;
    a window over partitionBy(a)) — and the per-neighborhood minimum
    comes from a WINDOW over that same partitioning instead of the r15
    groupBy + join-back. The join form consumed ``sym``/``ls`` twice
    each (Spark does not dedupe common subplans — the r15 self-join
    lesson — and exchange reuse only partially recovers it because
    per-consumer filter pushdown makes the duplicated exchanges
    non-identical), planning 7 exchanges and 3 SortMergeJoins per
    round; this form plans exactly 3 exchanges, 0 joins, no duplicated
    subtree. A/B at sf0.1 (interleaved, same JVM, min-of-3): Jaccard
    graph 190k edges 3.11 → 2.89 s, SimHash graph 3.4k edges 2.62 →
    1.91 s, labels identical on every graph tried
    (tests/test_large_star_restructure.py keeps the r15 formulation
    verbatim as the reference). Skew note: a hub vertex's rows buffer
    in ONE window group (ExternalAppendOnlyUnsafeRowArray, spills
    gracefully) — the same per-``a`` concentration the groupBy and the
    join's hub partition always had, not a new class.

    The larger→smaller orientation projection (greatest/least) of r15
    is also removed as a proven identity: every Large-Star output row
    has w = m = min(N(a) ∪ {a}) ≤ a and u = b with b > a (the
    Large-Star filter), so w < u always — greatest(u, w) = u and
    least(u, w) = w, and both columns are non-null (cur drops a = b,
    so NULLs never survive the b > a predicate)."""
    sym = (
        cur.unionByName(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .repartition(parts, "a")
        .dropDuplicates(["a", "b"])
    )
    # Large-Star: m = min(N(a) ∪ {a}) as a window over the phase
    # partitioning; emit (b, m) for the strictly-larger neighbors
    from pyspark.sql import Window as _W

    m = F.least(F.min("b").over(_W.partitionBy("a")), F.col("a"))
    ls = (
        sym.withColumn("m", m)
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("u"), F.col("m").alias("w"))
        .filter(F.col("u") != F.col("w"))
        .repartition(parts, "u")
        .dropDuplicates(["u", "w"])
    )
    # Small-Star: mn = min over the (already larger→smaller oriented)
    # in-edges of u; emit (w, mn) for w ≠ mn plus one (u, mn) per u
    ls2 = ls.withColumn("mn", F.min("w").over(_W.partitionBy("u")))
    return (
        ls2.select(F.col("w").alias("a"), F.col("mn").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .unionByName(
            ls2.select(F.col("u").alias("a"), F.col("mn").alias("b")).distinct()
        )
        .dropDuplicates(["a", "b"])
    )


def large_star_small_star(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Connected components via alternating Large-Star / Small-Star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log n) rounds, independent of component diameter. It is the only
    connected-components engine: dedup_cluster_components,
    dedup_semantic_clusters, dedup_simhash_clusters and
    graph_components_large_star all label through it.

    ``edges``: undirected (a, b) pairs over a totally ordered node
    type. Per round, over the symmetrized current edge set:

    - Large-Star: every node connects its strictly-larger neighbors to
      the minimum of its closed neighborhood — emit (v, m) for v ∈ N(u),
      v > u, m = min(N(u) ∪ {u}).
    - Small-Star: orient edges larger→smaller, then every node connects
      its smaller-or-equal neighbors (and itself) to the minimum — with
      v < u always here, emit (v, mn) for v ≠ mn plus (u, mn).

    The fixpoint is a set of stars (child → component minimum).
    Convergence is detected by an (edge-count, xxhash64-xor) signature
    of consecutive Small-Star outputs. Per-round driver overhead is
    one action: the round ends in a *lazy* checkpoint whose first
    materialization IS the signature aggregate (measured: merging the
    eager-checkpoint job into the signature action plus checkpointing
    the input edge set exactly once cut the sf0.1 query from ~4.3 s to
    ~3.1 s — the upstream pair generation used to run twice, once for
    verts and once for the round-0 edges). Lineage stays O(1) per
    round. Returns (v, lbl) for every vertex of the input edge set."""
    edges0 = edges.localCheckpoint()  # sole upstream materialization
    cur = edges0.filter(F.col("a") != F.col("b"))
    prev_sig = None
    n_edges = cur.count()
    converged = n_edges == 0  # empty graph: trivially stable
    with loop_shuffle_partitions(
        spark, n_edges, rows_per_partition=100_000
    ) as parts:
        for _ in range(30):  # O(log n) expected; backstop bound
            if converged:
                break
            # lazy checkpoint: the signature aggregate below is the
            # action that materializes it — one job per round, not two
            ss = iter_checkpoint(_lss_round(cur, parts), eager=False)
            sig_row = ss.agg(
                F.count("*").alias("n"),
                # order-insensitive, overflow-free set signature
                F.expr("bit_xor(xxhash64(a, b))").alias("h"),
            ).collect()[0]
            sig = (sig_row["n"], sig_row["h"])
            cur = ss
            if sig == prev_sig:
                converged = True
            prev_sig = sig
    if not converged:
        # 30 alternating rounds is ~2× the expected O(log n) bound for
        # any graph that fits a cluster; exhausting it means either an
        # algorithmic regression or a (astronomically unlikely)
        # signature collision masking progress — never return labels
        # that may still be mid-collapse.
        raise ConvergenceError(
            "large_star_small_star: no stable Small-Star fixpoint within "
            "30 rounds — refusing to return possibly-unconverged labels"
        )
    # Final labels tail. This frame is returned LAZY — it materializes
    # under the caller's action, outside the loop_shuffle_partitions
    # scope, so without explicit sizing its exchanges ran at the full
    # session partition count (measured r16: 128 tasks / ~48 executor-
    # seconds over a KB-sized label table). The explicit repartitions
    # bake the loop's volume-derived `parts` into the plan itself —
    # clustering by v that the distinct, the left join, and the final
    # groupBy all reuse (same one-exchange-per-phase shape as the
    # round body), immune to whenever/wherever the caller materializes.
    verts = (
        edges0.select(F.col("a").alias("v"))
        .unionByName(edges0.select(F.col("b").alias("v")))
        .repartition(parts, "v")
        .distinct()
    )
    return (
        verts.join(
            cur.select(F.col("a").alias("v"), F.col("b").alias("lbl"))
            .repartition(parts, "v"),
            "v",
            "left",
        )
        .groupBy("v")
        .agg(F.coalesce(F.min("lbl"), F.first("v")).alias("lbl"))
    )


@query(
    "graph_components_large_star",
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
    )
    SELECT v AS doc_id, MIN(lbl) AS cluster_id FROM cc GROUP BY v
    """,
)
def graph_components_large_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Large-Star/Small-Star engine run over the full doc-level
    near-dup pair graph (not the collapsed one — deliberately, so the
    O(log n) algorithm is exercised on the densest graph available) and
    held to the same recursive-CTE ground truth as
    dedup_cluster_components, which runs the same engine over the
    exact-clique-collapsed graph."""
    from .dedup import dedup_jaccard_pairs

    pairs = dedup_jaccard_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    labels = large_star_small_star(spark, edges)
    return labels.select(
        F.col("v").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


@query(
    "graph_triangle_top20",
    oracle="""
    WITH q1_orders AS (
        SELECT o_orderkey FROM orders
        WHERE o_orderdate >= DATE '1995-01-01'
          AND o_orderdate <  DATE '1995-04-01'
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        JOIN q1_orders o ON o.o_orderkey = a.l_orderkey
    ),
    tri AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    per_node AS (
        SELECT node AS l_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) GROUP BY node
    )
    SELECT l_partkey, n_triangles FROM per_node
    ORDER BY n_triangles DESC, l_partkey ASC
    LIMIT 20
    """,
)
def graph_triangle_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the market-basket co-purchase graph
    (parts are adjacent when they appear in the same 1995-Q1 order),
    reporting the 20 most clustered parts. Community structure /
    graph-cohesion primitive; the quarter scope is the realistic
    formulation (basket affinity drifts, so production runs are
    date-windowed) and it also keeps the synthetic random graph —
    whose triangle count grows ~cubically in edge density — from
    dominating the suite.

    The Spark plan uses **degree-ordered orientation** (Cohen'09 /
    Suri-Vassilvitskii'11): each undirected edge is directed from its
    lower-(degree, id) endpoint to the higher one, wedges are built
    only from a node's out-edges, and a wedge closes against the
    canonical edge set. Every triangle is emitted exactly once — from
    its minimum-rank corner — and per-node out-degree is O(√m), so the
    wedge (shuffle) volume is O(m^1.5) worst-case instead of
    Σ deg² ≈ m·max_deg: the difference between feasible and not on a
    100 TB power-law graph, where the naive wedge join explodes on the
    hub nodes. The DuckDB oracle uses id-sorted orientation — a
    different once-per-triangle derivation — so the count itself is
    cross-checked, not the plan.

    Oriented wedge counting is also skew-resilient: hot hub nodes have
    their wedges built from the *low-degree* side, and AQE skew-join
    splitting handles residual imbalance on the closing join."""
    q1 = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-04-01"))
        )
        .select("o_orderkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(q1, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .distinct()
    )
    # the edge set feeds three consumers (degree table, orientation,
    # closing join) — materialize it once instead of re-running the
    # basket self-join per consumer
    edges = iter_checkpoint(
        li.alias("a")
        .join(li.alias("b"), on="l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        edges.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("deg", "deg_u")
        .join(
            deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "deg_v"),
            "v",
        )
    )
    lower_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    # both sides of the wedge self-join read the oriented edge list —
    # materialize it once, or each side re-runs the edges⋈deg⋈deg
    # chain (r15; guide §2.4 — the plan drops from 6 SortMergeJoins to
    # 4, A/B in OPTIMIZATION_r15.md)
    oriented = iter_checkpoint(
        ranked.select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), on="src")
        .filter(F.col("e1.dst") < F.col("e2.dst"))
        .select(
            F.col("src").alias("apex"),
            F.col("e1.dst").alias("d1"),
            F.col("e2.dst").alias("d2"),
        )
    )
    closed = wedges.join(
        edges,
        (F.col("u") == F.least("d1", "d2")) & (F.col("v") == F.greatest("d1", "d2")),
    ).select("apex", "d1", "d2")
    per_node = (
        closed.select(F.explode(F.array("apex", "d1", "d2")).alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        per_node.orderBy(F.col("n_triangles").desc(), F.col("l_partkey").asc())
        .limit(20)
    )
