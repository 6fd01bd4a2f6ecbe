"""Graph analytics over the near-dup pair graph: PageRank, personalized
PageRank, HITS, label propagation (and the modularity of its
communities), BFS distances, landmark closeness, k-core, triangles,
degree distribution, degree assortativity and neighborhood-Jaccard
link suggestions.

Every operator reads the same graph as ``dedup_clusters``' connected
components: nodes are the documents that appear in any MinHash-LSH
near-dup pair, edges are the pairs, undirected. ``ops.dedup`` defines
it once: ``sym_edges`` (both directions of every pair),
``smallest_nodes`` (deterministic seeds) and ``endpoint_degree``, with
the SQL twins ``_SYM_EDGES_CTE`` and ``_smallest_nodes_sql`` for the
oracles. HITS alone iterates the id-oriented (doc_a < doc_b) digraph.

Cross-engine exactness for the iterative algorithms (same Pregel-style
shape as connected components: bounded driver loop, one shuffle per
round, no driver-side data):
- float neighbor sums ride DECIMAL(38,30) (order-independent exact
  addition) and are cast back to double once per round — the same
  trick the aggregate family uses, applied per iteration; PPR, BFS and
  closeness stay in integer math;
- the oracles unroll the identical rounds as chained CTEs (standard
  SQL forbids aggregation inside a recursive CTE member), so both
  engines run literally the same updates.

Scale: each round is one shuffle keyed by node id (edges × state
equi-join + groupBy). Round counts are fixed and small; at 100 TB the
edge table is the persisted LSH output and each round is a co-located
join when both sides are bucketed by node.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pro_etl_spark.ops.dedup import (
    _LSH_PAIRS_CTE,
    _SYM_EDGES_CTE,
    _smallest_nodes_sql,
    dedup_minhash_lsh,
    endpoint_degree,
    smallest_nodes,
    sym_edges,
)
from pro_etl_spark.registry import register

DAMPING = 0.85
ROUNDS = 5
_DEC30 = "decimal(38,30)"


def _oracle_sql() -> str:
    """Unroll ROUNDS PageRank updates as chained CTEs on top of the
    LSH pair CTE (shared with the dedup family)."""
    sql = _LSH_PAIRS_CTE + _SYM_EDGES_CTE + f""", deg AS (
      SELECT src, COUNT(*) AS d FROM edges GROUP BY src
    ), nodes AS (
      SELECT DISTINCT src AS node FROM edges
    ), nn AS (
      SELECT COUNT(*) AS n FROM nodes
    ), r0 AS (
      SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes
    )"""
    prev = "r0"
    for i in range(1, ROUNDS + 1):
        sql += f""", r{i} AS MATERIALIZED (
      SELECT n.node,
             (1 - {DAMPING}) / (SELECT n FROM nn)
             + {DAMPING} * CAST(SUM(CAST(p.r / deg.d AS DECIMAL(38,30)))
                                AS DOUBLE) AS r
      FROM nodes n
      JOIN edges e ON e.dst = n.node
      JOIN {prev} p ON p.node = e.src
      JOIN deg ON deg.src = e.src
      GROUP BY n.node
    )"""
        prev = f"r{i}"
    sql += f"""
    SELECT node AS doc_id, ROUND(r, 6) AS pagerank FROM {prev}
    """
    return sql


@register("graph_pagerank", oracle=_oracle_sql())
def graph_pagerank(spark: SparkSession, d: str) -> DataFrame:
    """PageRank (damping 0.85, 5 rounds) over the undirected LSH
    near-dup graph. Every node of an undirected graph has out-degree
    ≥ 1, so there is no dangling-mass term; each round is
    contributions (rank/degree) shuffled to the neighbor and summed
    through DECIMAL for order independence."""
    edges = sym_edges(dedup_minhash_lsh(spark, d))
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    # the weighted edge list and node set are re-read every round (5
    # joins each): truncate their lineage once so each round shuffles
    # the materialized tables instead of re-deriving union+degree from
    # the pair table — same recipe as graph_kcore's per-round barrier
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nn = nodes.agg(F.count("*").alias("n"))
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    ew = edges.join(deg, "src").localCheckpoint(eager=False)
    for _ in range(ROUNDS):
        contrib = ew.join(r, ew.src == r.node).select(
            F.col("dst"), (F.col("r") / F.col("d")).alias("c")
        )
        sums = contrib.groupBy("dst").agg(
            F.sum(F.col("c").cast(_DEC30)).cast("double").alias("s")
        )
        # the edge list is symmetric, so every node has an incoming
        # edge and `sums` already covers the exact node set: joining it
        # back to `nodes` would cost two exchanges per round for an
        # identity. The oracle's `nodes n JOIN edges e ON e.dst =
        # n.node` reduces to the same set.
        r = sums.crossJoin(F.broadcast(nn)).select(
            F.col("dst").alias("node"),
            ((1 - DAMPING) / F.col("n") + DAMPING * F.col("s")).alias("r"),
        )
    return r.select(F.col("node").alias("doc_id"), F.round("r", 6).alias("pagerank"))


_TRI_ORACLE = _LSH_PAIRS_CTE + """
    , e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ), corners AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ), tcount AS (
      SELECT doc_id, COUNT(*) AS n_triangles FROM corners GROUP BY doc_id
    ), deg AS (
      SELECT doc_id, COUNT(*) AS degree FROM (
        SELECT a AS doc_id FROM e UNION ALL SELECT b FROM e
      ) GROUP BY doc_id
    )
    SELECT deg.doc_id, CAST(deg.degree AS BIGINT) AS degree,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.degree >= 2
                THEN CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
                     / CAST(deg.degree * (deg.degree - 1) AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS clustering_coeff
    FROM deg LEFT JOIN tcount t ON t.doc_id = deg.doc_id
    """


@register("graph_triangles", oracle=_TRI_ORACLE)
def graph_triangles(spark: SparkSession, d: str) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over
    the LSH near-dup graph — the third graph-analytics member next to
    connected components (``dedup_clusters``) and ``graph_pagerank``.
    Triangle density separates tight duplicate cliques (template spam,
    boilerplate families — every pair similar) from chain-shaped
    false-positive strings that LSH banding can produce, so it is a
    practical cluster-quality audit before mass-deleting "duplicates".

    Edges arrive canonically ordered (doc_a < doc_b from the pair
    miner), so each triangle a<b<c is found exactly once by the
    standard two-path-plus-closing-edge join: e1(a,b) ⋈ e2(b,c) on the
    shared middle node, then a semi-check that (a,c) is an edge. Cost
    is Σ deg² candidate two-paths — the sparse-graph triangle bound —
    NOT all-pairs; both joins key on node ids, so at 100 TB the edge
    table bucketed by node makes them co-located. The coefficient
    2T/(deg·(deg-1)) is one exact int→double divide per node."""
    lsh = dedup_minhash_lsh(spark, d)
    pairs = lsh.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e1 = pairs.select(F.col("a"), F.col("b"))
    e2 = pairs.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = pairs.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
            "left_semi",
        )
        .select("a", "b", "c")
    )
    corners = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
    )
    tcount = corners.groupBy("doc_id").agg(F.count("*").alias("n_triangles"))
    deg = endpoint_degree(lsh, "doc_id")
    t = F.coalesce(F.col("n_triangles"), F.lit(0))
    return deg.join(tcount, "doc_id", "left").select(
        "doc_id",
        F.col("degree").cast("long").alias("degree"),
        t.cast("long").alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            (2 * t).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )


_JACCARD_SUGGEST_ORACLE = _LSH_PAIRS_CTE + _SYM_EDGES_CTE + """, deg AS (
      SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY src
    ), common AS (
      SELECT e1.src AS a, e2.dst AS b, COUNT(*) AS n_common
      FROM edges e1 JOIN edges e2 ON e1.dst = e2.src AND e1.src < e2.dst
      GROUP BY 1, 2
    ), nonedge AS (
      SELECT c.a, c.b, c.n_common
      FROM common c
      LEFT JOIN (SELECT doc_a AS a, doc_b AS b FROM pairs) p
        ON p.a = c.a AND p.b = c.b
      WHERE p.a IS NULL
    )
    SELECT n.a AS doc_a, n.b AS doc_b,
           CAST(n.n_common AS BIGINT) AS n_common,
           CAST(n.n_common AS DOUBLE)
             / (da.degree + db.degree - n.n_common) AS jaccard
    FROM nonedge n
    JOIN deg da ON da.node = n.a
    JOIN deg db ON db.node = n.b
    """


@register("graph_jaccard_suggest", oracle=_JACCARD_SUGGEST_ORACLE)
def graph_jaccard_suggest(spark: SparkSession, d: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction over the near-dup graph:
    for every NON-adjacent pair sharing at least one neighbor, score
    |N(a)∩N(b)| / |N(a)∪N(b)| — the "these two documents are probably
    duplicates the LSH bands happened to miss" suggestion list that
    closes banding's recall gap before clustering (a pair with high
    neighborhood overlap but no direct edge is exactly a band-boundary
    miss). Jaccard here is a pure rational of integer counts — exact
    cross-engine.

    Machinery mirrors ``graph_triangles``: candidate pairs come from
    two-paths through a shared middle node (Σ deg² bound, never
    all-pairs), degrees join back from a node-count table, and the
    known-edge exclusion is one anti-join on the canonical pair list.
    All joins key on node ids — co-located under node bucketing at
    100 TB."""
    pairs = dedup_minhash_lsh(spark, d)
    e = sym_edges(pairs)
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("degree"))
    e2 = e.select(F.col("src").alias("mid"), F.col("dst").alias("b"))
    common = (
        e.join(e2, (F.col("dst") == F.col("mid")) & (F.col("src") < F.col("b")))
        .groupBy(F.col("src").alias("a"), "b")
        .agg(F.count("*").alias("n_common"))
    )
    nonedge = common.join(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("deg_b"))
    return (
        nonedge.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.col("n_common").cast("long").alias("n_common"),
            (
                F.col("n_common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


#: k-core parameters: coreness threshold and fixed peel rounds (the
#: bounded-unroll discipline of kmeans_train / pagerank: a full peel
#: runs the same round until fixpoint)
KCORE_K = 2
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    parts = [_LSH_PAIRS_CTE, ", e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs)"]
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(f"""
    , keep{r} AS MATERIALIZED (
      SELECT node FROM (
        SELECT node, COUNT(*) AS deg FROM (
          SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev}
        ) GROUP BY node
      ) WHERE deg >= {KCORE_K}
    ),
    e{r} AS MATERIALIZED (
      SELECT a, b FROM {prev}
      WHERE a IN (SELECT node FROM keep{r})
        AND b IN (SELECT node FROM keep{r})
    )""")
        prev = f"e{r}"
    parts.append(f"""
    SELECT node AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
      SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev}
    ) GROUP BY node
    """)
    return "".join(parts)


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, d: str) -> DataFrame:
    """K-core peeling over the near-dup graph: repeatedly drop nodes
    with degree < {KCORE_K} and their incident edges — the classic
    density filter that isolates genuinely duplicate-dense communities
    from the sparse fringe LSH banding produces (a node surviving the
    2-core has at least two independent duplicate relations — much
    stronger evidence than one lucky band collision). Fixed
    {KCORE_ROUNDS}-round unroll, value-exact vs the unrolled-CTE
    oracle (the kmeans_train pattern for iterative algorithms).

    Scale: each round is one degree aggregate (two-column edge list)
    plus two semi-joins keyed on node ids — Σ|E| work per round, no
    driver materialization; the surviving-core edge list shrinks
    monotonically."""
    edges = dedup_minhash_lsh(spark, d).select("doc_a", "doc_b")
    for _ in range(KCORE_ROUNDS):
        deg = endpoint_degree(edges, degree="deg")
        keep = deg.where(F.col("deg") >= KCORE_K).select("node")
        edges = edges.join(
            keep.withColumnRenamed("node", "doc_a"), "doc_a", "left_semi"
        ).join(keep.withColumnRenamed("node", "doc_b"), "doc_b", "left_semi")
        # truncate lineage per round (the dedup_clusters discipline):
        # each round's deg re-derives the previous round's edge list,
        # so without the checkpoint the join DAG re-expands ~3× per
        # round — measured minutes instead of seconds by round 3
        edges = edges.localCheckpoint(eager=True)
    return endpoint_degree(edges, "doc_id", "core_degree")


LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    """Unroll LPA_ROUNDS synchronous label-propagation updates as
    chained CTEs on the LSH pair graph — count neighbor labels, take
    the (cnt DESC, label ASC) winner per node — mirroring the Spark
    loop's deterministic tiebreak exactly."""
    sql = _LSH_PAIRS_CTE + _SYM_EDGES_CTE + """, l0 AS (
      SELECT DISTINCT src AS node, src AS label FROM edges
    )"""
    for i in range(1, LPA_ROUNDS + 1):
        sql += f""", c{i} AS MATERIALIZED (
      SELECT e.dst AS node, p.label, COUNT(*) AS cnt
      FROM edges e JOIN l{i - 1} p ON p.node = e.src
      GROUP BY e.dst, p.label
    ), l{i} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rn
        FROM c{i}
      ) WHERE rn = 1
    )"""
    return sql + f"""
    SELECT node AS doc_id, CAST(label AS BIGINT) AS community
    FROM l{LPA_ROUNDS}
    """


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, d: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    near-dup graph — the third lens on duplicate-cluster structure
    next to ``dedup_clusters``' connected components (LPA splits a
    weakly-bridged component into densely-linked communities; CC
    cannot) and ``graph_pagerank``'s member ranking. Every node starts
    as its own label; each round it adopts the most frequent label
    among its neighbors, ties broken by smallest label — the
    deterministic variant of Raghavan et al.'s LPA (random tiebreaks
    don't oracle), run a fixed LPA_ROUNDS synchronous rounds on both
    engines rather than to an unstable fixpoint.

    Scale: per round one keyed shuffle — labels equi-join edges (at
    100 TB a co-located join when both are bucketed by node) then a
    (node, label) count and a per-node MIN(STRUCT) argmax — both hash
    aggregates with map-side partials, no per-node sort. Lineage is
    truncated per round (the ``dedup_clusters`` discipline)."""
    edges = sym_edges(dedup_minhash_lsh(spark, d)).localCheckpoint(eager=False)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LPA_ROUNDS):
        cand = edges.join(
            labels, edges["src"] == labels["node"], "inner"
        ).select(F.col("dst").alias("node"), "label")
        counts = cand.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        # most-frequent-neighbor-label pick: MIN(STRUCT(-cnt, label))
        # is the deterministic (cnt DESC, label ASC) tie-break computed
        # as a hash aggregate with map-side partials on the same
        # node-keyed exchange, where a row_number() window would sort
        # every (node, label) cell per round. The oracle keeps the
        # ROW_NUMBER form; the winner per node is the same.
        labels = (
            counts.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("label").alias("label")
                    )
                ).alias("m")
            )
            .select("node", F.col("m.label").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").cast("long").alias("community")
    )


BFS_ROUNDS = 3
BFS_SEEDS = 5


def _bfs_oracle() -> str:
    """Unroll BFS_ROUNDS frontier relaxations as chained CTEs: each
    round keeps the per-node MIN of (previous distance, any neighbor's
    distance + 1) — pure integer math, deterministic seeds (the
    BFS_SEEDS smallest node ids)."""
    sql = _LSH_PAIRS_CTE + _SYM_EDGES_CTE + f""", d0 AS MATERIALIZED (
      SELECT node, 0 AS dist FROM (
        {_smallest_nodes_sql(BFS_SEEDS)}
      )
    )"""
    for i in range(1, BFS_ROUNDS + 1):
        sql += f""", d{i} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, p.dist + 1 AS dist
        FROM edges e JOIN d{i - 1} p ON p.node = e.src
      ) GROUP BY node
    )"""
    return sql + f"""
    SELECT node AS doc_id, CAST(dist AS INT) AS hops
    FROM d{BFS_ROUNDS}
    """


@register("graph_bfs_distances", oracle=_bfs_oracle())
def graph_bfs_distances(spark: SparkSession, d: str) -> DataFrame:
    """Multi-source BFS hop distances over the near-dup graph — the
    Pregel primitive under "how far is every doc from a seed set"
    questions (contamination blast radius from known-bad documents,
    influence frontiers from canonical sources). Seeds are the
    BFS_SEEDS smallest node ids (deterministic); each round relaxes
    the frontier one hop: dist(node) = min(own dist, neighbor dist +
    1), all-integer so rounds are bit-exact cross-engine; nodes
    unreached within BFS_ROUNDS hops are absent (frontier semantics,
    not NULL padding).

    Scale: per round one keyed shuffle (frontier ⋈ edges + per-node
    MIN) exactly like ``graph_pagerank``'s update; the frontier table
    only ever holds reached nodes. Lineage truncated per round."""
    edges = sym_edges(dedup_minhash_lsh(spark, d)).localCheckpoint(eager=False)
    dist = smallest_nodes(edges, BFS_SEEDS).select("node", F.lit(0).alias("dist"))
    for _ in range(BFS_ROUNDS):
        relaxed = edges.join(
            dist, edges["src"] == dist["node"], "inner"
        ).select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist.select(
        F.col("node").alias("doc_id"), F.col("dist").cast("int").alias("hops")
    )


def _degree_oracle() -> str:
    sql = _LSH_PAIRS_CTE + _SYM_EDGES_CTE + """, deg AS (
      SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY src
    )
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """
    return sql


@register("graph_degree_distribution", oracle=_degree_oracle())
def graph_degree_distribution(spark: SparkSession, d: str) -> DataFrame:
    """Degree histogram of the near-dup graph — the first health check
    on any similarity graph before running clustering on it (a fat
    tail here predicts LSH bucket skew, a spike at high degree exposes
    boilerplate/template families that should be df-capped upstream).
    Each undirected LSH pair contributes one degree to both endpoints;
    two keyed aggregations collapse edges → per-node degree →
    |distinct degrees| histogram rows.

    Scale: edge table shuffles once on node, the histogram aggregate
    is map-side combinable on a tiny key space; no joins, no windows."""
    deg = endpoint_degree(dedup_minhash_lsh(spark, d))
    return deg.groupBy(F.col("degree").cast("long").alias("degree")).agg(
        F.count("*").cast("long").alias("n_nodes")
    )


PPR_ROUNDS = 3
PPR_ALPHA_PCT = 15  # teleport probability, percent (integer math)


def _ppr_oracle() -> str:
    """Personalized PageRank unrolled: mass in integer micros; each
    round spreads 85% of a node's mass equally over its neighbors
    ((85·m) div (100·deg) per edge) and teleports 15% of the TOTAL
    round mass back to the seed set — all integral division, so
    rounds are bit-exact cross-engine."""
    sql = _LSH_PAIRS_CTE + _SYM_EDGES_CTE + f""", deg AS (
      SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src
    ), seeds AS (
      SELECT node FROM (
        {_smallest_nodes_sql(BFS_SEEDS)}
      )
    ), m0 AS MATERIALIZED (
      SELECT node, CAST(1000000 // {BFS_SEEDS} AS BIGINT) AS m FROM seeds
    )"""
    for i in range(1, PPR_ROUNDS + 1):
        sql += f""", spread{i} AS MATERIALIZED (
      SELECT e.dst AS node,
             SUM((85 * p.m) // (100 * d.deg)) AS m
      FROM edges e
      JOIN m{i - 1} p ON p.node = e.src
      JOIN deg d ON d.node = e.src
      GROUP BY e.dst
    ), m{i} AS MATERIALIZED (
      SELECT COALESCE(s.node, sd.node) AS node,
             COALESCE(s.m, 0)
             + CASE WHEN sd.node IS NOT NULL
                    THEN (15 * (SELECT SUM(m) FROM m{i - 1})) // (100 * {BFS_SEEDS})
                    ELSE 0 END AS m
      FROM spread{i} s FULL JOIN seeds sd ON s.node = sd.node
    )"""
    return sql + f"""
    SELECT node AS doc_id, CAST(m AS BIGINT) AS ppr_micros,
           ROUND(CAST(m AS DOUBLE) / 1000000.0, 6) AS ppr
    FROM m{PPR_ROUNDS} WHERE m > 0
    """


@register("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark: SparkSession, d: str) -> DataFrame:
    """PERSONALIZED PageRank from a seed set over the near-dup graph —
    the similarity-expansion primitive ("what else is in these
    documents' neighborhood, weighted by random-walk proximity")
    behind related-content retrieval and contamination triage, where
    global ``graph_pagerank`` answers a different question (overall
    centrality). Mass lives in integer micros: each round spreads 85%
    of a node's mass over its neighbors via integral division and
    teleports 15% of the total back to the seeds — no float summation
    order anywhere, so rounds are bit-exact cross-engine (flooring
    leaks mass monotonically; an audit-grade trade, same posture as
    ``events_markov_stationary``).

    Scale: per round one keyed shuffle (mass ⋈ edges + per-node SUM)
    plus an O(1)-row total — the touched node set stays proportional
    to the seed neighborhood, not the corpus. Lineage truncated per
    round."""
    edges = sym_edges(dedup_minhash_lsh(spark, d)).localCheckpoint(eager=False)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    )
    seeds = smallest_nodes(edges, BFS_SEEDS).localCheckpoint(eager=True)
    m = seeds.select(
        "node", F.lit(1000000 // BFS_SEEDS).cast("long").alias("m")
    )
    for _ in range(PPR_ROUNDS):
        total = m.agg(F.sum("m").alias("tm"))
        spread = (
            edges.join(m.withColumnRenamed("node", "src"), "src")
            .join(deg.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(85 * m) DIV (100 * deg)").alias("m"),
            )
            .groupBy("node")
            .agg(F.sum("m").alias("m"))
        )
        teleport = (
            seeds.crossJoin(F.broadcast(total))
            .select(
                "node",
                F.expr(f"(15 * tm) DIV (100 * {BFS_SEEDS})").alias("mt"),
            )
        )
        m = (
            spread.join(teleport, "node", "full")
            .select(
                "node",
                (
                    F.coalesce(F.col("m"), F.lit(0))
                    + F.coalesce(F.col("mt"), F.lit(0))
                )
                .cast("long")
                .alias("m"),
            )
            .localCheckpoint(eager=False)
        )
    return m.where(F.col("m") > 0).select(
        F.col("node").alias("doc_id"),
        F.col("m").alias("ppr_micros"),
        F.round(F.col("m").cast("double") / 1000000.0, 6).alias("ppr"),
    )


def _modularity_oracle() -> str:
    from pro_etl_spark.registry import ORACLES

    # mp materializes the pair list once: DuckDB inlines a plain CTE at
    # each of its four references below, re-deriving the whole LSH chain
    return _LSH_PAIRS_CTE + f"""
    , mp AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs),
    lpa AS MATERIALIZED ({ORACLES["graph_label_propagation"]}),
    m AS (SELECT COUNT(*) AS m FROM mp),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT doc_a AS node FROM mp
        UNION ALL SELECT doc_b FROM mp
      ) GROUP BY node
    ), comm AS (
      SELECT l.community,
             COUNT(*) AS n_nodes,
             SUM(d.deg) AS degree_sum
      FROM lpa l JOIN deg d ON d.node = l.doc_id
      GROUP BY l.community
    ), intra AS (
      SELECT la.community, COUNT(*) AS intra_edges
      FROM mp p
      JOIN lpa la ON la.doc_id = p.doc_a
      JOIN lpa lb ON lb.doc_id = p.doc_b
      WHERE la.community = lb.community
      GROUP BY la.community
    )
    SELECT c.community,
           CAST(c.n_nodes AS BIGINT) AS n_nodes,
           CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
           CAST(c.degree_sum AS BIGINT) AS degree_sum,
           CAST(4 * m.m * COALESCE(i.intra_edges, 0)
                - c.degree_sum * c.degree_sum AS BIGINT) AS q_num,
           ROUND(CAST(4 * m.m * COALESCE(i.intra_edges, 0)
                      - c.degree_sum * c.degree_sum AS DOUBLE)
                 / (4.0 * m.m * m.m), 6) + 0.0 AS q_contrib
    FROM comm c LEFT JOIN intra i ON i.community = c.community, m
    """


@register("graph_modularity", oracle=_modularity_oracle())
def graph_modularity(spark: SparkSession, d: str) -> DataFrame:
    """Modularity of the LPA communities — the quality score that says
    whether a community partition is REAL structure or noise
    (Q = Σ_c e_c/m − (d_c/2m)²; random partitions score ≈0, strong
    structure >0.3): per community the intra-edge count, degree sum,
    and its Q contribution, with the numerator kept as an exact
    INTEGER (4·m·e_c − d_c²) so the only float is the final display
    division — no summation-order anywhere. Closes the loop on the
    graph stack: build (LSH pairs) → cluster (LPA/CC) → SCORE the
    clustering.

    Scale: intra-edge counting is the pair table joined to the
    (broadcastable) node→community map twice; everything else
    aggregates community-grain rows."""
    pairs = dedup_minhash_lsh(spark, d)
    lpa = graph_label_propagation(spark, d).select("doc_id", "community")
    m_df = pairs.agg(F.count("*").alias("m"))
    deg = endpoint_degree(pairs, degree="deg")
    comm = (
        lpa.join(deg, lpa["doc_id"] == deg["node"])
        .groupBy("community")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("degree_sum"),
        )
    )
    la = lpa.select(F.col("doc_id").alias("doc_a"), F.col("community").alias("ca"))
    lb = lpa.select(F.col("doc_id").alias("doc_b"), F.col("community").alias("cb"))
    intra = (
        pairs.join(F.broadcast(la), "doc_a")
        .join(F.broadcast(lb), "doc_b")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").cast("long").alias("intra_edges"))
    )
    q_num = (
        4 * F.col("m") * F.coalesce(F.col("intra_edges"), F.lit(0))
        - F.col("degree_sum") * F.col("degree_sum")
    ).cast("long")
    return (
        comm.join(intra, "community", "left")
        .crossJoin(F.broadcast(m_df))
        .select(
            "community",
            "n_nodes",
            F.coalesce("intra_edges", F.lit(0).cast("long")).alias(
                "intra_edges"
            ),
            "degree_sum",
            q_num.alias("q_num"),
            # + 0.0 folds IEEE -0.0 to +0.0 (a tiny negative Q
            # contribution rounds to -0.0 in DuckDB but +0.0 in Spark,
            # and the grading renderer distinguishes "-0" from "0")
            (
                F.round(
                    q_num.cast("double")
                    / (4.0 * F.col("m") * F.col("m")),
                    6,
                )
                + 0.0
            ).alias("q_contrib"),
        )
    )


@register(
    "graph_assortativity",
    oracle=_LSH_PAIRS_CTE
    + _SYM_EDGES_CTE
    + """, deg AS (
      SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src
    ), xy AS (
      SELECT da.d AS x, db.d AS y
      FROM edges e
      JOIN deg da ON da.node = e.src
      JOIN deg db ON db.node = e.dst
    ), m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) AS assortativity
    FROM m
    """,
)
def graph_assortativity(spark: SparkSession, d: str) -> DataFrame:
    """Degree assortativity of the near-dup graph — the Pearson
    correlation of endpoint degrees over the (symmetrized) edge list.
    Positive r means high-degree documents preferentially link to each
    other (one template family densely cross-duplicated — dedup will
    collapse it to a giant cluster), negative r means hub-and-spoke
    duplication (one canonical page echoed by many singletons). A
    one-number shape diagnostic BEFORE running clustering: it predicts
    whether ``dedup_clusters`` will produce few mega-clusters or many
    stars. Moments (n, Sigmax, Sigmay, Sigmaxy, Sigmaxx, Sigmayy) are exact integer
    sums — degrees are ints — so the closed form is evaluated once in
    double, identically in both engines (sqrt is IEEE
    correctly-rounded, hence portable; same discipline as
    ``agg_corr``).

    Scale: degrees are one groupBy over the LSH pair table; attaching
    them to both edge endpoints is two broadcast-able joins (the deg
    table is |nodes|, tiny next to the corpus); the moment aggregate
    is a single global row. No all-pairs anything — cost is bounded by
    the pair table the LSH stage already materialized."""
    edges = sym_edges(dedup_minhash_lsh(spark, d))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("d")
    )
    xy = (
        edges.join(
            F.broadcast(deg.withColumnRenamed("d", "x")),
            F.col("src") == F.col("node"),
        )
        .drop("node")
        .join(
            F.broadcast(deg.withColumnRenamed("d", "y")),
            F.col("dst") == F.col("node"),
        )
        .select("x", "y")
    )
    m = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    r = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.select(
        n.cast("long").alias("n_directed_edges"),
        F.round(r, 6).alias("assortativity"),
    )


HITS_ROUNDS = 3


def _hits_oracle() -> str:
    """Unroll HITS_ROUNDS hub/authority updates as chained CTEs over
    the id-oriented LSH pair digraph (doc_a < doc_b by construction,
    so orientation is deterministic)."""
    sql = _LSH_PAIRS_CTE + """
    , e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs),
    nodes AS MATERIALIZED (
      SELECT src AS node FROM e UNION SELECT dst FROM e
    ), h0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes
    )"""
    # L1 normalizers are WINDOW sums (SUM(s) OVER ()), not scalar
    # subqueries: a scalar subquery is a second reference to the
    # round's CTE, and DuckDB inlines CTEs — two references per round
    # re-expand the whole chain below it (4^rounds recomputations of
    # the MinHash pair derivation). The window keeps every CTE
    # referenced exactly once, so the unrolled chain stays linear.
    prev = "h0"
    for i in range(1, HITS_ROUNDS + 1):
        sql += f""", a{i}d AS MATERIALIZED (
      SELECT e.dst AS node, SUM(CAST(p.h AS DECIMAL(38,30))) AS s
      FROM e JOIN {prev} p ON p.node = e.src GROUP BY e.dst
    ), a{i} AS MATERIALIZED (
      SELECT node, CAST(s AS DOUBLE)
                   / CAST(SUM(s) OVER () AS DOUBLE) AS a
      FROM a{i}d
    ), h{i}d AS MATERIALIZED (
      SELECT e.src AS node, SUM(CAST(a.a AS DECIMAL(38,30))) AS s
      FROM e JOIN a{i} a ON a.node = e.dst GROUP BY e.src
    ), h{i} AS MATERIALIZED (
      SELECT node, CAST(s AS DOUBLE)
                   / CAST(SUM(s) OVER () AS DOUBLE) AS h
      FROM h{i}d
    )"""
        prev = f"h{i}"
    sql += f"""
    SELECT n.node AS doc_id,
           ROUND(COALESCE(h.h, 0.0), 6) AS hub,
           ROUND(COALESCE(a.a, 0.0), 6) AS authority
    FROM nodes n
    LEFT JOIN h{HITS_ROUNDS} h ON h.node = n.node
    LEFT JOIN a{HITS_ROUNDS} a ON a.node = n.node
    """
    return sql


@register("graph_hits", oracle=_hits_oracle())
def graph_hits(spark: SparkSession, d: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) over the id-oriented LSH
    near-dup digraph — the fourth Pregel-style iterative family (after
    pagerank, k-core, LPA): a canonical-selection signal that
    SEPARATES the two duplication roles PageRank mixes — a high
    AUTHORITY is the widely-copied original, a high HUB is an
    aggregator page stitched from many originals. Orientation is
    deterministic (doc_a < doc_b from the pair table), so both engines
    iterate the identical digraph.

    Exactness: each round's neighbor sums ride DECIMAL(38,30)
    (order-independent addition, the pagerank recipe), and the L1
    normalizer divides the SAME decimal total cast to double — no
    order-dependent double sums, no sqrt; the oracle unrolls the
    identical {HITS_ROUNDS} rounds as chained CTEs.

    Scale: per round two node-keyed shuffles (src->dst then dst->src)
    over the persisted LSH pair table plus a 1-row total — bucketing
    the pair table by both endpoints makes each a co-located join; no
    driver-side state beyond the loop counter."""
    pairs = dedup_minhash_lsh(spark, d).select("doc_a", "doc_b")
    e = pairs.selectExpr("doc_a AS src", "doc_b AS dst").localCheckpoint(
        eager=False
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    h = nodes.select("node", F.lit(1.0).alias("h"))
    a = None
    for _ in range(HITS_ROUNDS):
        # each half-round's neighbor-sum frame is consumed TWICE (the
        # 1-row L1 normalizer aggregate and the per-node projection);
        # without a lineage barrier the unrolled subtree DOUBLES per
        # half-round — 2^(2·rounds) copies of the LSH-pair derivation.
        # A lazy localCheckpoint per half-round keeps the plan linear.
        ad = (
            e.join(h, e.src == h.node)
            .groupBy(F.col("dst").alias("anode"))
            .agg(F.sum(F.col("h").cast(_DEC30)).alias("s"))
            .localCheckpoint(eager=False)
        )
        at = ad.agg(F.sum("s").alias("t"))
        a = ad.crossJoin(F.broadcast(at)).select(
            F.col("anode").alias("node"),
            (F.col("s").cast("double") / F.col("t").cast("double")).alias(
                "a"
            ),
        )
        hd = (
            e.join(a, e.dst == a.node)
            .groupBy(F.col("src").alias("hnode"))
            .agg(F.sum(F.col("a").cast(_DEC30)).alias("s"))
            .localCheckpoint(eager=False)
        )
        ht = hd.agg(F.sum("s").alias("t"))
        h = hd.crossJoin(F.broadcast(ht)).select(
            F.col("hnode").alias("node"),
            (F.col("s").cast("double") / F.col("t").cast("double")).alias(
                "h"
            ),
        )
    return (
        nodes.join(h.withColumnRenamed("node", "hn"), nodes.node == F.col("hn"), "left")
        .join(a.withColumnRenamed("node", "an"), nodes.node == F.col("an"), "left")
        .select(
            F.col("node").alias("doc_id"),
            F.round(F.coalesce(F.col("h"), F.lit(0.0)), 6).alias("hub"),
            F.round(F.coalesce(F.col("a"), F.lit(0.0)), 6).alias(
                "authority"
            ),
        )
    )


# --- landmark closeness centrality ---------------------------------------

CLOSENESS_LANDMARKS = 4   # BFS sources (smallest node ids)
CLOSENESS_ROUNDS = 3      # hop horizon (graph diameter at test scale)


def _closeness_oracle() -> str:
    """Per-landmark BFS unrolled as chained CTEs (the _bfs_oracle
    pattern with a landmark column), then harmonic-sum per node with
    1/d floor-quantized to integer micros."""
    sql = _LSH_PAIRS_CTE + _SYM_EDGES_CTE + f""", d0 AS MATERIALIZED (
      SELECT node AS lm, node, 0 AS dist FROM (
        {_smallest_nodes_sql(CLOSENESS_LANDMARKS)}
      )
    )"""
    for i in range(1, CLOSENESS_ROUNDS + 1):
        sql += f""", d{i} AS MATERIALIZED (
      SELECT lm, node, MIN(dist) AS dist FROM (
        SELECT lm, node, dist FROM d{i - 1}
        UNION ALL
        SELECT p.lm, e.dst AS node, p.dist + 1 AS dist
        FROM edges e JOIN d{i - 1} p ON p.node = e.src
      ) GROUP BY lm, node
    )"""
    return sql + f"""
    SELECT node AS doc_id,
           CAST(COUNT(*) FILTER (WHERE dist > 0) AS BIGINT) AS n_reached,
           CAST(SUM(dist) AS BIGINT) AS sum_hops,
           CAST(SUM(CASE WHEN dist > 0
                         THEN CAST(FLOOR(1000000.0 / dist) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS harmonic_micros
    FROM d{CLOSENESS_ROUNDS}
    GROUP BY node
    """


@register("graph_closeness_landmarks", oracle=_closeness_oracle())
def graph_closeness_landmarks(spark: SparkSession, d: str) -> DataFrame:
    """LANDMARK CLOSENESS centrality over the near-dup graph — exact
    closeness needs all-pairs distances (quadratic, off the table);
    the standard approximation runs BFS from a small landmark set and
    scores each node by harmonic proximity Σ 1/dist(lm, node) to the
    landmarks (harmonic form so unreachable landmarks contribute 0
    instead of poisoning the sum — the disconnected-graph fix). High
    scorers are the hub documents closest to everything — template
    ancestors and canonical sources worth inspecting first.

    Exactness: distances are integer BFS rounds (per-landmark
    frontier relaxation, the ``graph_bfs_distances`` recipe carrying
    a landmark column); each 1/d term floor-quantizes to integer
    micros before the sum, so the harmonic score is an exact integer
    both engines.

    Scale: the frontier table holds (landmark, node) pairs — at L
    landmarks it is L× the BFS frontier, still linear in reached
    nodes; each round is one keyed shuffle (frontier ⋈ edges +
    per-(lm, node) MIN), lineage truncated per round. L and the hop
    horizon are constants, so the whole job is O(rounds · |E| · L /
    cluster)."""
    edges = sym_edges(dedup_minhash_lsh(spark, d)).localCheckpoint(eager=False)
    dist = smallest_nodes(edges, CLOSENESS_LANDMARKS).select(
        F.col("node").alias("lm"), "node", F.lit(0).alias("dist")
    )
    for _ in range(CLOSENESS_ROUNDS):
        relaxed = edges.join(
            dist, edges["src"] == dist["node"], "inner"
        ).select("lm", F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        dist = (
            dist.unionAll(relaxed)
            .groupBy("lm", "node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist.groupBy(F.col("node").alias("doc_id")).agg(
        F.count_if(F.col("dist") > 0).cast("long").alias("n_reached"),
        F.sum("dist").cast("long").alias("sum_hops"),
        F.sum(
            F.when(
                F.col("dist") > 0,
                F.floor(1000000.0 / F.col("dist")).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("harmonic_micros"),
    )
