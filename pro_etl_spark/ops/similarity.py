"""Vector search over the ``embeddings`` table: exact cosine top-k,
its candidate-pruned approximations (grid and k-means IVF cells,
multi-probe, product quantization, IVF-PQ, binary codes, metadata
filters), range search, blocked cosine near-dup joins, and the index
evaluations (recall, MRR, nDCG, Matryoshka truncation) that compare
them.

Every search has the same shape: a broadcast query frame, a candidate
set (the whole corpus, or the probed cells / buckets), an exact score
per candidate, and a per-query top-k. Those steps are written once:

- ``_queries`` / ``_query_frame``: the ``vec_id < N_QUERIES`` rows,
  keyed by ``query_id``;
- ``dedup.cosine``: the exact cosine Column (sequential ``dot`` fold
  over the cached norms of ``dedup.corpus_table``);
- ``_top_k`` and its oracle twin ``_topk_sql``: the ranking policy —
  score order, ties to the smaller id, ``rank`` as bigint, the score
  rounded to 6 places;
- ``dedup.cosine_pairs``: the blocked cosine self-join of the near-dup
  operators.

Scale design: the query set is tiny and broadcast; the corpus never
shuffles for brute force (narrow scan → per-query top-k window). The
cell-probed variants prune the candidate scan — at 100 TB the cells
are the partition layout, so probing is partition pruning.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from pro_etl_spark.io import dataset_memo, load
from pro_etl_spark.ops.dedup import (
    _CC_TAIL_CTE,
    _cc_min_label,
    COSINE_THRESHOLD,
    DUCK_DOT,
    corpus_table,
    cosine,
    cosine_pairs,
    dot,
)
from pro_etl_spark.registry import ORACLES, register

N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 10


def _queries(e: DataFrame, *cols) -> DataFrame:
    """The query rows of ``e`` (``vec_id < N_QUERIES``), keyed by
    ``query_id`` and carrying ``cols``."""
    return e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), *cols
    )


def _query_frame(e: DataFrame, *extra) -> DataFrame:
    """Broadcast side of a cosine search over a ``corpus_table``-shaped
    frame: ``query_id``, the ``q_emb``/``q_nrm`` operands of
    ``cosine()``, then ``extra``."""
    return _queries(
        e,
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        *extra,
    )


def _top_k(
    scored: DataFrame,
    *extra: Column,
    score: str = "cos",
    out: str = "cosine",
    desc: bool = True,
) -> DataFrame:
    """Per-query top-k of ``(query_id, neighbor_id, …, score)`` rows:
    ``score`` descending (ascending for distances), ties to the smaller
    ``neighbor_id``, at most TOP_K rows per query with a bigint
    ``rank`` from 1. Output: ``query_id, neighbor_id, *extra``, the
    score rounded to 6 places as ``out``, ``rank``."""
    order = F.desc(score) if desc else F.asc(score)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id", "neighbor_id", *extra, F.round(score, 6).alias(out), "rank"
        )
    )


def _topk_sql(
    src: str,
    extra: str = "",
    score: str = "cos",
    out: str = "cosine",
    desc: bool = True,
) -> str:
    """Oracle twin of ``_top_k`` over the CTE ``src``; ``extra`` is a
    comma-terminated select-list prefix for the columns between
    ``neighbor_id`` and the score."""
    order = f"{score} DESC" if desc else score
    return f"""
    SELECT query_id, neighbor_id, {extra}ROUND({score}, 6) AS {out},
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY {order}, neighbor_id) AS rank
      FROM {src}
    ) WHERE rank <= {TOP_K}
    """


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm
      FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {DUCK_DOT.format(a="q.embedding", b="c.embedding")}
               / (q.nrm * c.nrm) AS cos
      FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    )
    {_topk_sql("scored")}
    """,
)
def ann_cosine_topk(spark: SparkSession, d: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query vectors, score
    every corpus vector (JVM-side fold — no UDF), per-query top-k via
    window (deterministic tiebreak on neighbor id)."""
    e = corpus_table(spark, d)
    scored = e.join(
        F.broadcast(_query_frame(e)), F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cosine().alias("cos")
    )
    return _top_k(scored)


#: IVF-style coarse cell: quantize the first two dimensions. A real
#: deployment uses k-means centroids; the grid keeps the assignment
#: deterministic and oracle-checkable while exercising the same plan
#: shape (cell-pruned candidate scan → exact re-rank).
#:
#: The pitch is CORPUS-ADAPTIVE: a fixed multiplier keeps the
#: occupied-cell count constant as N grows, so the per-cell work of
#: this family would be Θ(N²/C). The multiplier is
#: M = max(2, ⌈2·N^(1/4)⌉), so cells per dim grow as N^(1/4) and
#: occupied 2-D cells as √N — the same nlist ≈ √N discipline as the
#: trained-cell path (``_K_CELLS_SQL``), keeping expected cell size
#: ≈ √N and total pairwise work O(N·√N). The leading 2 calibrates for
#: the synthetic embeddings' per-coordinate spread (unit vectors in
#: 64-d ⇒ coords ~ N(0, 1/64)); any constant keeps the asymptotics.
#: Both engines derive M from the same COUNT(*) through CEIL∘SQRT∘SQRT
#: (sqrt is IEEE-correctly-rounded, so the integer M — and therefore
#: every FLOOR cell id — is bit-identical cross-engine at every SF).
#: The row stride 10⁶ keeps the 2-D→1-D packing collision-free up to
#: |coord·M| < 5·10⁵ — HALF the stride, since cell indices can be
#: negative: (i+1, j−10⁶) would alias (i, j) once |j| reaches the full
#: stride. Unreachable here (M ≈ 2·N^¼, |coord| ≤ 1), but audit any
#: pitch/stride change against the half-stride bound, not the stride
#: itself.
_GM_CTE = (
    "gm AS (SELECT GREATEST(2, CAST(CEIL(2.0 * SQRT(SQRT("
    "CAST(COUNT(*) AS DOUBLE)))) AS BIGINT)) AS gm FROM embeddings)"
)

_CELL_SQL = (
    "CAST(FLOOR(CAST({e}[1] AS DOUBLE) * CAST(gm AS DOUBLE)) * 1000000"
    " + FLOOR(CAST({e}[2] AS DOUBLE) * CAST(gm AS DOUBLE)) AS BIGINT)"
)


def _grid_m(spark: SparkSession, d: str) -> DataFrame:
    """Broadcast 1-row grid multiplier ``gm`` = max(2, ⌈2·N^(1/4)⌉) —
    the lazy twin of the oracle's ``_GM_CTE`` scalar (the
    events_markov_stationary pattern: a 1-row aggregate cross-joined
    in, never a driver-side count, so plan construction stays
    zero-job)."""
    return F.broadcast(
        load(spark, d, "embeddings").agg(
            F.greatest(
                F.lit(2).cast("long"),
                F.ceil(
                    F.lit(2.0) * F.sqrt(F.sqrt(F.count(F.lit(1)).cast("double")))
                ),
            ).alias("gm")
        )
    )


def _cell(e, gm):
    return (
        F.floor(F.element_at(e, 1).cast("double") * gm.cast("double")) * 1000000
        + F.floor(F.element_at(e, 2).cast("double") * gm.cast("double"))
    ).cast("long")


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_GM_CTE}, e AS (
      SELECT vec_id, embedding,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm,
             {_CELL_SQL.format(e="embedding")} AS cell
      FROM embeddings, gm
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {DUCK_DOT.format(a="q.embedding", b="c.embedding")}
               / (q.nrm * c.nrm) AS cos
      FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
                        AND q.cell = c.cell
    )
    {_topk_sql("scored")}
    """,
)
def ann_ivf_topk(spark: SparkSession, d: str) -> DataFrame:
    """IVF-bucketed ANN: candidates restricted to the query's coarse
    cell (nprobe=1), exact cosine re-rank inside the cell. Trades
    recall for a corpus scan bounded by cell size; the brute-force
    twin above is the recall baseline. Cell pitch is corpus-adaptive
    (see ``_GM_CTE``): candidate-list size per query stays ≈ √N
    instead of growing linearly with a fixed grid."""
    e = (
        corpus_table(spark, d)
        .crossJoin(_grid_m(spark, d))
        .withColumn("cell", _cell(F.col("embedding"), F.col("gm")))
        .drop("gm")
    )
    q = _query_frame(e, F.col("cell").alias("q_cell"))
    scored = e.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("vec_id")) & (F.col("q_cell") == F.col("cell")),
    ).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cosine().alias("cos")
    )
    return _top_k(scored)


@register(
    "dedup_embedding_cosine_ivf",
    oracle=f"""
    WITH {_GM_CTE}, e AS (
      SELECT vec_id, embedding,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm,
             {_CELL_SQL.format(e="embedding")} AS cell
      FROM embeddings, gm
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({DUCK_DOT.format(a="a.embedding", b="b.embedding")}
                 / (a.nrm * b.nrm), 6) AS cosine
    FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE {DUCK_DOT.format(a="a.embedding", b="b.embedding")}
          / (a.nrm * b.nrm) >= {COSINE_THRESHOLD}
    """,
)
def dedup_embedding_cosine_ivf(spark: SparkSession, d: str) -> DataFrame:
    """Embedding near-dup, IVF-cell-blocked — the scale path for the
    embedding-cosine dedup family (its label-blocked twin
    ``dedup_embedding_cosine`` is the exactness baseline whose blocks
    grow with the corpus): candidate pairs come only from within a
    coarse quantizer cell, so the self-join cost is |cell|² per cell and
    the only shuffle key is the cell id. At 100 TB the cells are the
    table's partition layout (k-means centroids instead of this
    deterministic grid) and the per-cell join is partition-local.
    Near-identical vectors quantize to the same cell, which is exactly
    the near-dup regime; the documented recall trade is cross-cell
    borderline pairs.

    The grid pitch is corpus-adaptive — occupied cells grow as √N
    (``_GM_CTE`` / ``_grid_m``), so expected cell size is ≈ √N and
    total pair work O(N·√N), not the Θ(N²/C) of a fixed pitch. Both
    engines derive the pitch from the same COUNT(*), keeping the oracle
    pairing value-exact at every SF."""
    e = (
        corpus_table(spark, d)
        .crossJoin(_grid_m(spark, d))
        .withColumn("cell", _cell(F.col("embedding"), F.col("gm")))
        .drop("gm")
    )
    return cosine_pairs(e, e, "cell", COSINE_THRESHOLD)


#: multi-probe neighborhood: the query's cell plus its 8 grid
#: neighbors (nprobe=9). Probing adjacent cells recovers the borderline
#: neighbors single-probe IVF misses when a query sits near a cell
#: boundary — the standard IVF recall/cost knob, still an equi-join.
_PROBE_OFFSETS = [(di, dj) for di in (-1, 0, 1) for dj in (-1, 0, 1)]

_CELL_I_SQL = "FLOOR(CAST({e}[1] AS DOUBLE) * CAST(gm AS DOUBLE))"
_CELL_J_SQL = "FLOOR(CAST({e}[2] AS DOUBLE) * CAST(gm AS DOUBLE))"


def _cell_i(e, gm):
    return F.floor(F.element_at(e, 1).cast("double") * gm.cast("double"))


def _cell_j(e, gm):
    return F.floor(F.element_at(e, 2).cast("double") * gm.cast("double"))


@register(
    "ann_ivf_multiprobe",
    oracle=f"""
    WITH {_GM_CTE}, e AS (
      SELECT vec_id, embedding,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm,
             {_CELL_I_SQL.format(e="embedding")} AS ci,
             {_CELL_J_SQL.format(e="embedding")} AS cj
      FROM embeddings, gm
    ), probes AS (
      SELECT q.vec_id AS query_id, q.embedding AS q_emb, q.nrm AS q_nrm,
             CAST((q.ci + o.di) * 1000000 + (q.cj + o.dj) AS BIGINT) AS pcell
      FROM e q, (VALUES {", ".join(f"({di}, {dj})" for di, dj in _PROBE_OFFSETS)}) o(di, dj)
      WHERE q.vec_id < {N_QUERIES}
    ), scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             {DUCK_DOT.format(a="p.q_emb", b="c.embedding")}
               / (p.q_nrm * c.nrm) AS cos
      FROM probes p JOIN e c
        ON CAST(c.ci * 1000000 + c.cj AS BIGINT) = p.pcell
       AND p.query_id <> c.vec_id
    )
    {_topk_sql("scored")}
    """,
)
def ann_ivf_multiprobe(spark: SparkSession, d: str) -> DataFrame:
    """Multi-probe IVF ANN (nprobe=9): each query probes its own coarse
    cell AND the adjacent cells, then exact cosine re-rank over the
    union of probed candidates. Each corpus vector belongs to exactly
    one cell and the probed cells are distinct per query, so no
    candidate duplicates and the join stays a plain equi-join on the
    cell id — at 100 TB: 9 partition lookups per query instead of 1,
    recall close to brute force at a small multiple of single-probe
    cost. Pitch is corpus-adaptive (``_GM_CTE``): probing 9 cells of
    ≈ √N rows each keeps per-query candidates sublinear in N."""
    e = (
        corpus_table(spark, d)
        .crossJoin(_grid_m(spark, d))
        .select(
            "vec_id",
            "embedding",
            "nrm",
            _cell_i(F.col("embedding"), F.col("gm")).alias("ci"),
            _cell_j(F.col("embedding"), F.col("gm")).alias("cj"),
        )
    )
    offsets = F.array(
        *[
            F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
            for di, dj in _PROBE_OFFSETS
        ]
    )
    probes = (
        _query_frame(e, "ci", "cj", F.explode(offsets).alias("o"))
        .select(
            "query_id",
            "q_emb",
            "q_nrm",
            ((F.col("ci") + F.col("o.di")) * 1000000 + (F.col("cj") + F.col("o.dj")))
            .cast("long")
            .alias("pcell"),
        )
    )
    scored = (
        e.withColumn("ccell", (F.col("ci") * 1000000 + F.col("cj")).cast("long"))
        .join(
            F.broadcast(probes),
            (F.col("ccell") == F.col("pcell"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cosine().alias("cos")
        )
    )
    return _top_k(scored)


K_CELLS = 8  # coarse-quantizer centroid count FLOOR (seeds: vec_id < K)

#: SQL twin of ``_k_cells``: the trained cell count grows with the
#: corpus, nlist = max(K_CELLS, ceil(sqrt(N))) — the standard IVF
#: guidance (nlist ≈ √N..4√N) that keeps EXPECTED CELL SIZE ≈ √N, so
#: the per-cell self-join in the embedding-dedup family is O(N·√N)
#: total instead of Θ(N²/const) (the round-7 scale-probe finding:
#: 268.8 s at 10× with K pinned at 8). Both engines derive K from the
#: same COUNT(*) with the same double sqrt/ceil, so oracle pairing is
#: exact at every SF.
_K_CELLS_SQL = (
    f"(SELECT GREATEST({K_CELLS}, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))"
    " FROM e)"
)

#: quantizer TRAINING reads only the first TRAIN_N vectors (a
#: deterministic sample — standard IVF practice; at 100 TB you train on
#: ~1e6 rows and assign the full corpus). Covers every vector at the
#: correctness SFs (≤512 rows), becomes a real sample at bench SFs.
TRAIN_N = 512

_SQDIST_SQL = """
  list_reduce(list_prepend(CAST(0 AS DOUBLE),
    list_transform(range(1, 65),
      i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))),
    (acc, v) -> acc + v)
"""

_EMB6_SQL = "list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6))"


#: The synthetic embeddings are isotropic-random (no planted
#: near-dups), so the production τ=0.8 of ``dedup_embedding_cosine``
#: matches nothing at test SFs; the IVF variant uses a lower τ so its
#: oracle check exercises real pairs instead of an empty set.
IVF_COSINE_THRESHOLD = 0.35

#: Shared CTE chain ending in ``acell(vec_id, cell, dist)`` — the
#: one-Lloyd-iteration k-means assignment. Reused by the assignment
#: query's oracle and by ``dedup_embedding_kmeans``'s.
_KMEANS_CTES = f"""
    e AS (
      SELECT vec_id, {_EMB6_SQL} AS emb FROM embeddings
    ), seeds AS (
      SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < {_K_CELLS_SQL}
    ), a0 AS (
      SELECT vec_id, emb, cid
      FROM (
        SELECT e.vec_id, e.emb, s.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_SQDIST_SQL.format(a="e.emb", b="s.cemb")}, s.cid
               ) AS rn
        FROM e CROSS JOIN seeds s
        WHERE e.vec_id < {TRAIN_N}
      ) WHERE rn = 1
    ), members AS (
      SELECT cid, list(emb ORDER BY vec_id) AS ms FROM a0 GROUP BY cid
    ), cent1 AS (
      SELECT cid,
             list_transform(range(1, 65),
               d -> list_reduce(
                      list_prepend(CAST(0 AS DOUBLE),
                                   list_transform(ms, m -> m[d])),
                      (acc, v) -> acc + v) / len(ms)) AS cemb
      FROM members
    ), acell AS (
      SELECT vec_id, cid AS cell, dist
      FROM (
        SELECT e.vec_id, c.cid,
               {_SQDIST_SQL.format(a="e.emb", b="c.cemb")} AS dist,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_SQDIST_SQL.format(a="e.emb", b="c.cemb")}, c.cid
               ) AS rn
        FROM e CROSS JOIN cent1 c
      ) WHERE rn = 1
    )
"""


@register(
    "ivf_kmeans_assign",
    oracle=f"""
    WITH {_KMEANS_CTES}
    SELECT vec_id, cell, ROUND(dist, 6) AS dist FROM acell
    """,
)
def ivf_kmeans_assign(spark: SparkSession, d: str) -> DataFrame:
    """Coarse-quantizer training for IVF — one deterministic Lloyd
    iteration as pure DataFrame ops: seed centroids (first K vectors) →
    nearest-centroid assignment (squared L2, sequential fold, tie-break
    on centroid id) → per-cluster mean refinement → re-assignment.
    Upgrades the grid stand-in of ``ann_ivf_topk`` to real k-means
    cells while staying value-exact cross-engine:

    - inputs normalized to ROUND(x, 6) doubles (tie-free for binary
      floats, so both engines round identically),
    - centroid means fold cluster members in vec_id order (sequential
      double adds — bit-identical to the oracle's list_reduce, no
      order-nondeterministic SUM),
    - distances are the same left-to-right fold both sides.

    Scale notes: quantizer TRAINING runs on a bounded sample (standard
    IVF practice — the per-cluster ordered fold assumes that), while
    ASSIGNMENT (the expensive part, one pass over the corpus ×
    broadcast centroids) is the narrow, shuffle-free plan shown here;
    at 100 TB you keep this assignment stage verbatim and train the
    centroids on a 1e6-row sample."""
    return _kmeans_assignment(spark, d).select(
        "vec_id", "cell", F.round("dist", 6).alias("dist")
    )


def _emb_table(spark: SparkSession, d: str) -> DataFrame:
    """Cached (vec_id, emb) table of ROUND(x, 6) doubles — the
    materialization barrier for the k-means family (same reason as
    ``dedup._token_table``): without it CollapseProject inlines the
    rounding transform into the per-centroid argmin lambda and
    re-rounds the 64-dim vector once per centroid.

    Repartitioned by vec_id to the session's core count before the
    cache: embedding work is COMPUTE-dense, not byte-dense — a few MB
    of vectors inherit the source's 1-2 parquet splits, and every
    downstream N×K assignment pass and per-cell self-join would run on
    2 of 32 cores (measured: 28 s of the round-8 10× probe's 67 s was
    exactly this). At 100 TB the corpus arrives with thousands of
    splits and this reshape is a no-op by comparison; partition by
    compute cost, not bytes, for vector work."""
    par = spark.sparkContext.defaultParallelism
    return dataset_memo(
        spark, d, "emb_table",
        lambda: (
            load(spark, d, "embeddings")
            .select(
                "vec_id",
                F.transform(
                    F.col("embedding"),
                    lambda x: F.round(x.cast("double"), 6),
                ).alias("emb"),
            )
            .repartition(par, "vec_id")
            .cache()
        ),
    )


def _sqdist(a, b):
    """Squared L2 as the same left-to-right fold as the oracle's
    ``_SQDIST_SQL`` — bit-identical doubles."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _n_vec(spark: SparkSession, d: str) -> int:
    """Corpus row count, memoized per (application, dataset) — one tiny
    count() job at quantizer-TRAINING time (the same train-once step
    that already collects the centroid model state)."""
    return dataset_memo(
        spark, d, "n_vec", lambda: load(spark, d, "embeddings").count()
    )


def _k_cells(spark: SparkSession, d: str) -> int:
    """Trained cell count for dataset ``d``: nlist = max(K_CELLS,
    ceil(sqrt(N))) — grows with the corpus so expected cell size stays
    ≈ √N and the per-cell pairwise work in the embedding-dedup family
    is O(N·√N), not Θ(N²/const). Mirrors ``_K_CELLS_SQL`` exactly
    (same integer count, same double sqrt/ceil), so every oracle in
    the k-means family stays value-exact at every SF. The count runs
    once per (application, dataset) as part of quantizer training —
    bounded model-state work, like the centroid collect it precedes
    (``io.dataset_memo`` states when it goes stale)."""
    import math

    n = _n_vec(spark, d)
    return max(K_CELLS, math.ceil(math.sqrt(n))) if n else K_CELLS


def _kmeans_centroids(spark: SparkSession, d: str) -> DataFrame:
    """Refined centroids ``(cid, cemb)`` after one Lloyd iteration over
    the TRAIN_N sample (seeds → assign sample → ordered per-cluster
    mean). Seed count scales with the corpus via ``_k_cells``."""
    e = _emb_table(spark, d)
    seeds = e.where(F.col("vec_id") < _k_cells(spark, d)).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("cemb")
    )
    a0 = _assign(e.where(F.col("vec_id") < TRAIN_N), seeds)
    members = a0.groupBy("cid").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "emb"))).alias("ms")
    )
    return members.select(
        "cid",
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda dim: F.aggregate(
                F.col("ms"),
                F.lit(0.0),
                lambda acc, m: acc + F.element_at(m["emb"], dim),
            )
            / F.size("ms"),
        ).alias("cemb"),
    )


def _km_centroid_rows(spark: SparkSession, d: str):
    """The trained coarse quantizer as driver-side model state: a
    cid-sorted list of ``(cid, [64 floats])``, collected ONCE per
    session from ``_kmeans_centroids`` and re-entered as literals —
    the same train-once / inline-the-model pattern as
    ``_pq_codebook_rows`` (⌈√N⌉ × 64 doubles — ~50 MB even at N=1e10;
    past the point where a literal expression is comfortable (~1e4
    cells) the natural swap is a broadcast-DataFrame argmin join, same
    plan shape, kept literal here for cross-engine value exactness)."""
    return dataset_memo(
        spark, d, "km_centroids",
        lambda: sorted(
            (r["cid"], [float(v) for v in r["cemb"]])
            for r in _kmeans_centroids(spark, d).collect()
        ),
    )


def _km_centroids_arr(spark: SparkSession, d: str):
    """Literal ``array<struct<cid,cemb>>`` of the trained coarse
    quantizer (cid-sorted), for in-row argmin assignment and probe
    ranking. Built as one ``F.expr`` parse (see ``_dbl_arr_sql``),
    memoized per (application, dataset) like every parsed literal model
    (see ``_pq_codebook_arr``): the ⌈√N⌉×64-double parse cost ~0.5 s
    per consuming key at sf0.1."""
    return dataset_memo(
        spark, d, "km_arr",
        lambda: _cb_arr_expr(_km_centroid_rows(spark, d)),
    )


def _km_centroids_df(spark: SparkSession, d: str) -> DataFrame:
    """The trained coarse quantizer as a ONE-ROW DataFrame holding the
    whole cid-sorted model in a single ``array<struct<cid,cemb>>``
    cell (LocalRelation — r13). The previous literal-expression form
    (``_km_centroids_arr``) put ⌈√N⌉×64 double literals into every
    consuming query's expression tree, and ANALYZING that tree cost a
    measured ~0.5 s per k-means-family key at sf0.1 (and grows with
    √N — the 10× probe parses 142×64 literals). A LocalRelation keeps
    the model as DATA: plan trees stay O(1) in model size, and the
    values are the same memoized training doubles, so the assignment
    fold is bit-identical."""
    from pyspark.sql import types as T

    rows = _km_centroid_rows(spark, d)
    schema = T.StructType(
        [
            T.StructField(
                "carr",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("cid", T.LongType()),
                            T.StructField(
                                "cemb", T.ArrayType(T.DoubleType())
                            ),
                        ]
                    )
                ),
            )
        ]
    )
    data = [([(int(cid), [float(v) for v in emb]) for cid, emb in rows],)]
    return spark.createDataFrame(data, schema)


def _kmeans_assignment(spark: SparkSession, d: str) -> DataFrame:
    """One-Lloyd-iteration assignment ``(vec_id, cell, dist)`` — shared
    by ``ivf_kmeans_assign``, ``dedup_embedding_kmeans`` and the
    k-means ANN queries (cached so the corpus pass runs once per
    session per dataset). The centroids ride in as a one-row broadcast
    (``_km_centroids_df`` — the docstring'd "natural swap" for big
    literal models, taken in r13 for plan-analysis cost, not data
    size): same struct(dist, cid) argmin and tie-break as ``_assign``,
    one BroadcastNestedLoopJoin of a single model row instead of a
    ⌈√N⌉×64-literal expression tree in every consumer's plan."""

    def build() -> DataFrame:
        best = F.array_min(
            F.transform(
                F.col("carr"),
                lambda c: F.struct(
                    _sqdist(F.col("emb"), c["cemb"]).alias("dist"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        return (
            _emb_table(spark, d)
            .crossJoin(F.broadcast(_km_centroids_df(spark, d)))
            .select("vec_id", best.alias("b"))
            .select(
                "vec_id",
                F.col("b.cid").alias("cell"),
                F.col("b.dist").alias("dist"),
            )
            .cache()
        )

    return dataset_memo(spark, d, "km_assignment", build)


def _assign(vectors: DataFrame, cents: DataFrame) -> DataFrame:
        # Fold the (tiny) centroid table into ONE broadcast row holding
        # an array<struct<cid,cemb>>, then take the per-row argmin with
        # array_min over struct(dist, cid) — struct comparison is
        # field-order lexicographic, so this is exactly the oracle's
        # ORDER BY dist, cid tie-break. Fully narrow: no window, no
        # shuffle of the corpus (a row_number() argmin would shuffle
        # corpus × K rows) — the plan a 100 TB assignment needs.
        carr = cents.agg(
            F.array_sort(F.collect_list(F.struct("cid", "cemb"))).alias("carr")
        )
        best = F.array_min(
            F.transform(
                F.col("carr"),
                lambda c: F.struct(
                    _sqdist(F.col("emb"), c["cemb"]).alias("dist"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        return (
            vectors.crossJoin(F.broadcast(carr))
            .select("vec_id", "emb", best.alias("b"))
            .select(
                "vec_id",
                "emb",
                F.col("b.cid").alias("cid"),
                F.col("b.dist").alias("dist"),
            )
        )


@register(
    "dedup_embedding_kmeans",
    oracle=f"""
    WITH {_KMEANS_CTES},
    raw AS (
      SELECT vec_id, embedding,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm
      FROM embeddings
    ), j AS (
      SELECT r.vec_id, r.embedding, r.nrm, a.cell
      FROM raw r JOIN acell a USING (vec_id)
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({DUCK_DOT.format(a="a.embedding", b="b.embedding")}
                 / (a.nrm * b.nrm), 6) AS cosine
    FROM j a JOIN j b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE {DUCK_DOT.format(a="a.embedding", b="b.embedding")}
          / (a.nrm * b.nrm) >= {IVF_COSINE_THRESHOLD}
    """,
)
def dedup_embedding_kmeans(spark: SparkSession, d: str) -> DataFrame:
    """Embedding near-dup with IVF-cell blocking — the scale path for
    ``dedup_embedding_cosine`` (which blocks on the data's own `label`
    column and degrades to all-pairs when labels are few). Cells come
    from the k-means coarse quantizer (``_kmeans_assignment``), so the
    pairwise cosine self-join stays per-cell: at 100 TB the corpus is
    written partitioned by cell and the join is a co-located
    per-partition product, never a global one. Recall is approximate by
    design (near-dups straddling a cell boundary are missed — standard
    IVF trade, recoverable with multi-assignment); the oracle applies
    the identical blocking so the check stays value-exact.

    The per-cell self-join is O(Σ cell²), so the trained cell count
    GROWS with the corpus — nlist = max(8, ⌈√N⌉) via ``_k_cells`` /
    ``_K_CELLS_SQL`` — keeping expected cell size ≈ √N and total
    pairwise work O(N·√N) instead of the Θ(N²/8) of a fixed K=8. Both
    engines derive K from the same COUNT(*), so the oracle pairing
    stays value-exact at every SF."""
    cells = _kmeans_assignment(spark, d).select("vec_id", "cell")
    e = corpus_table(spark, d).join(cells, "vec_id")
    return cosine_pairs(e, e, "cell", IVF_COSINE_THRESHOLD)


@register(
    "ann_ivf_kmeans_topk",
    oracle=f"""
    WITH {_KMEANS_CTES},
    raw AS (
      SELECT vec_id, embedding,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm
      FROM embeddings
    ), j AS (
      SELECT r.vec_id, r.embedding, r.nrm, a.cell
      FROM raw r JOIN acell a USING (vec_id)
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {DUCK_DOT.format(a="q.embedding", b="c.embedding")}
               / (q.nrm * c.nrm) AS cos
      FROM j q JOIN j c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
                        AND q.cell = c.cell
    )
    {_topk_sql("scored")}
    """,
)
def ann_ivf_kmeans_topk(spark: SparkSession, d: str) -> DataFrame:
    """IVF ANN over REAL k-means cells (upgrading the deterministic
    grid of ``ann_ivf_topk``): candidates restricted to the query's
    quantizer cell (nprobe=1), exact cosine re-rank inside the cell.
    Same scale shape as the grid variant — the corpus is laid out by
    cell, probing is partition pruning, the query set is broadcast —
    but the cells now come from data-driven centroids, so cell
    populations stay balanced on clustered real-world embeddings where
    a fixed grid degenerates (empty cells + one mega-cell)."""
    cells = _kmeans_assignment(spark, d).select("vec_id", "cell")
    e = corpus_table(spark, d).join(cells, "vec_id")
    q = _query_frame(e, F.col("cell").alias("q_cell"))
    scored = e.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("vec_id")) & (F.col("q_cell") == F.col("cell")),
    ).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cosine().alias("cos")
    )
    return _top_k(scored)


NPROBE_KMEANS = 3  # probe the 3 nearest trained cells per query


@register(
    "ann_ivf_kmeans_multiprobe",
    oracle=f"""
    WITH {_KMEANS_CTES},
    raw AS (
      SELECT vec_id, embedding,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm
      FROM embeddings
    ), j AS (
      SELECT r.vec_id, r.embedding, r.nrm, a.cell
      FROM raw r JOIN acell a USING (vec_id)
    ), qprobe AS (
      SELECT vec_id AS query_id, cid AS pcell
      FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_SQDIST_SQL.format(a="e.emb", b="c.cemb")}, c.cid
               ) AS rn
        FROM e CROSS JOIN cent1 c
        WHERE e.vec_id < {N_QUERIES}
      ) WHERE rn <= {NPROBE_KMEANS}
    ), scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             {DUCK_DOT.format(a="q.embedding", b="c.embedding")}
               / (q.nrm * c.nrm) AS cos
      FROM qprobe p
      JOIN j c ON c.cell = p.pcell AND c.vec_id <> p.query_id
      JOIN raw q ON q.vec_id = p.query_id
    )
    {_topk_sql("scored")}
    """,
)
def ann_ivf_kmeans_multiprobe(spark: SparkSession, d: str) -> DataFrame:
    """Multi-probe ANN over the trained k-means cells: each query
    probes its NPROBE nearest centroids (ranked by the same squared-L2
    fold the assignment uses), then exact cosine re-rank over the
    union of probed cells — the recall/cost knob of a production IVF
    index, here with data-driven cells instead of the fixed grid of
    ``ann_ivf_multiprobe``. The probe list is rows-per-query × NPROBE
    (broadcast-sized); the corpus side is touched only via the cell
    equi-join, i.e. NPROBE partition lookups per query at scale."""
    cells = _kmeans_assignment(spark, d).select("vec_id", "cell")
    corpus = corpus_table(spark, d).join(cells, "vec_id")
    # probe list ranked in-row against the literal centroid model:
    # array_sort on struct(pdist, cid) is the oracle's (dist, cid)
    # lexicographic tie-break — no crossJoin, no window, no shuffle for
    # the probe build
    ranked = F.array_sort(
        F.transform(
            _km_centroids_arr(spark, d),
            lambda c: F.struct(
                _sqdist(F.col("emb"), c["cemb"]).alias("pdist"),
                c["cid"].alias("cid"),
            ),
        )
    )
    probes = _queries(
        _emb_table(spark, d),
        F.explode(F.slice(ranked, 1, NPROBE_KMEANS)).alias("p"),
    ).select("query_id", F.col("p.cid").alias("pcell"))
    cand = corpus.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("pcell")) & (F.col("vec_id") != F.col("query_id")),
    ).join(F.broadcast(_query_frame(corpus_table(spark, d))), "query_id")
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cosine().alias("cos")
    )
    return _top_k(scored)


@register(
    "embed_centroid",
    oracle="""
    WITH flat AS (
      SELECT label,
             CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
             -- integer picos via FLOOR on the exact binary double —
             -- the double->DECIMAL cast this replaces quantizes via
             -- shortest-repr in Spark but exact binary in DuckDB, and
             -- they split at half-boundaries (realized: 1/640 rows at
             -- sf0.01, r12)
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1e12 + 0.5)
                  AS BIGINT) AS pv
      FROM embeddings
    )
    SELECT label, dim,
           COUNT(*) AS n_vectors,
           -- VARCHAR-mediated decimal->double: DuckDB's direct
           -- decimal->double cast is up to 1 ulp off past 2^53; the
           -- exact decimal string through strtod is correctly rounded,
           -- matching Spark's BigDecimal.doubleValue
           CAST(CAST(SUM(CAST(pv AS DECIMAL(38,0))) AS VARCHAR)
                AS DOUBLE) / COUNT(*) / 1e12
             AS centroid
    FROM flat GROUP BY label, dim
    """,
)
def embed_centroid(spark: SparkSession, d: str) -> DataFrame:
    """Per-label centroid of the embedding corpus — the K-means/IVF
    training step (a cell's centroid IS this aggregate) and the class
    prototype for nearest-centroid classification. posexplode to
    (label, dim, value) then ONE map-side-combinable aggregate: at
    100 TB this is a single shuffle of 64·|labels| partial sums, not a
    driver-side vector accumulation. Exactness route (r12, same recipe
    as ``agg_moments``): each component lifts to integer PICOS via
    ``floor(v·1e12 + 0.5)`` — pure IEEE ops both engines agree on
    bit-for-bit, unlike the double→DECIMAL cast it replaces (Spark
    quantizes via the shortest-repr string, DuckDB via the exact
    binary expansion; they split at half-boundaries — realized on
    1/640 rows at sf0.01) — the sums ride DECIMAL(38,0) (a 100 TB cell
    can hold 1e9 members × 1e12 picos, past int64), and the closing
    mean is one double division. Output in long (label, dim, value)
    form — join-ready for the assignment pass, never a dense row."""
    e = load(spark, d, "embeddings")
    flat = e.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "label",
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.floor(F.col("val").cast("double") * F.lit(1e12) + F.lit(0.5))
        .cast("long")
        .alias("pv"),
    )
    return flat.groupBy("label", "dim").agg(
        F.count("*").alias("n_vectors"),
        (
            F.sum(F.col("pv").cast("decimal(38,0)")).cast("double")
            / F.count("*")
            / F.lit(1e12)
        ).alias("centroid"),
    )


#: Lloyd iterations for the full quantizer-training query (the
#: one-iteration `ivf_kmeans_assign` is the building block; this runs
#: the loop to convergence-for-fixed-budget like a real IVF build)
KMEANS_ITERS = 3


def _ordered_mean(assigned: DataFrame) -> DataFrame:
    """Per-cluster centroid means folding members in vec_id order —
    sequential double adds, bit-identical to the oracle's list_reduce
    (an unordered SUM would be partition-order-dependent)."""
    members = assigned.groupBy("cid").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "emb"))).alias("ms")
    )
    return members.select(
        "cid",
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda dim: F.aggregate(
                F.col("ms"),
                F.lit(0.0),
                lambda acc, m: acc + F.element_at(m["emb"], dim),
            )
            / F.size("ms"),
        ).alias("cemb"),
    )


def _kmeans_train_ctes(iters: int) -> str:
    """Unrolled Lloyd-iteration CTE chain: cent0 = seeds, then per
    iteration assign-sample → ordered-mean refine. The unrolling is
    what makes a driver-side training LOOP value-verifiable in pure
    SQL."""
    parts = [
        f"e AS (SELECT vec_id, {_EMB6_SQL} AS emb FROM embeddings)",
        f"cent0 AS (SELECT vec_id AS cid, emb AS cemb FROM e"
        f" WHERE vec_id < {_K_CELLS_SQL})",
    ]
    for t in range(iters):
        parts.append(
            f"""a{t} AS (
      SELECT vec_id, emb, cid FROM (
        SELECT e.vec_id, e.emb, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_SQDIST_SQL.format(a="e.emb", b="c.cemb")}, c.cid
               ) AS rn
        FROM e CROSS JOIN cent{t} c
        WHERE e.vec_id < {TRAIN_N}
      ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""m{t} AS (
      SELECT cid, list(emb ORDER BY vec_id) AS ms FROM a{t} GROUP BY cid
    )"""
        )
        parts.append(
            f"""cent{t + 1} AS (
      SELECT cid,
             list_transform(range(1, 65),
               d -> list_reduce(
                      list_prepend(CAST(0 AS DOUBLE),
                                   list_transform(ms, m -> m[d])),
                      (acc, v) -> acc + v) / len(ms)) AS cemb
      FROM m{t}
    )"""
        )
    return ",\n    ".join(parts)


@register(
    "kmeans_train",
    # cval is quantized with FLOOR(x*1e6 + 0.5)/1e6, NOT ROUND(x, 6):
    # the trained means are bit-identical doubles in both engines, but
    # the two engines' ROUND implementations diverge when x*1e6 lands
    # within one double-ulp of a .5 boundary (DuckDB multiplies first
    # — the product can round UP onto the tie; Spark rounds the
    # shortest decimal repr). The floor formula is the same IEEE ops
    # on the same doubles in both engines, so it cannot split (found
    # round 8: centroid mean 0.0224504999... → 0.022451 vs 0.02245).
    oracle=f"""
    WITH {_kmeans_train_ctes(KMEANS_ITERS)}
    SELECT cid, d AS dim,
           FLOOR(cemb[d] * 1000000.0 + 0.5) / 1000000.0 AS cval
    FROM cent{KMEANS_ITERS}, UNNEST(range(1, 65)) AS u(d)
    """,
)
def kmeans_train(spark: SparkSession, d: str) -> DataFrame:
    """Full k-means quantizer training: KMEANS_ITERS Lloyd iterations
    as a driver-side loop over pure DataFrame ops (seed → assign the
    training sample → ordered-mean refine → repeat), emitting the final
    centroids one (cid, dim, cval) row per dimension. The oracle UNROLLS
    the same loop into a CTE chain, so an ITERATIVE training algorithm
    gets a full value oracle — not the weaker rows-only check iterative
    ops usually settle for. Vanished clusters (a centroid losing every
    member) drop out identically in both engines.

    Scale: each iteration is one narrow assignment pass over the
    bounded training sample (corpus × broadcast centroids, argmin
    in-row — see ``_assign``) plus a K-row aggregate; the loop's only
    driver-side state is the centroid DataFrame handle. At 100 TB,
    training still touches only the ~1e6-row sample; the full-corpus
    pass stays a single narrow assignment (``ivf_kmeans_assign``).
    The deepening lineage is bounded by the fixed iteration budget
    (localCheckpoint per round if the budget grows)."""
    e = _emb_table(spark, d)
    sample = e.where(F.col("vec_id") < TRAIN_N)
    cent = e.where(F.col("vec_id") < _k_cells(spark, d)).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("cemb")
    )
    for _ in range(KMEANS_ITERS):
        cent = _ordered_mean(_assign(sample, cent))
    return cent.select(
        "cid", F.posexplode("cemb").alias("dim0", "cval")
    ).select(
        "cid",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        # engine-agnostic quantization — see the oracle comment
        (F.floor(F.col("cval") * 1000000.0 + 0.5) / 1000000.0).alias(
            "cval"
        ),
    )


# --- Product quantization (PQ) ---------------------------------------

PQ_M = 4        # subspaces
PQ_SUBDIM = 16  # dims per subspace (4 × 16 = the 64-dim embedding)
PQ_K = 8        # centroids per subspace codebook (3-bit sub-codes)

_PQ_SQ16 = """
  list_reduce(list_prepend(CAST(0 AS DOUBLE),
    list_transform(range(1, 17),
      i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))),
    (acc, v) -> acc + v)
"""


def _pq_sub_ctes(s: int) -> str:
    """Per-subspace oracle CTE chain (slice → seed → one Lloyd
    iteration → codebook k{s} → code{s}) — the 16-dim replica of
    ``_KMEANS_CTES`` with the same exactness recipe: ordered member
    folds for the centroid means, (dist, cid) tie-break for
    assignments."""
    lo = s * PQ_SUBDIM
    sq_seed = _PQ_SQ16.format(a="t.sv", b="c.cemb")
    return f"""
    sub{s} AS (
      SELECT vec_id, list_slice(emb, {lo + 1}, {lo + PQ_SUBDIM}) AS sv
      FROM e
    ), seeds{s} AS (
      SELECT vec_id AS cid, sv AS cemb FROM sub{s} WHERE vec_id < {PQ_K}
    ), pa{s} AS (
      SELECT vec_id, sv, cid FROM (
        SELECT t.vec_id, t.sv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                 ORDER BY {sq_seed}, c.cid) AS rn
        FROM sub{s} t CROSS JOIN seeds{s} c
        WHERE t.vec_id < {TRAIN_N}
      ) WHERE rn = 1
    ), m{s} AS (
      SELECT cid, list(sv ORDER BY vec_id) AS ms FROM pa{s} GROUP BY cid
    ), k{s} AS (
      SELECT cid, list_transform(range(1, 17),
               d -> list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(ms, m -> m[d])),
                      (acc, v) -> acc + v) / len(ms)) AS cemb
      FROM m{s}
    ), code{s} AS (
      SELECT vec_id, CAST(cid AS BIGINT) AS c{s} FROM (
        SELECT t.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                 ORDER BY {sq_seed}, c.cid) AS rn
        FROM sub{s} t CROSS JOIN k{s} c
      ) WHERE rn = 1
    )"""


_PQ_ALL_CTES = (
    f"e AS (SELECT vec_id, {_EMB6_SQL} AS emb FROM embeddings),"
    + ",".join(_pq_sub_ctes(s) for s in range(PQ_M))
)


def _pq_codebook_rows(spark: SparkSession, d: str, s: int):
    """Subspace ``s``'s trained codebook as driver-side model state: a
    sorted list of ``(cid, [PQ_SUBDIM floats])``. All PQ_M codebooks
    are trained together once per (application, dataset)."""
    return dataset_memo(
        spark, d, "pq_codebooks", lambda: _train_pq_codebooks(spark, d)
    )[s]


def _train_pq_codebooks(spark: SparkSession, d: str) -> dict:
    """Every subspace's codebook, keyed by subspace.

    Training (seed with the first PQ_K vectors, one Lloyd iteration
    over the TRAIN_N sample — the same bounded-sample posture as the
    IVF coarse quantizer) runs in Spark and the PQ_M × PQ_K-row result
    is collected ONCE per session and re-entered as literals — the
    train-once / broadcast-the-model pattern every production PQ index
    uses (the model is 4×8×16 doubles, bounded by PQ_M × PQ_K,
    independent of corpus size — the same class of driver-side
    metadata as the k-means convergence probe, not a data collect).
    Cost is TWO tiny jobs: a pushdown-pruned PQ_K-row seed scan, then
    one linear pipeline assigning the sample in-row against literal
    seeds for ALL subspaces at once and shuffling only (s, cid) means.
    Before this, every PQ operator re-derived all four codebooks as
    duplicate multi-stage plan subtrees (a .cache() benched ~10%
    slower still); inlining the trained model halves ann_ivfpq_topk's
    bench time. Exactness is untouched: the in-row argmin is the same
    struct(dist, cid) minimum over cid-sorted centroids as ``_assign``,
    means fold members in vec_id order, and collected doubles
    round-trip IEEE-exactly through literals."""
    seed_rows = sorted(
        (r["vec_id"], [float(v) for v in r["emb"]])
        for r in _emb_table(spark, d)
        .where(F.col("vec_id") < PQ_K)
        .collect()
    )
    if not seed_rows:  # 0-row corpus: nothing to train
        return {sub: [] for sub in range(PQ_M)}
    per_s = []
    for sub in range(PQ_M):
        lo, hi = sub * PQ_SUBDIM, (sub + 1) * PQ_SUBDIM
        seeds_lit = F.expr(
            "array("
            + ",".join(
                f"named_struct('cid', CAST({cid} AS BIGINT), "
                f"'cemb', {_dbl_arr_sql(emb[lo:hi])})"
                for cid, emb in seed_rows
            )
            + ")"
        )
        sv = F.slice(F.col("emb"), lo + 1, PQ_SUBDIM)
        best = F.array_min(
            F.transform(
                seeds_lit,
                lambda c: F.struct(
                    _sqdist(sv, c["cemb"]).alias("dist"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        per_s.append(
            F.struct(
                F.lit(sub).alias("s"),
                best["cid"].alias("cid"),
                sv.alias("sv"),
            )
        )
    assigned = (
        _emb_table(spark, d)
        .where(F.col("vec_id") < TRAIN_N)
        .select("vec_id", F.explode(F.array(*per_s)).alias("x"))
        .select("vec_id", "x.s", "x.cid", "x.sv")
    )
    means = assigned.groupBy("s", "cid").agg(
        F.array_sort(
            F.collect_list(F.struct("vec_id", F.col("sv").alias("emb")))
        ).alias("ms")
    )
    trained = means.select(
        "s",
        "cid",
        F.transform(
            F.sequence(F.lit(1), F.lit(PQ_SUBDIM)),
            lambda dim: F.aggregate(
                F.col("ms"),
                F.lit(0.0),
                lambda acc, m: acc + F.element_at(m["emb"], dim),
            )
            / F.size("ms"),
        ).alias("cemb"),
    )
    books = {sub: [] for sub in range(PQ_M)}
    for r in trained.collect():
        books[r["s"]].append((r["cid"], [float(v) for v in r["cemb"]]))
    for sub in books:
        books[sub].sort()
    return books


def _dbl_arr_sql(vals) -> str:
    """SQL array literal of doubles. ``repr`` is Python's shortest
    round-trip form and Spark's ``D``-suffix literal parses it with
    ``Double.parseDouble`` — bit-exact, and ONE ``F.expr`` parse
    instead of hundreds of py4j ``F.lit`` round trips (the literal
    model is ~1k doubles; building it column-by-column dominated the
    operator's wall clock before this)."""
    return "array(" + ",".join(f"{v!r}D" for v in vals) + ")"


#: typed empty-model literals — a 0-row corpus trains 0 centroids, and
#: a bare ``array()`` / ``map()`` literal would be untyped (struct
#: field access fails at analysis); the CASTs keep the empty-partition
#: regime running end-to-end (tests/test_empty_inputs.py)
_CB_ARR_T = "array<struct<cid:bigint,cemb:array<double>>>"
_CB_MAP_T = "map<bigint,array<double>>"


def _cb_arr_expr(rows):
    """Literal ``array<struct<cid,cemb>>`` for a (possibly empty)
    codebook/centroid row list."""
    if not rows:
        return F.expr(f"CAST(array() AS {_CB_ARR_T})")
    return F.expr(
        "array("
        + ",".join(
            f"named_struct('cid', CAST({cid} AS BIGINT), "
            f"'cemb', {_dbl_arr_sql(emb)})"
            for cid, emb in rows
        )
        + ")"
    )


def _pq_codebook_arr(spark: SparkSession, d: str, s: int):
    """Literal ``array<struct<cid,cemb>>`` of subspace ``s``'s trained
    codebook (cid-sorted), for in-row argmin encoding.

    Parsed literal-model Columns are memoized per (application,
    dataset): the centroid/codebook literals are thousands of doubles,
    and re-PARSING the ~60 KB expression text on every query
    construction was measured at ~0.5-0.8 s per k-means-family key at
    sf0.1. A Column is an immutable expression tree, safe to reuse
    across queries within one session."""
    return dataset_memo(
        spark, d, ("pq_arr", s),
        lambda: _cb_arr_expr(_pq_codebook_rows(spark, d, s)),
    )


def _pq_model_df(spark: SparkSession, d: str) -> DataFrame:
    """All four trained PQ codebooks as ONE one-row DataFrame
    (LocalRelation, r13 — same plan-analysis rationale as
    ``_km_centroids_df``): columns ``carr{s}`` (cid-sorted
    array<struct<cid,cemb>>, for in-row argmin encoding) and
    ``kmap{s}`` (map<cid,cemb>, for ADC code → sub-centroid lookup).
    Same memoized training doubles as the literal forms — consumers'
    folds are bit-identical; only the plan representation changes."""
    from pyspark.sql import types as T

    cemb_t = T.ArrayType(T.DoubleType())
    fields, cells = [], []
    for s in range(PQ_M):
        rows = _pq_codebook_rows(spark, d, s)
        fields.append(
            T.StructField(
                f"carr{s}",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("cid", T.LongType()),
                            T.StructField("cemb", cemb_t),
                        ]
                    )
                ),
            )
        )
        cells.append(
            [(int(cid), [float(v) for v in emb]) for cid, emb in rows]
        )
    for s in range(PQ_M):
        rows = _pq_codebook_rows(spark, d, s)
        fields.append(T.StructField(f"kmap{s}", T.MapType(T.LongType(), cemb_t)))
        cells.append(
            {int(cid): [float(v) for v in emb] for cid, emb in rows}
        )
    return spark.createDataFrame([tuple(cells)], T.StructType(fields))


def _pq_codebook_map(spark: SparkSession, d: str, s: int):
    """Literal ``map<cid, cemb>`` of subspace ``s``'s trained codebook,
    for ADC code → sub-centroid lookup (memoized like
    ``_pq_codebook_arr``)."""

    def build():
        rows = _pq_codebook_rows(spark, d, s)
        if not rows:
            return F.expr(f"CAST(map() AS {_CB_MAP_T})")
        cids = ",".join(f"CAST({cid} AS BIGINT)" for cid, _ in rows)
        arrs = ",".join(_dbl_arr_sql(emb) for _, emb in rows)
        return F.expr(f"map_from_arrays(array({cids}), array({arrs}))")

    return dataset_memo(spark, d, ("pq_map", s), build)


@register(
    "pq_encode",
    oracle=f"""
    WITH {_PQ_ALL_CTES}
    SELECT vec_id, c0, c1, c2, c3
    FROM code0 JOIN code1 USING (vec_id)
               JOIN code2 USING (vec_id)
               JOIN code3 USING (vec_id)
    """,
)
def pq_encode(spark: SparkSession, d: str) -> DataFrame:
    """Product-quantization encoder: split each 64-dim embedding into
    4 sub-vectors of 16 dims, train an independent PQ_K-centroid
    codebook per subspace (one deterministic Lloyd iteration over the
    TRAIN_N sample, exactly the ``ivf_kmeans_assign`` recipe), and emit
    each vector's 4 nearest-sub-centroid ids — the 4-byte code that
    replaces a 256-byte vector in a production IVF-PQ index (64×
    memory compression at recall governed by PQ_K/PQ_M).

    Scale (100 TB): codebooks are trained on a bounded sample and
    inlined as literal model state (4 × PQ_K × 16 doubles, see
    ``_pq_codebook_rows``); encoding is ONE narrow pass over the
    corpus computing 4 in-row argmins — no shuffle, no join, the
    same plan an ANN build pipeline runs before writing the code table
    next to the corpus. Exactness: sub-centroid means fold members in
    vec_id order and assignments tie-break on (dist, cid), so codes
    are bit-identical cross-engine."""
    def best_code(carr, sv):
        # factory scope: a plain 1-arg lambda for F.transform (a 2-arg
        # lambda would be read as the (element, index) signature)
        return F.array_min(
            F.transform(
                carr,
                lambda c: F.struct(
                    _sqdist(sv, c["cemb"]).alias("dist"), c["cid"].alias("cid")
                ),
            )
        )

    cols = [F.col("vec_id")]
    for s in range(PQ_M):
        # codebooks ride in as one-row broadcast model state (r13,
        # _pq_model_df) — the literal form re-cost ~0.3 s of plan
        # analysis per consuming query; values identical
        carr = F.col(f"carr{s}")
        sv = F.slice(F.col("emb"), s * PQ_SUBDIM + 1, PQ_SUBDIM)
        cols.append(best_code(carr, sv)["cid"].cast("long").alias(f"c{s}"))
    return (
        _emb_table(spark, d)
        .crossJoin(F.broadcast(_pq_model_df(spark, d)))
        .select(*cols)
    )


def _pq_decoded(spark: SparkSession, d: str) -> DataFrame:
    """``pq_encode``'s codes plus each code's sub-centroid ``k{s}``,
    looked up in the one-row broadcast model (``_pq_model_df``)."""
    codes = pq_encode(spark, d)
    return codes.crossJoin(F.broadcast(_pq_model_df(spark, d))).select(
        *codes.columns,
        *[
            F.element_at(F.col(f"kmap{s}"), F.col(f"c{s}")).alias(f"k{s}")
            for s in range(PQ_M)
        ],
    )


def _pq_query_subs() -> list:
    """The query's exact sub-vectors ``q{s}`` of the rounded ``emb``."""
    return [
        F.slice(F.col("emb"), s * PQ_SUBDIM + 1, PQ_SUBDIM).alias(f"q{s}")
        for s in range(PQ_M)
    ]


def _adc() -> Column:
    """Asymmetric distance: Σ_s ‖q{s} − k{s}‖², added left to right like
    the oracle."""
    return (
        _sqdist(F.col("q0"), F.col("k0"))
        + _sqdist(F.col("q1"), F.col("k1"))
        + _sqdist(F.col("q2"), F.col("k2"))
        + _sqdist(F.col("q3"), F.col("k3"))
    )


@register(
    "ann_pq_adc",
    oracle=f"""
    WITH {_PQ_ALL_CTES},
    codes AS (
      SELECT * FROM code0 JOIN code1 USING (vec_id)
                          JOIN code2 USING (vec_id)
                          JOIN code3 USING (vec_id)
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_PQ_SQ16.format(a="list_slice(q.emb, 1, 16)", b="k0.cemb")}
           + {_PQ_SQ16.format(a="list_slice(q.emb, 17, 32)", b="k1.cemb")}
           + {_PQ_SQ16.format(a="list_slice(q.emb, 33, 48)", b="k2.cemb")}
           + {_PQ_SQ16.format(a="list_slice(q.emb, 49, 64)", b="k3.cemb")}
             AS adist
      FROM e q CROSS JOIN codes c
      JOIN k0 ON k0.cid = c.c0
      JOIN k1 ON k1.cid = c.c1
      JOIN k2 ON k2.cid = c.c2
      JOIN k3 ON k3.cid = c.c3
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    )
    {_topk_sql("scored", score="adist", out="adist", desc=False)}
    """,
)
def ann_pq_adc(spark: SparkSession, d: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ codes: the query
    keeps its exact sub-vectors; every corpus vector is represented
    ONLY by its 4 sub-centroid ids, and the approximate distance is the
    sum of exact-query-to-centroid squared distances — the scoring
    kernel of a production IVF-PQ index (FAISS-style), where the
    corpus-side vectors are never touched after encoding.

    Scale (100 TB): the code table (4 longs/vector) replaces the
    embedding column in the scan; codebooks are literal model state
    (map lookup per code, the relational spelling of FAISS's per-query
    distance table) and queries are broadcast, so scoring is a narrow
    pass and only the per-query top-k window shuffles. Exactness:
    left-to-right addition of four deterministic folds, tie-break on
    neighbor_id."""
    q = _queries(_emb_table(spark, d), *_pq_query_subs())
    scored = (
        _pq_decoded(spark, d)
        .crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), _adc().alias("adist"))
    )
    return _top_k(scored, score="adist", out="adist", desc=False)


@register(
    "ann_ivfpq_topk",
    oracle=f"""
    WITH {_KMEANS_CTES},
    {",".join(_pq_sub_ctes(s) for s in range(PQ_M))},
    codes AS (
      SELECT * FROM code0 JOIN code1 USING (vec_id)
                          JOIN code2 USING (vec_id)
                          JOIN code3 USING (vec_id)
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_PQ_SQ16.format(a="list_slice(q.emb, 1, 16)", b="k0.cemb")}
           + {_PQ_SQ16.format(a="list_slice(q.emb, 17, 32)", b="k1.cemb")}
           + {_PQ_SQ16.format(a="list_slice(q.emb, 33, 48)", b="k2.cemb")}
           + {_PQ_SQ16.format(a="list_slice(q.emb, 49, 64)", b="k3.cemb")}
             AS adist
      FROM e q
      JOIN acell qa ON qa.vec_id = q.vec_id
      JOIN acell ca ON ca.cell = qa.cell
      JOIN codes c ON c.vec_id = ca.vec_id AND c.vec_id <> q.vec_id
      JOIN k0 ON k0.cid = c.c0
      JOIN k1 ON k1.cid = c.c1
      JOIN k2 ON k2.cid = c.c2
      JOIN k3 ON k3.cid = c.c3
      WHERE q.vec_id < {N_QUERIES}
    )
    {_topk_sql("scored", score="adist", out="adist", desc=False)}
    """,
)
def ann_ivfpq_topk(spark: SparkSession, d: str) -> DataFrame:
    """The full IVF-PQ index pipeline (the FAISS ``IVFx,PQy`` shape
    production vector search actually deploys): coarse k-means cells
    prune the candidate set to the query's cell (nprobe=1, from the
    SAME trained quantizer as ``ann_ivf_kmeans_topk``), then
    asymmetric-distance scoring over the 4-byte PQ codes ranks the
    survivors — the corpus embeddings are never touched at query time,
    only the code table and two broadcast-sized trained structures.

    Scale (100 TB): the code table is laid out partitioned by cell, so
    cell probing is partition pruning over a table 64× smaller than
    the embeddings; ADC scoring is the same narrow literal-codebook
    lookup pass as ``ann_pq_adc``; only the per-query top-k window
    shuffles
    (candidate-sized, not corpus-sized). Exactness: both trained
    structures reuse their operators' deterministic recipes, so every
    adist is bit-identical cross-engine."""
    cells = _kmeans_assignment(spark, d).select("vec_id", "cell")
    corpus = _pq_decoded(spark, d).join(cells, "vec_id")
    q = _queries(
        _emb_table(spark, d).join(cells.withColumnRenamed("cell", "q_cell"), "vec_id"),
        "q_cell",
        *_pq_query_subs(),
    )
    scored = corpus.join(
        F.broadcast(q),
        (F.col("cell") == F.col("q_cell")) & (F.col("query_id") != F.col("vec_id")),
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), _adc().alias("adist"))
    return _top_k(scored, score="adist", out="adist", desc=False)


# --- radius (range) search -------------------------------------------

#: cosine radius for range search. The synthetic embeddings are
#: near-orthogonal random vectors (max query-corpus cosine ≈ 0.40 at
#: sf0.01), so the radius sits where a real recall set exists.
RANGE_RADIUS = 0.3


@register(
    "ann_range_search",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm
      FROM embeddings
    )
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND({DUCK_DOT.format(a="q.embedding", b="c.embedding")}
                 / (q.nrm * c.nrm), 6) AS cosine
    FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    WHERE {DUCK_DOT.format(a="q.embedding", b="c.embedding")}
          / (q.nrm * c.nrm) >= {RANGE_RADIUS}
    """,
)
def ann_range_search(spark: SparkSession, d: str) -> DataFrame:
    """Radius (range) search: every corpus vector within cosine ≥
    RANGE_RADIUS of each query — the "all neighbors in range" twin of
    top-k, used for dedup sweeps and recall-set construction where k
    is unknown a priori.

    Scale: identical posture to ann_cosine_topk — queries broadcast,
    corpus scanned once, scoring is a JVM fold, and (unlike top-k) no
    window at all: the radius predicate filters map-side, so the
    operator is a pure narrow scan with zero shuffle. Cell-pruned
    variants (ann_ivf_*) apply unchanged when the radius is tight
    enough that probed cells bound the recall set."""
    e = corpus_table(spark, d)
    cos = cosine()
    return (
        e.join(F.broadcast(_query_frame(e)), F.col("query_id") != F.col("vec_id"))
        .where(cos >= RANGE_RADIUS)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cosine"),
        )
    )


@register(
    "embed_quantize_sq8",
    oracle="""
    WITH flat AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), stats AS (
      SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM flat GROUP BY dim
    )
    SELECT f.vec_id, f.dim,
           CASE WHEN s.mx > s.mn
                THEN CAST(FLOOR((f.x - s.mn) / (s.mx - s.mn)
                                * CAST(255.0 AS DOUBLE)
                                + CAST(0.5 AS DOUBLE)) AS INTEGER)
                ELSE 0 END AS code
    FROM flat f JOIN stats s ON s.dim = f.dim
    """,
)
def embed_quantize_sq8(spark: SparkSession, d: str) -> DataFrame:
    """Scalar (int8) quantization of the embedding corpus: per-
    dimension min/max over the whole corpus, then each value mapped to
    a 0..255 code — the SQ8 storage codec every large vector store
    offers (4× smaller than float32, trivially SIMD-decodable), and
    the third member of the quantization family next to ``pq_encode``
    (subspace codebooks) and ``ivf_kmeans_assign`` (coarse cells).

    Plan: one narrow posexplode pass feeds ONE map-side-combinable
    min/max aggregate (64 rows out — broadcast back), then the code
    assignment is a second narrow pass: at 100 TB the corpus shuffles
    ZERO times, the only exchange is the 64-row stats table. Rounding
    is floor(u*255 + 0.5) rather than round() because round()'s
    half-even vs half-up tie policy differs across engines while
    floor() is exact everywhere; every preceding op (float→double
    cast, subtract, divide, multiply) is exactly rounded IEEE, so
    codes are bit-identical cross-engine. Degenerate constant
    dimensions (mx == mn) pin to code 0 instead of dividing by zero."""
    flat = load(spark, d, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("x").cast("double").alias("x"),
    )
    stats = flat.groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    u = (F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn"))
    return flat.join(F.broadcast(stats), "dim").select(
        "vec_id",
        "dim",
        F.when(
            F.col("mx") > F.col("mn"),
            F.floor(u * F.lit(255.0) + F.lit(0.5)).cast("int"),
        )
        .otherwise(F.lit(0))
        .alias("code"),
    )


# ---------------------------------------------------------------------------
# PCA by deterministic power iteration (top principal component)
# ---------------------------------------------------------------------------

#: power-iteration budget: enough to separate PC1 on this corpus while
#: keeping the unrolled oracle readable; the start vector is the exact
#: dyadic 1/8 = 1/sqrt(64) so v0 is unit-norm with no sqrt involved
PCA_ITERS = 3
_PCA_V0 = 0.125

_PCA_DOT_V = """
  list_reduce(list_prepend(CAST(0 AS DOUBLE),
    list_transform(range(1, 65), i -> ({x}[i] - mu[i]) * {v}[i])),
    (acc, v) -> acc + v)
"""


def _pca_oracle() -> str:
    """Unrolled-CTE oracle for ``pca_power_top1``: per-dim DECIMAL
    means, then PCA_ITERS power-iteration rounds, each one = per-row
    score t (sequential fold) → per-dim sums of t·centered → normalize
    by the dim-ordered sequential norm fold. Per-dim sums quantize via
    ``FLOOR(x·10¹² + 0.5)`` — floor reads the exact binary double in
    BOTH engines, whereas a double→DECIMAL cast does not (Spark rounds
    the shortest-repr string, DuckDB the exact binary; they disagree
    at half-boundaries) — then add exactly as DECIMAL(38,0). Every
    derived quantity is IEEE double arithmetic in a fixed fold order,
    so the driver-loop Spark implementation reproduces the oracle
    bit-for-bit. The round CTEs are MATERIALIZED: DuckDB inlines a
    plain CTE at every reference, and a round referenced twice would
    re-expand the whole chain below it (the unmaterialized top-2 chain
    ran out of memory at 6 GB)."""
    parts = [
        """
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ), dims AS (SELECT unnest(range(1, 65)) AS dim),
    mu_long AS (
      SELECT dim,
             CAST(SUM(CAST(FLOOR(emb[dim] * 1000000000000 + 0.5)
                           AS DECIMAL(38,0))) AS DOUBLE)
               / COUNT(*) / 1000000000000.0 AS m
      FROM e, dims GROUP BY dim
    ), mu_t AS MATERIALIZED (SELECT list(m ORDER BY dim) AS mu FROM mu_long),
    v0_t AS (SELECT list_transform(range(1, 65), i -> 0.125) AS v FROM (SELECT 1))
    """
    ]
    prev = "v0_t"
    for k in range(1, PCA_ITERS + 1):
        parts.append(
            f"""
    , t{k} AS MATERIALIZED (
      SELECT vec_id, {_PCA_DOT_V.format(x="emb", v="v")} AS t
      FROM e, mu_t, {prev}
    ), s{k}_long AS (
      SELECT dim,
             CAST(SUM(CAST(FLOOR(t * (emb[dim] - mu[dim]) * 1000000000000
                                 + 0.5) AS DECIMAL(38,0)))
                  AS DOUBLE) / 1000000000000.0 AS s
      FROM e JOIN t{k} USING (vec_id), mu_t, dims
      GROUP BY dim
    ), s{k}_t AS MATERIALIZED (
      SELECT list(s ORDER BY dim) AS sv FROM s{k}_long
    ),
    n{k}_t AS (
      SELECT sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(sv, x -> x * x)), (acc, v) -> acc + v)) AS nrm
      FROM s{k}_t
    ), v{k}_t AS MATERIALIZED (
      SELECT list_transform(sv, x -> x / nrm) AS v FROM s{k}_t, n{k}_t
    )
    """
        )
        prev = f"v{k}_t"
    parts.append(
        f"""
    SELECT vec_id, {_PCA_DOT_V.format(x="emb", v="v")} AS pc1
    FROM e, mu_t, {prev}
    """
    )
    return "".join(parts)


def _pca_corpus(spark: SparkSession, d: str) -> DataFrame:
    """Cached double-cast embedding corpus shared by the PCA training
    passes and the final scoring query (same materialization-barrier
    rationale as ``corpus_table`` / ``_token_table``).

    Repartitioned by vec_id to the session's core count before the
    cache (r13 — same compute-density rationale as ``_emb_table`` /
    ``corpus_table``): the few-MB corpus inherits the source's ONE
    parquet split, so every training round's fold+posexplode+partial
    aggregate and the final scoring pass ran on 1 of 32 cores. Values
    untouched: the per-dim sums are floor-quantized exact integers
    (order-independent) and every per-row quantity is row-local."""
    par = spark.sparkContext.defaultParallelism
    return dataset_memo(
        spark, d, "pca_corpus",
        lambda: (
            load(spark, d, "embeddings")
            .select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("emb"),
            )
            .repartition(par, "vec_id")
            .cache()
        ),
    )


def _pca_model(spark: SparkSession, d: str):
    """The trained top-1 model (mu, v), once per (application,
    dataset)."""
    return dataset_memo(spark, d, "pca", lambda: _train_pca(spark, d))


def _train_pca(spark: SparkSession, d: str):
    """Train (mu, v) by PCA_ITERS power-iteration rounds — the
    kmeans_train pattern applied to linear algebra: each round is two
    distributed passes (per-row score fold, per-dim DECIMAL sums of
    t·centered) plus an O(64) driver normalization; the model state
    collected per round is 64 doubles, independent of corpus size."""
    # cached: the training loop re-reads this corpus 1 + PCA_ITERS
    # times (mu pass + one s pass per round) and the scoring query
    # reads it once more — without the cache every pass re-scans the
    # parquet and re-casts 64 floats/row (measured ~40% of the
    # operator's bench time). Spark's CacheManager also shares this
    # exact plan with the final scoring select below.
    e = _pca_corpus(spark, d)
    # per-dim sums stay posexplode + groupBy(pos): a 64-wide single-row
    # aggregate (one decimal SUM column per dim) was tried and measured
    # ~50% SLOWER at sf0.1 — 64 independent element_at+floor+decimal
    # aggregate expressions blow up codegen per round, while the
    # exploded shape is one tight generated loop and a 64-key exchange
    # whose volume (64 rows × partials) is corpus-size-independent.
    flat = e.select("vec_id", F.posexplode("emb").alias("pos", "x"))
    mu_rows = (
        flat.groupBy("pos")
        .agg(
            (
                F.sum(
                    F.floor(F.col("x") * F.lit(1_000_000_000_000) + F.lit(0.5))
                    .cast("decimal(38,0)")
                ).cast("double")
                / F.count("*")
                / F.lit(1_000_000_000_000.0)
            ).alias("m")
        )
        .collect()
    )
    mu = [0.0] * 64
    for r in mu_rows:
        mu[r["pos"]] = r["m"]
    v = [_PCA_V0] * 64
    for _ in range(PCA_ITERS):
        mu_arr = F.array(*[F.lit(m) for m in mu])
        v_arr = F.array(*[F.lit(x) for x in v])
        centered = F.zip_with(F.col("emb"), mu_arr, lambda x, m: x - m)
        t = F.aggregate(
            F.zip_with(centered, v_arr, lambda c, w: c * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        s_rows = (
            e.select(t.alias("t"), F.posexplode(centered).alias("pos", "c"))
            .groupBy("pos")
            .agg(
                (
                    F.sum(
                        F.floor(
                            F.col("t") * F.col("c") * F.lit(1_000_000_000_000)
                            + F.lit(0.5)
                        ).cast("decimal(38,0)")
                    ).cast("double")
                    / F.lit(1_000_000_000_000.0)
                ).alias("s")
            )
            .collect()
        )
        s = [0.0] * 64
        for r in s_rows:
            s[r["pos"]] = r["s"]
        acc = 0.0
        for x in s:  # dim-ordered fold, mirroring the oracle's list_reduce
            acc += x * x
        nrm = acc**0.5
        v = [x / nrm for x in s]
    return mu, v


@register("pca_power_top1", oracle=_pca_oracle())
def pca_power_top1(spark: SparkSession, d: str) -> DataFrame:
    """Top-principal-component scores by deterministic power iteration
    — dimensionality reduction / outlier axis for embedding-space
    corpus analysis, trained INSIDE the engine (no eigensolver): v ←
    normalize(Cv) without ever materializing the 64×64 covariance —
    each round touches the corpus twice (row scores, per-dim sums),
    map-side-combinable, with 64 doubles of driver state. Exactness
    across engines: per-dim sums floor-quantize to a 10⁻¹² grid
    (exact-binary in both engines, unlike a double→DECIMAL cast) and
    add as DECIMAL(38,0); every derived quantity is IEEE arithmetic in
    a fixed fold order, so scores match the unrolled-CTE oracle
    bit-for-bit. At 100 TB: per round one narrow pass + one 64-row
    shuffle — the same cost envelope as ``embed_centroid``."""
    mu, v = _pca_model(spark, d)
    e = _pca_corpus(spark, d)
    mu_arr = F.array(*[F.lit(m) for m in mu])
    v_arr = F.array(*[F.lit(x) for x in v])
    centered = F.zip_with(F.col("emb"), mu_arr, lambda x, m: x - m)
    pc1 = F.aggregate(
        F.zip_with(centered, v_arr, lambda c, w: c * w),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select("vec_id", pc1.alias("pc1"))


@register(
    "ann_recall_eval",
    oracle=f"""
    WITH exact AS ({{exact}}),
         approx AS ({{approx}})
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*) AS recall_at_k
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """.format(
        exact=ORACLES["ann_cosine_topk"], approx=ORACLES["ann_ivf_kmeans_topk"]
    ),
)
def ann_recall_eval(spark: SparkSession, d: str) -> DataFrame:
    """Index-quality evaluation: recall@k of the trained-IVF index
    against the brute-force ground truth, per query — the metric that
    decides nprobe/K_CELLS for a production vector index. Composition
    of two registered operators (their cached corpus/centroid tables
    are shared, so the corpus is scanned once): ground truth left-
    joins the approximate result on (query, neighbor) and the hit
    count divides by k. Both inputs are ≤ queries×k rows, so the
    evaluation join is broadcast-trivial no matter the corpus size —
    evaluating an index over 100 TB costs exactly the two searches."""
    exact = ann_cosine_topk(spark, d).select(
        "query_id", F.col("neighbor_id").alias("en")
    )
    approx = ann_ivf_kmeans_topk(spark, d).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    j = exact.join(
        F.broadcast(approx),
        (F.col("query_id") == F.col("aq")) & (F.col("en") == F.col("an")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("*").alias("n_exact"),
        F.count("an").alias("n_hit"),
        (F.count("an").cast("double") / F.count("*")).alias("recall_at_k"),
    )


@register(
    "ann_mrr_eval",
    oracle="""
    WITH exact AS ({exact}),
         approx AS ({approx}),
         truth AS (
           SELECT query_id, neighbor_id AS true_neighbor
           FROM exact WHERE rank = 1
         )
    SELECT t.query_id, t.true_neighbor,
           CAST(COALESCE(a.rank, 0) AS BIGINT) AS found_rank,
           COALESCE(1.0 / a.rank, 0.0) AS reciprocal_rank
    FROM truth t
    LEFT JOIN approx a
      ON a.query_id = t.query_id AND a.neighbor_id = t.true_neighbor
    """.format(
        exact=ORACLES["ann_cosine_topk"], approx=ORACLES["ann_ivf_kmeans_topk"]
    ),
)
def ann_mrr_eval(spark: SparkSession, d: str) -> DataFrame:
    """Mean-reciprocal-rank companion to ``ann_recall_eval``: where
    recall@k asks "how much of the true top-k did the index return",
    MRR asks "where did the index put THE true nearest neighbor" — the
    metric that penalizes an index that finds the right answers in the
    wrong order. Relevance = the brute-force rank-1 neighbor;
    reciprocal rank is a pure function of integer ranks (one IEEE
    division), so the evaluation is exact by construction. Same scale
    shape as the recall eval: two index searches + a queries-sized
    broadcast join."""
    truth = (
        ann_cosine_topk(spark, d)
        .where(F.col("rank") == 1)
        .select("query_id", F.col("neighbor_id").alias("true_neighbor"))
    )
    approx = ann_ivf_kmeans_topk(spark, d).select(
        F.col("query_id").alias("aq"),
        F.col("neighbor_id").alias("an"),
        F.col("rank").alias("found_rank"),
    )
    return (
        truth.join(
            F.broadcast(approx),
            (F.col("query_id") == F.col("aq"))
            & (F.col("true_neighbor") == F.col("an")),
            "left",
        )
        .select(
            "query_id",
            "true_neighbor",
            # 0 = "true neighbor not in the index's top-k": keeps the
            # column integral end to end (a NULL here materializes as
            # pandas float64 on the oracle side — the dtype-bomb class
            # the grading-dtype test guards)
            F.coalesce(F.col("found_rank"), F.lit(0).cast("long")).alias(
                "found_rank"
            ),
            F.coalesce(
                F.lit(1.0) / F.col("found_rank"), F.lit(0.0)
            ).alias("reciprocal_rank"),
        )
    )


#: Matryoshka (MRL) truncation width: cosine over the first 16 of 64
#: dimensions — the memory/recall trade production embedding stores
#: increasingly rely on (truncate + re-rank)
MRL_DIM = 16

_DUCK_DOT_MRL = f"""
  list_reduce(list_prepend(CAST(0 AS DOUBLE),
    list_transform(range(1, {MRL_DIM + 1}),
      i -> CAST({{a}}[i] AS DOUBLE) * CAST({{b}}[i] AS DOUBLE))),
    (acc, v) -> acc + v)
"""


@register(
    "ann_matryoshka_eval",
    oracle=f"""
    WITH exact AS ({{exact}}),
    t AS (
      SELECT vec_id, embedding,
             sqrt({_DUCK_DOT_MRL.format(a="embedding", b="embedding")}) AS tn
      FROM embeddings
    ), tscored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_DUCK_DOT_MRL.format(a="q.embedding", b="c.embedding")}
               / (q.tn * c.tn) AS cos
      FROM t q JOIN t c ON q.vec_id < {{nq}} AND q.vec_id <> c.vec_id
    ), trunc AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
        FROM tscored
      ) WHERE rank <= {{k}}
    )
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hit,
           CAST(COUNT(t.neighbor_id) AS DOUBLE) / COUNT(*) AS recall_at_k
    FROM exact e
    LEFT JOIN trunc t
      ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """.format(
        exact=ORACLES["ann_cosine_topk"], nq=N_QUERIES, k=TOP_K
    ),
)
def ann_matryoshka_eval(spark: SparkSession, d: str) -> DataFrame:
    """Matryoshka-truncation evaluation: recall@k when cosine runs on
    only the first {MRL_DIM} of 64 dimensions, judged against the
    full-dimension ground truth — the measurement behind the
    truncate-then-rerank serving pattern (4× less vector memory and
    bandwidth if recall holds; this query is the evidence either way).
    The truncated search is the same broadcast-queries + JVM-fold +
    window plan as ``ann_cosine_topk``, just over a prefix slice — at
    100 TB the prefix lives as its own (4× smaller) column, so the
    scan reads a quarter of the bytes."""
    e = load(spark, d, "embeddings").select(
        "vec_id", F.slice("embedding", 1, MRL_DIM).alias("emb16")
    ).withColumn(
        "tn", F.sqrt(dot(F.col("emb16"), F.col("emb16")))
    )
    q = _queries(e, F.col("emb16").alias("q_emb"), F.col("tn").alias("q_tn"))
    scored = e.join(
        F.broadcast(q), F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine("q_emb", "q_tn", "emb16", "tn").alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    trunc = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(F.col("query_id").alias("tq"), F.col("neighbor_id").alias("tn_id"))
    )
    exact = ann_cosine_topk(spark, d).select(
        "query_id", F.col("neighbor_id").alias("en")
    )
    j = exact.join(
        F.broadcast(trunc),
        (F.col("query_id") == F.col("tq")) & (F.col("en") == F.col("tn_id")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("*").alias("n_exact"),
        F.count("tn_id").alias("n_hit"),
        (F.count("tn_id").cast("double") / F.count("*")).alias("recall_at_k"),
    )


@register(
    "dedup_semantic_keep",
    oracle=f"""
    WITH {_KMEANS_CTES},
    raw AS (
      SELECT vec_id, embedding,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm
      FROM embeddings
    ), j AS (
      SELECT r.vec_id, r.embedding, r.nrm, a.cell
      FROM raw r JOIN acell a USING (vec_id)
    ), pairs AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM j a JOIN j b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {DUCK_DOT.format(a="a.embedding", b="b.embedding")}
            / (a.nrm * b.nrm) >= {IVF_COSINE_THRESHOLD}
    )
    {_CC_TAIL_CTE}
    SELECT node AS vec_id, cluster_id,
           (node = cluster_id) AS is_survivor
    FROM lp
    """,
)
def dedup_semantic_keep(spark: SparkSession, d: str) -> DataFrame:
    """SemDeDup-style semantic dedup survivor selection: k-means-cell
    blocked cosine near-dup pairs (``dedup_embedding_kmeans``) →
    connected components (the shared min-label propagation loop from
    ops.dedup) → keep the min-id vector per semantic cluster. This is
    the embedding-space analogue of the lexical shingle path
    (signatures → pairs → components → survivors): the pre-train
    pipeline drops everything with is_survivor = false.

    Scale: pair generation is per-cell (co-located self-join, never
    global), components run one keyed shuffle per round over the
    pair-graph nodes only (near-dup nodes, a small fraction of the
    corpus), and the survivor bit is a projection of the converged
    labeling. The oracle replays cells + pairs + a recursive-CTE
    fixpoint, so the check stays value-exact.

    SCALE PIN (round-7 probe): inherits ``dedup_embedding_kmeans``'s
    stress-layout quadratic — the probe layout is 10 IDENTICAL copies
    of every embedding, so each k-means cell gets 10x denser and the
    per-cell pair product grows 100x (~280 s vs ~8 s at sf0.1). Same
    verdict as the kmeans op: the IVF dedup shape, not a plan bug —
    production grows nlist with the corpus (sqrt(N)), keeping cell
    populations bounded."""
    pairs = dedup_embedding_kmeans(spark, d).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return _cc_min_label(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "is_survivor"
    )


@register(
    "ann_filtered_topk",
    oracle=f"""
    WITH {_KMEANS_CTES},
    raw AS (
      SELECT vec_id, label, embedding,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm
      FROM embeddings
    ), j AS (
      SELECT r.vec_id, r.label, r.embedding, r.nrm, a.cell
      FROM raw r JOIN acell a USING (vec_id)
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
             {DUCK_DOT.format(a="q.embedding", b="c.embedding")}
               / (q.nrm * c.nrm) AS cos
      FROM j q JOIN j c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
                        AND q.cell = c.cell AND c.label = q.label
    )
    {_topk_sql("scored", extra="CAST(label AS INT) AS label, ")}
    """,
)
def ann_filtered_topk(spark: SparkSession, d: str) -> DataFrame:
    """FILTERED vector search — top-k cosine among candidates that
    also satisfy a metadata predicate (here: share the query's label),
    the constrained-retrieval shape every production vector store has
    to solve ("nearest products IN THIS CATEGORY"). This is the
    PRE-filter strategy: the predicate rides INTO the IVF cell scan as
    one more pushable conjunct, so top-k is taken over the filtered
    set and always returns k true matches when they exist — vs
    post-filtering a plain ANN result, which silently under-returns
    when the predicate is selective (the classic filtered-ANN
    recall trap). At 100 TB the corpus is laid out by (cell, label)
    and the filter becomes partition pruning on top of cell probing;
    the query set stays a broadcast."""
    cells = _kmeans_assignment(spark, d).select("vec_id", "cell")
    # corpus_table already carries label (the metadata column)
    e = corpus_table(spark, d).join(cells, "vec_id")
    q = _query_frame(
        e, F.col("cell").alias("q_cell"), F.col("label").alias("q_label")
    )
    scored = e.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("vec_id"))
        & (F.col("q_cell") == F.col("cell"))
        & (F.col("label") == F.col("q_label")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "label",
        cosine().alias("cos"),
    )
    return _top_k(scored, F.col("label").cast("int").alias("label"))


@register(
    "ann_hard_negatives",
    oracle=f"""
    WITH {_KMEANS_CTES},
    raw AS (
      SELECT vec_id, label, embedding,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm
      FROM embeddings
    ), j AS (
      SELECT r.vec_id, r.label, r.embedding, r.nrm, a.cell
      FROM raw r JOIN acell a USING (vec_id)
    ), scored AS (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             c.vec_id AS negative_id, c.label AS negative_label,
             {DUCK_DOT.format(a="q.embedding", b="c.embedding")}
               / (q.nrm * c.nrm) AS cos
      FROM j q JOIN j c ON q.vec_id < {N_QUERIES}
                        AND q.cell = c.cell AND c.label <> q.label
    )
    SELECT query_id, CAST(query_label AS INT) AS query_label,
           negative_id, CAST(negative_label AS INT) AS negative_label,
           ROUND(cos, 6) AS cosine, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, negative_id) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    """,
)
def ann_hard_negatives(spark: SparkSession, d: str) -> DataFrame:
    """HARD-NEGATIVE mining — the contrastive-training data op: for
    each anchor, the nearest vectors with a DIFFERENT label (the
    negatives most likely to confuse the model, which is exactly why
    they make the best training pairs for embedding models / rerankers
    — random negatives are too easy and teach nothing). The inverted
    twin of ``ann_filtered_topk``: the metadata predicate EXCLUDES the
    anchor's own class inside the IVF cell scan, so the top-k is taken
    over true negatives only (self-exclusion is free — the anchor
    shares its own label). Same scale posture: broadcast anchors ride
    into the cell-blocked scan; at 100 TB the (cell, label) layout
    prunes before the dot products."""
    cells = _kmeans_assignment(spark, d).select("vec_id", "cell")
    e = corpus_table(spark, d).join(cells, "vec_id")
    q = _queries(
        e,
        F.col("label").alias("query_label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("cell").alias("q_cell"),
    )
    scored = e.join(
        F.broadcast(q),
        (F.col("q_cell") == F.col("cell"))
        & (F.col("label") != F.col("query_label")),
    ).select(
        "query_id",
        F.col("query_label").cast("int").alias("query_label"),
        F.col("vec_id").alias("negative_id"),
        F.col("label").cast("int").alias("negative_label"),
        cosine().alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "query_label",
            "negative_id",
            "negative_label",
            F.round("cos", 6).alias("cosine"),
            "rank",
        )
    )


#: shared CTE: per-label centroid arrays (dim-ordered) + member counts.
#: Same pico-integer + VARCHAR-mediated-cast recipe as the
#: ``embed_centroid`` oracle (r12): floor-lifted integer sums sidestep
#: the engine-split double->DECIMAL quantization, and the decimal
#: renders through VARCHAR because DuckDB's direct decimal->double cast
#: is up to 1 ulp off past 2^53.
_CARR_CTE = """
    flat AS (
      SELECT label,
             CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1e12 + 0.5)
                  AS BIGINT) AS pv
      FROM embeddings
    ), cent AS (
      SELECT label, dim,
             CAST(CAST(SUM(CAST(pv AS DECIMAL(38,0))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*) / 1e12
               AS centroid
      FROM flat GROUP BY label, dim
    ), carr AS (
      SELECT label, list(centroid ORDER BY dim) AS c
      FROM cent GROUP BY label
    )
"""

_DUCK_D2 = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(range(1, len({a}) + 1), "
    "i -> (CAST({a}[i] AS DOUBLE) - {b}[i]) "
    "* (CAST({a}[i] AS DOUBLE) - {b}[i]))), (acc, v) -> acc + v)"
)


@register(
    "embed_class_separation",
    oracle=f"""
    WITH {_CARR_CTE},
    memb AS (
      SELECT e.label,
             {_DUCK_D2.format(a="e.embedding", b="carr.c")} AS dd
      FROM embeddings e JOIN carr USING (label)
    ), intra AS (
      SELECT label, COUNT(*) AS n_vectors,
             SUM(CAST(floor(dd * 1000000) AS BIGINT)) AS s_micros
      FROM memb GROUP BY label
    ), cpairs AS (
      SELECT a.label, b.label AS other,
             {_DUCK_D2.format(a="a.c", b="b.c")} AS cd2
      FROM carr a JOIN carr b ON a.label <> b.label
    ), nearest AS (
      SELECT label, other, cd2,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY cd2, other) AS rn
      FROM cpairs
    )
    SELECT CAST(i.label AS INT) AS label,
           CAST(i.n_vectors AS BIGINT) AS n_vectors,
           ROUND(CAST(i.s_micros AS DOUBLE) / 1000000.0 / i.n_vectors, 6)
             AS intra_msd,
           CAST(n.other AS INT) AS nearest_label,
           ROUND(n.cd2, 6) AS inter_d2,
           ROUND(n.cd2 / (CAST(i.s_micros AS DOUBLE) / 1000000.0
                          / i.n_vectors), 6) AS separation
    FROM intra i JOIN nearest n ON i.label = n.label AND n.rn = 1
    """,
)
def embed_class_separation(spark: SparkSession, d: str) -> DataFrame:
    """Embedding-space health audit: per class, the mean SQUARED
    distance of members to their own centroid (intra-class spread) vs
    the squared distance to the NEAREST other centroid (inter-class
    margin) — separation = inter/intra, the one number that predicts
    whether a nearest-centroid classifier (or IVF cells keyed on
    labels) will work before anything is trained; classes whose
    nearest margin is inside their own spread are the confusion pairs.

    Exactness: centroids are DECIMAL-mean doubles (identical both
    engines); each member's d² folds IN-ROW over the dim-ordered
    zip (sequential left fold — same add order everywhere) and is
    floor-quantized to integer micros BEFORE the per-class sum, the
    repo's order-independence recipe; centroid-to-centroid d² is the
    same deterministic fold over the 10×10 centroid grid.

    Scale: one 640-row centroid aggregate, centroid arrays broadcast
    back over the corpus (one narrow pass, one shuffle on label for
    the intra sums); the centroid-pair grid is model-state."""
    cent = embed_centroid(spark, d).select("label", "dim", "centroid")
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
            lambda t: t.getField("centroid"),
        ).alias("c")
    )
    e = load(spark, d, "embeddings")
    dd = F.aggregate(
        F.zip_with(
            "embedding",
            "c",
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    intra = (
        e.join(F.broadcast(carr), "label")
        .select("label", F.floor(dd * 1000000).cast("long").alias("ddm"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.sum("ddm").alias("s_micros"),
        )
    )
    a = carr.select(F.col("label").alias("la"), F.col("c").alias("ca"))
    b = carr.select(F.col("label").alias("lb"), F.col("c").alias("cb"))
    cd2 = F.aggregate(
        F.zip_with("ca", "cb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    wr = Window.partitionBy("la").orderBy("cd2", "lb")
    nearest = (
        a.join(F.broadcast(b), F.col("la") != F.col("lb"))
        .select("la", "lb", cd2.alias("cd2"))
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
    )
    msd = F.col("s_micros").cast("double") / 1000000.0 / F.col("n_vectors")
    return (
        intra.join(nearest, intra["label"] == nearest["la"])
        .select(
            F.col("label").cast("int").alias("label"),
            "n_vectors",
            F.round(msd, 6).alias("intra_msd"),
            F.col("lb").cast("int").alias("nearest_label"),
            F.round("cd2", 6).alias("inter_d2"),
            F.round(F.col("cd2") / msd, 6).alias("separation"),
        )
    )


@register(
    "embed_norm_outliers",
    oracle=f"""
    WITH nrm AS (
      SELECT vec_id, label,
             ROUND(sqrt({DUCK_DOT.format(a="embedding", b="embedding")}),
                   6) AS nrm
      FROM embeddings
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY nrm, vec_id) AS rn,
             COUNT(*) OVER () AS n
      FROM nrm
    ), med AS (
      SELECT MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                      THEN nrm END) AS m
      FROM ranked
    )
    SELECT r.vec_id, CAST(r.label AS INT) AS label, r.nrm,
           ROUND(r.nrm / med.m, 6) AS norm_ratio,
           r.nrm < 0.5 * med.m OR r.nrm > 2.0 * med.m AS is_broken
    FROM ranked r, med
    """,
)
def embed_norm_outliers(spark: SparkSession, d: str) -> DataFrame:
    """Embedding-norm health gate: vectors whose L2 norm sits far from
    the corpus median (>2× or <0.5×) are almost always PIPELINE
    failures — truncated reads, zero-padded batches, double-applied
    normalization — not unusual content, and they poison cosine
    retrieval (a near-zero norm turns the denominator into noise).
    The median is a DISCRETE order statistic (rn = ceil(n/2), the
    ``anomaly_iqr`` recipe) over 6-dp-rounded norms, so both engines
    pick the identical pivot; every vector is scored against it.

    Scale: one narrow norm pass; the median order statistic runs on
    the DISTRIBUTED global-ranking recipe (range shuffle +
    per-partition windows + O(#partitions) driver offsets — the
    vector table is corpus-sized, so a single-partition sort would be
    a real bottleneck); the broadcast pivot scores the corpus
    in-place."""
    from pro_etl_spark.ops.analytics import _global_running_sums

    e = corpus_table(spark, d).select(
        "vec_id", "label", F.round("nrm", 6).alias("nrm")
    )
    ranked, (n_rows,) = _global_running_sums(
        e.withColumn("_one", F.lit(1).cast("long")),
        ["nrm", "vec_id"],
        ["_one"],
        with_totals=True,
    )
    ranked = ranked.withColumnRenamed("run__one", "rn")
    # COUNT(*) == the running-_one fold's final accumulator; literal
    # re-entry saves a second norm pass over the corpus table
    n_tot = spark.createDataFrame([(n_rows,)], "n long")
    med = (
        ranked.crossJoin(F.broadcast(n_tot))
        .agg(
            F.max(
                F.when(
                    F.col("rn") == F.ceil(0.5 * F.col("n")).cast("long"),
                    F.col("nrm"),
                )
            ).alias("m")
        )
    )
    return (
        e.crossJoin(F.broadcast(med))
        .select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            "nrm",
            F.round(F.col("nrm") / F.col("m"), 6).alias("norm_ratio"),
            (
                (F.col("nrm") < 0.5 * F.col("m"))
                | (F.col("nrm") > 2.0 * F.col("m"))
            ).alias("is_broken"),
        )
    )


# --- SRP-LSH (signed random projections / hyperplane LSH) ---------------
#: 32 hyperplanes over the 64-dim embeddings, banded 4x8: two vectors
#: collide in a band when all 8 sign bits agree; P[bit agrees] =
#: 1 - angle/pi, so an 8-bit band hits at cos-similarity 0.35
#: (angle ~ 0.386*pi) with p ~ 0.61^8 ~ 2% per band, ~8% over 4
#: bands — recall is recovered by adding BANDS, precision by adding
#: BITS. Round-8 widening (was 4x4 = 16 buckets/band): with only 16
#: buckets a band bucket holds N/16 vectors in expectation, so the
#: candidate join was Θ(N²/32) BY CONSTRUCTION (round-7 probe: ~30×
#: work at 10× data). 8 bits = 256 buckets/band plus the
#: SRP_MAX_BUCKET stop-bucket cap below bounds per-bucket fan-out the
#: same way the MinHash-LSH path does (dedup.MAX_BUCKET).
SRP_NPROJ = 48
SRP_BANDS = 4
#: per-band bit BUDGET (projection layout stride): band b reads
#: projections [b*SRP_MAX_BITS, b*SRP_MAX_BITS + bits) — the ACTIVE
#: bit count scales with the corpus (see _srp_bits / the bitsk CTE)
#: so the expected bucket size stays ~= sqrt(N): bits = the smallest
#: k in [4, 12] with 2^k >= ceil(sqrt(N)). Candidate volume is then
#: O(bands * N * sqrt(N)) at every scale, and recall at small N no
#: longer pays big-N bit widths (the round-8 static-8-bit widening
#: fixed the probe but cut tiny-corpus recall to ~0.09; adaptive bits
#: restore ~0.3+ at test scale with the SAME big-N cost).
SRP_MAX_BITS = 12
SRP_MIN_BITS = 4


def _srp_bits_of(n: int) -> int:
    """Integer bit ladder — no log2 crosses an engine boundary: the
    smallest k in [SRP_MIN_BITS, SRP_MAX_BITS] with 2^k >= ceil(sqrt
    (N)), mirrored textually by the oracle's CASE ladder."""
    import math

    s = math.ceil(math.sqrt(n)) if n else 1
    for k in range(SRP_MIN_BITS, SRP_MAX_BITS + 1):
        if s <= 2 ** k:
            return k
    return SRP_MAX_BITS


def _srp_bits(spark: SparkSession, d: str) -> int:
    """Corpus-adaptive active bits per band (the memoized corpus count
    of ``_k_cells``)."""
    return _srp_bits_of(_n_vec(spark, d))


_SRP_BITS_SQL = (
    "(SELECT CASE "
    + " ".join(
        f"WHEN s <= {2 ** k} THEN {k}"
        for k in range(SRP_MIN_BITS, SRP_MAX_BITS)
    )
    + f" ELSE {SRP_MAX_BITS} END AS k"
    "  FROM (SELECT CAST(CEIL(SQRT(GREATEST(COUNT(*), 1))) AS BIGINT) AS s"
    "        FROM embeddings))"
)

#: skew guard, mirroring dedup.MAX_BUCKET: band buckets larger than
#: this are dropped as too-common before pair expansion, so a
#: degenerate corpus (many near-identical vectors — the 10× probe's
#: identical-copies layout) caps the per-bucket product at
#: SRP_MAX_BUCKET²/2 instead of going quadratic in the corpus.
SRP_MAX_BUCKET = 128


def _srp_signs() -> list:
    """Deterministic pseudo-random +-1 hyperplane components: sign of
    hyperplane h at dimension j = parity of md5("srp:h:j") — the same
    public-hash recipe as hash60, so both engines (and any re-run)
    see literally the same hyperplanes as Python-level constants."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"srp:{h}:{j}".encode()).hexdigest()[:15], 16)
            % 2
            else -1.0
            for j in range(64)
        ]
        for h in range(SRP_NPROJ)
    ]


_SRP = _srp_signs()
_SRP_SQL = (
    "["
    + ",".join("[" + ",".join(str(v) for v in row) + "]" for row in _SRP)
    + "]"
)


def _srp_projs_arrow(used):
    """mapInArrow kernel for the SRP signature pass: per batch, widen
    the float32 embeddings to float64 (exact) and accumulate all
    |used| hyperplane projections column-by-column in ascending dim
    order — ``acc = acc + E[:, j] * P[:, j]`` is the same
    left-to-right IEEE fold per (row, plane) as the sequential
    ``dot()`` HOF, so every projection double is bit-identical to the
    JVM expression it replaces (guide §4.2: batch work to vectorized
    native code; construction once per task, §4.5). Passes vec_id /
    embedding / nrm through untouched (Arrow roundtrip is lossless)."""
    import numpy as np

    plane_mat = [list(row) for row in used]

    def compute(batches):
        import numpy as _np
        import pyarrow as _pa

        p = _np.array(plane_mat, dtype=_np.float64)  # (nproj, 64)
        nproj = p.shape[0]
        for b in batches:
            idx = b.schema.get_field_index
            emb = b.column(idx("embedding"))
            flat = _np.asarray(emb.flatten(), dtype=_np.float64)
            mat = flat.reshape(-1, 64)
            acc = _np.zeros((mat.shape[0], nproj), dtype=_np.float64)
            for j in range(64):
                acc = acc + _np.outer(mat[:, j], p[:, j])
            projs = _pa.array(list(acc), type=_pa.list_(_pa.float64()))
            yield _pa.record_batch(
                [b.column(idx("vec_id")), emb, b.column(idx("nrm")), projs],
                names=["vec_id", "embedding", "nrm", "projs"],
            )

    return compute


def _pair_cosine_arrow(batches):
    """mapInArrow kernel for candidate-pair cosine verification:
    per batch, cos = (Σ_j a_j·b_j, j ascending) / (nrm_a·nrm_b) with
    the accumulation done column-by-column — the identical
    left-to-right IEEE fold as the sequential ``dot()`` HOF, then one
    elementwise divide, so every cosine double is bit-identical to the
    JVM expression it replaces. Emits (vec_a, vec_b, cos); threshold
    filter and ROUND stay in the JVM above this node."""
    import numpy as np
    import pyarrow as pa

    for b in batches:
        idx = b.schema.get_field_index
        ea = np.asarray(
            b.column(idx("emb_a")).flatten(), dtype=np.float64
        ).reshape(-1, 64)
        eb = np.asarray(
            b.column(idx("emb_b")).flatten(), dtype=np.float64
        ).reshape(-1, 64)
        na = np.asarray(b.column(idx("nrm_a")), dtype=np.float64)
        nb = np.asarray(b.column(idx("nrm_b")), dtype=np.float64)
        acc = np.zeros(ea.shape[0], dtype=np.float64)
        for j in range(64):
            acc = acc + ea[:, j] * eb[:, j]
        cos = acc / (na * nb)
        yield pa.record_batch(
            [b.column(idx("vec_a")), b.column(idx("vec_b")), pa.array(cos)],
            names=["vec_a", "vec_b", "cos"],
        )


@register(
    "dedup_embedding_srp",
    # planes are UNNESTED TO ROWS once (32 rows of 64 components) and
    # projections come from a planes×vectors join folded back with
    # list(pr ORDER BY h) — NOT indexed out of the nested literal
    # inside the per-dimension lambda: DuckDB re-constructs a literal
    # list per lambda evaluation, so the old shape cost
    # rows × bits × 64 × 2048 element builds (minutes at 500 rows,
    # found when the round-8 widening doubled the literal)
    oracle=f"""
    WITH planes AS (
      SELECT CAST(generate_subscripts(m, 1) AS BIGINT) - 1 AS h,
             unnest(m) AS pvec
      FROM (SELECT {_SRP_SQL} AS m)
    ), proj AS (
      SELECT e.vec_id, p.h,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, 65), i ->
                 CAST(e.embedding[i] AS DOUBLE) * p.pvec[i])),
               (acc, v) -> acc + v) AS pr
      FROM embeddings e CROSS JOIN planes p
    ), sig AS (
      SELECT vec_id, list(pr ORDER BY h) AS projs
      FROM proj GROUP BY vec_id
    ), raw AS (
      SELECT vec_id, embedding,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm
      FROM embeddings
    ), bitsk AS (
      SELECT * FROM {_SRP_BITS_SQL} AS t(k)
    ), bands AS (
      SELECT vec_id, b,
             (CASE WHEN 0 < bitsk.k AND projs[12 * b + 1] > 0 THEN 1 ELSE 0 END) + (CASE WHEN 1 < bitsk.k AND projs[12 * b + 2] > 0 THEN 2 ELSE 0 END) + (CASE WHEN 2 < bitsk.k AND projs[12 * b + 3] > 0 THEN 4 ELSE 0 END) + (CASE WHEN 3 < bitsk.k AND projs[12 * b + 4] > 0 THEN 8 ELSE 0 END) + (CASE WHEN 4 < bitsk.k AND projs[12 * b + 5] > 0 THEN 16 ELSE 0 END) + (CASE WHEN 5 < bitsk.k AND projs[12 * b + 6] > 0 THEN 32 ELSE 0 END) + (CASE WHEN 6 < bitsk.k AND projs[12 * b + 7] > 0 THEN 64 ELSE 0 END) + (CASE WHEN 7 < bitsk.k AND projs[12 * b + 8] > 0 THEN 128 ELSE 0 END) + (CASE WHEN 8 < bitsk.k AND projs[12 * b + 9] > 0 THEN 256 ELSE 0 END) + (CASE WHEN 9 < bitsk.k AND projs[12 * b + 10] > 0 THEN 512 ELSE 0 END) + (CASE WHEN 10 < bitsk.k AND projs[12 * b + 11] > 0 THEN 1024 ELSE 0 END) + (CASE WHEN 11 < bitsk.k AND projs[12 * b + 12] > 0 THEN 2048 ELSE 0 END) AS val
      FROM sig, UNNEST(range(0, {SRP_BANDS})) AS t(b), bitsk
    ), capped AS (
      SELECT vec_id, b, val FROM bands
      QUALIFY COUNT(*) OVER (PARTITION BY b, val) <= {SRP_MAX_BUCKET}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
      FROM capped a JOIN capped c
        ON a.b = c.b AND a.val = c.val AND a.vec_id < c.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           ROUND({DUCK_DOT.format(a="x.embedding", b="y.embedding")}
                 / (x.nrm * y.nrm), 6) AS cosine
    FROM cand c
    JOIN raw x ON x.vec_id = c.vec_a
    JOIN raw y ON y.vec_id = c.vec_b
    WHERE {DUCK_DOT.format(a="x.embedding", b="y.embedding")}
          / (x.nrm * y.nrm) >= {IVF_COSINE_THRESHOLD}
    """,
)
def dedup_embedding_srp(spark: SparkSession, d: str) -> DataFrame:
    """Embedding near-dup via SIGNED RANDOM PROJECTIONS (hyperplane
    LSH, Charikar 2002) — the third member of the embedding-dedup
    family and the one that needs NO training: where
    ``dedup_embedding_kmeans`` blocks on learned IVF cells (a k-means
    fit, recall lost at cell borders) and ``dedup_embedding_cosine``
    blocks on a data column, SRP buckets vectors by the sign pattern
    of {SRP_NPROJ} fixed pseudo-random hyperplanes, banded
    {SRP_BANDS}x{SRP_ROWS} exactly like MinHash-LSH bands text: agree
    on all {SRP_ROWS} bits of any band -> candidate pair -> exact
    cosine verify >= {IVF_COSINE_THRESHOLD}. Collision probability is
    a smooth function of the ANGLE (1 - theta/pi per bit), so recall
    is tunable analytically (band math in the header comment), per
    vector pair, with zero model state to version or retrain.

    Hyperplanes are md5-parity +-1 components — Python-level constants
    inlined into BOTH plans, so the oracle runs literally the same
    hyperplanes (no RNG, no seed drift between engines or re-runs).

    Scale: the signature pass is narrow (32 sequential 64-element
    folds per row — at 100 TB these are written once next to the
    embeddings, like `nrm`); the bucket shuffle carries only
    (vec_id, band, 8-bit value); each surviving bucket collects its
    ≤ SRP_MAX_BUCKET members and expands pairs IN-ROW (array
    transform, ≤ SRP_MAX_BUCKET²/2 per bucket) — never an all-pairs
    product; the exact verify touches only surviving candidate pairs.

    SCALE FIX (round 8, closing the round-7 probe finding): the old
    4-bit bands gave 16 buckets/band — expected bucket N/16, so the
    candidate join was Θ(N²/32) by construction (~68 s at 10×, ~30×
    growth). Bands now carry 8 bits (256 buckets) AND the
    too-common-bucket cap the MinHash path uses (dedup.MAX_BUCKET
    pattern), so degenerate layouts (identical copies all landing in
    one bucket) are bounded at SRP_MAX_BUCKET²/2 pairs per bucket."""
    e = corpus_table(spark, d)
    bits = _srp_bits(spark, d)  # corpus-adaptive active bits per band
    # project only the PLANES THE BANDS USE — band b reads plane
    # b*SRP_MAX_BITS + r for r < bits, so at bits=6 that is 24 of the
    # 48 hyperplanes; computing the unused ones doubled the signature
    # pass for nothing (round-9 bench finding: the sig stage was 1.9 s
    # of SRP's 5.2 s at sf0.1). projs is re-indexed densely
    # (projs[b*bits + r] = plane[b*SRP_MAX_BITS + r]); values of the
    # used projections are bit-identical, so the oracle — which still
    # projects the full plane table and indexes sparsely — pairs
    # exactly.
    used = [
        _SRP[b * SRP_MAX_BITS + r]
        for b in range(SRP_BANDS)
        for r in range(bits)
    ]
    # r13 (guide §4.2, VERDICT_r12 item 9's mandated A/B — Arrow WON):
    # the 24 sequential 64-element dot folds per row are interpreted
    # HOF expressions (CodegenFallback); handing whole Arrow batches to
    # numpy and accumulating column-by-column (acc = acc + E[:,j]·p[j],
    # j ascending) performs the IDENTICAL left-to-right IEEE fold per
    # (row, plane) — bit-equality asserted against the HOF form over
    # the full corpus before landing, and the oracle re-checks every
    # run. Isolated A/B at sf0.1 (min-of-2): sig pass 0.90 → 0.43 s;
    # float32 embeddings widen exactly (float→double cast both sides).
    sig = e.select("vec_id", "embedding", "nrm").mapInArrow(
        _srp_projs_arrow(used),
        "vec_id long, embedding array<float>, nrm double, "
        "projs array<double>",
    ).cache()
    # explode each vector to SRP_BANDS (band, 4-bit value) rows in-row
    # (struct transform + explode) so the bucket shuffle carries only
    # (vec_id, b, val) — never the projections or the embedding
    bands = (
        sig.select(
            "vec_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(SRP_BANDS - 1)),
                    lambda b: F.struct(
                        b.alias("b"),
                        sum(
                            F.when(
                                F.element_at(
                                    F.col("projs"), b * bits + r + 1
                                )
                                > 0,
                                2**r,
                            ).otherwise(0)
                            for r in range(bits)
                        ).alias("val"),
                    ),
                )
            ).alias("bv"),
        )
        .select("vec_id", F.col("bv.b").alias("b"), F.col("bv.val").alias("val"))
    )
    # bucket-collect + in-row pair expansion (the _lsh_candidates
    # pattern): the (b, val) shuffle carries only ids, each bucket is
    # size-capped at SRP_MAX_BUCKET, pairs are generated inside the
    # bucket row — no self-join, no O(pairs) shuffle
    buckets = (
        bands.groupBy("b", "val")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .where(F.size("ids").between(2, SRP_MAX_BUCKET))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, SRP_MAX_BUCKET),
                lambda y: F.struct(x.alias("vec_a"), y.alias("vec_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.vec_a").alias("vec_a"), F.col("p.vec_b").alias("vec_b"))
        .distinct()
    )
    x = sig.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    y = sig.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    # r13 (guide §4.2): the exact-cosine verify was the key's biggest
    # term — the 64-wide interpreted dot ran inside the join condition
    # (pushdown) AND the output projection, ~2× per candidate pair
    # (137k pairs at sf0.1). One Arrow batch kernel computes each
    # pair's cosine ONCE, bit-identically (column-ordered fold, see
    # _pair_cosine_arrow); threshold + ROUND stay in the JVM. Isolated
    # A/B at sf0.1 (min-of-2): verify stage 1.18 → 0.81 s; output
    # values asserted identical over all 878 surviving pairs.
    j = (
        cand.join(x, "vec_a")
        .join(y, "vec_b")
        .select("vec_a", "vec_b", "emb_a", "emb_b", "nrm_a", "nrm_b")
    )
    scored = j.mapInArrow(
        _pair_cosine_arrow, "vec_a long, vec_b long, cos double"
    )
    return scored.where(F.col("cos") >= IVF_COSINE_THRESHOLD).select(
        "vec_a", "vec_b", F.round("cos", 6).alias("cosine")
    )


def _srp_eval_oracle() -> str:
    from pro_etl_spark.registry import ORACLES
    from pro_etl_spark.ops.dedup import _CERT_CUT_SQL, _CERT_PRED_SQL, CERT_SAMPLE_N

    dotab = DUCK_DOT.format(a="a.embedding", b="b.embedding")
    return f"""
    WITH {_CERT_CUT_SQL(n=CERT_SAMPLE_N, table="embeddings")},
    raw AS (
      SELECT vec_id, label, embedding,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm
      FROM embeddings
    ), raw_s AS (
      SELECT r.* FROM raw r, cert WHERE {_CERT_PRED_SQL(id="r.vec_id")}
    ), truth AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM raw_s a JOIN raw_s b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {dotab} / (a.nrm * b.nrm) >= {IVF_COSINE_THRESHOLD}
    ), srp AS ({ORACLES["dedup_embedding_srp"]}),
    hit AS (
      SELECT t.vec_a FROM truth t
      WHERE EXISTS (SELECT 1 FROM srp s
                    WHERE s.vec_a = t.vec_a AND s.vec_b = t.vec_b)
    ), xl AS (
      SELECT s.vec_a FROM srp s
      JOIN raw x ON x.vec_id = s.vec_a
      JOIN raw y ON y.vec_id = s.vec_b
      WHERE x.label <> y.label
    )
    SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM hit) AS n_hit,
           (SELECT COUNT(*) FROM hit) /
             CAST(NULLIF((SELECT COUNT(*) FROM truth), 0) AS DOUBLE)
             AS recall,
           (SELECT COUNT(*) FROM xl) AS n_cross_label_extra
    """


@register("dedup_srp_eval", oracle=_srp_eval_oracle())
def dedup_srp_eval(spark: SparkSession, d: str) -> DataFrame:
    """Recall certification of the SRP hyperplane-LSH near-dup path
    against the exact LABEL-BLOCKED baseline — the embedding-space
    twin of ``dedup_lsh_eval`` (which certifies MinHash-LSH against
    the exact n-gram baseline), and the audit that makes the
    corpus-adaptive band width (``_srp_bits``) a MEASURED trade
    instead of a guessed one: hyperplane collision probability is
    (1 - θ/π) per bit, so widening bands at larger corpora buys
    candidate volume at a recall cost this one row quantifies per
    corpus. Reports: exact within-block pairs at the SRP threshold
    ({IVF_COSINE_THRESHOLD}), how many SRP found (banding recall),
    and the TRUE cross-label pairs SRP finds that label-blocking is
    structurally blind to — the number that justifies LSH over
    blocked all-pairs.

    Exactness: counts are integers; recall is one closing IEEE
    division (NULL on an empty truth set, both engines).

    Scale: truth is the label-blocked self-join (per-block quadratic
    — the documented fenced-baseline class, like
    ``dedup_ngram_jaccard``: it exists to certify the production
    twin, not to run at 100 TB); the SRP side reuses the production
    operator unchanged, and the hit check is a semi-join on the pair
    keys. Above ``dedup.CERT_SAMPLE_N`` vectors the truth side runs
    on the deterministic certification sample (see that constant's
    docstring); the SRP side and the cross-label census stay
    unsampled."""
    from pro_etl_spark.ops.dedup import _cert_sample, _pair_spread

    e = corpus_table(spark, d)
    es = _cert_sample(spark, d, e, "vec_id", "embeddings")
    # explicit-count repartition: without it the few-MB sampled frame
    # sits in one (coalesced) partition and the per-pair dot-product
    # loop of the blocked truth join runs on a single task — see
    # dedup._pair_spread
    truth = cosine_pairs(
        _pair_spread(es, "vec_id"), es, "label", IVF_COSINE_THRESHOLD
    ).select("vec_a", "vec_b")
    srp = dedup_embedding_srp(spark, d).select("vec_a", "vec_b")
    hit = truth.join(srp, ["vec_a", "vec_b"], "left_semi")
    lab = e.select("vec_id", "label")
    xa = lab.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("la"))
    xb = lab.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("lb"))
    xl = (
        srp.join(F.broadcast(xa), "vec_a")
        .join(F.broadcast(xb), "vec_b")
        .where(F.col("la") != F.col("lb"))
    )
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    n_hit = hit.agg(F.count("*").alias("n_hit"))
    n_xl = xl.agg(F.count("*").alias("n_cross_label_extra"))
    return (
        n_truth.crossJoin(n_hit)
        .crossJoin(n_xl)
        .select(
            "n_truth",
            "n_hit",
            (
                F.col("n_hit").cast("double")
                / F.nullif(F.col("n_truth"), F.lit(0))
            ).alias("recall"),
            "n_cross_label_extra",
        )
    )


#: a dimension whose variance falls below this is "dead" (collapsed)
DIM_DEAD_VAR = 0.001


@register(
    "embed_dim_stats",
    oracle=f"""
    WITH flat AS (
      SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ), m AS (
      SELECT dim, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(val AS DECIMAL(18,9))) AS VARCHAR)
                  AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(val AS DECIMAL(18,9))
                         * CAST(val AS DECIMAL(18,9))) AS VARCHAR)
                  AS DOUBLE) AS sxx,
             MIN(val) AS vmin, MAX(val) AS vmax
      FROM flat GROUP BY dim
    )
    SELECT dim,
           ROUND(sx / n, 6) AS mean_val,
           ROUND((n * sxx - sx * sx) / (CAST(n AS DOUBLE) * n), 6)
             AS var_val,
           ROUND(vmin, 6) AS min_val,
           ROUND(vmax, 6) AS max_val,
           (n * sxx - sx * sx) / (CAST(n AS DOUBLE) * n)
             < {DIM_DEAD_VAR} AS is_dead
    FROM m
    """,
)
def embed_dim_stats(spark: SparkSession, d: str) -> DataFrame:
    """Per-DIMENSION embedding health — mean/variance/range of every
    coordinate across the corpus, with a dead-dimension flag
    (variance < {DIM_DEAD_VAR}): collapsed dimensions are the
    classic sign of a degenerate encoder (dimensional collapse), they
    waste index bytes, and they silently break SQ8 quantization
    (``embed_quantize_sq8`` scales by per-dim range — a dead dim
    quantizes noise). Run this BEFORE building any index; feed dead
    dims to Matryoshka-style truncation (``ann_matryoshka_eval``).
    Variance from exact DECIMAL moments; the per-vector grain never
    shuffles — posexplode fans out in-row and the aggregate is keyed
    by the 64 dims.

    Scale: one narrow pass, 64-key aggregate — model-state output."""
    flat = load(spark, d, "embeddings").select(
        F.posexplode("embedding").alias("dim0", "val")
    )
    # float -> DOUBLE -> DECIMAL(18,9), matching the oracle's cast
    # chain; (18,9) keeps the squared product inside 38 digits of
    # precision in BOTH engines (a (27,12) square would overflow and
    # each engine rescales overflow differently)
    dec = F.col("val").cast("double").cast("decimal(18,9)")
    m = flat.groupBy((F.col("dim0") + 1).cast("long").alias("dim")).agg(
        F.count("*").alias("n"),
        F.sum(dec).cast("double").alias("sx"),
        F.sum(dec * dec).cast("double").alias("sxx"),
        F.min(F.col("val").cast("double")).alias("vmin"),
        F.max(F.col("val").cast("double")).alias("vmax"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    var = (n * sxx - sx * sx) / (n.cast("double") * n)
    return m.select(
        "dim",
        F.round(sx / n, 6).alias("mean_val"),
        F.round(var, 6).alias("var_val"),
        F.round(F.col("vmin"), 6).alias("min_val"),
        F.round(F.col("vmax"), 6).alias("max_val"),
        (var < DIM_DEAD_VAR).alias("is_dead"),
    )


@register(
    "embed_centroid_drift",
    oracle="""
    WITH flat AS (
      SELECT label, vec_id % 2 AS half,
             CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
             -- pico lift (r12): FLOOR on the exact binary double is
             -- engine-portable; the double->DECIMAL cast it replaces
             -- splits at half-boundaries (see embed_centroid)
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1e12 + 0.5)
                  AS BIGINT) AS pv
      FROM embeddings
    ), cent AS (
      SELECT label, half, dim,
             CAST(CAST(SUM(CAST(pv AS DECIMAL(38,0))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*) / 1e12 AS c
      FROM flat GROUP BY label, half, dim
    ), paired AS (
      SELECT a.label, a.dim, a.c AS ca, b.c AS cb
      FROM cent a JOIN cent b
        ON a.label = b.label AND a.dim = b.dim
       AND a.half = 0 AND b.half = 1
    ), dots AS (
      SELECT label,
             CAST(CAST(SUM(CAST(ca * cb AS DECIMAL(30,18))) AS VARCHAR)
                  AS DOUBLE) AS dab,
             CAST(CAST(SUM(CAST(ca * ca AS DECIMAL(30,18))) AS VARCHAR)
                  AS DOUBLE) AS daa,
             CAST(CAST(SUM(CAST(cb * cb AS DECIMAL(30,18))) AS VARCHAR)
                  AS DOUBLE) AS dbb,
             COUNT(*) AS n_dims
      FROM paired GROUP BY label
    )
    SELECT label, CAST(n_dims AS BIGINT) AS n_dims,
           ROUND(dab / (sqrt(daa) * sqrt(dbb)), 6) AS centroid_cosine,
           dab / (sqrt(daa) * sqrt(dbb)) < 0.999 AS drifted
    FROM dots
    """,
)
def embed_centroid_drift(spark: SparkSession, d: str) -> DataFrame:
    """EMBEDDING DRIFT monitor — per label, the cosine between the
    centroids of two cohort halves (vec_id parity standing in for
    yesterday-vs-today batches): a re-embedded corpus, a silently
    updated encoder, or an upstream text change moves the centroids
    apart long before retrieval metrics degrade. Centroid means come
    from exact DECIMAL coordinate sums (the ``embed_centroid``
    discipline); the 64-dim centroid dot products route through
    DECIMAL(30,18) so the aggregate is order-independent — the same
    exactness story, one level up the pipeline. The 0.999 alert
    threshold is a plan literal.

    Scale: one flat pass to (label, half, dim) cells — model-state
    grain — and every later join is over that tiny table."""
    flat = load(spark, d, "embeddings").select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim0", "val"),
    )
    cent = flat.groupBy(
        "label", "half", (F.col("dim0") + 1).alias("dim")
    ).agg(
        (
            F.sum(
                F.floor(
                    F.col("val").cast("double") * F.lit(1e12) + F.lit(0.5)
                )
                .cast("long")
                .cast("decimal(38,0)")
            ).cast("double")
            / F.count("*")
            / F.lit(1e12)
        ).alias("c")
    )
    a = cent.where(F.col("half") == 0).select(
        "label", "dim", F.col("c").alias("ca")
    )
    b = cent.where(F.col("half") == 1).select(
        F.col("label").alias("lb"), F.col("dim").alias("db"),
        F.col("c").alias("cb"),
    )
    paired = a.join(
        b, (F.col("label") == F.col("lb")) & (F.col("dim") == F.col("db"))
    )
    d30 = "decimal(30,18)"
    dots = paired.groupBy("label").agg(
        F.sum((F.col("ca") * F.col("cb")).cast(d30))
        .cast("double")
        .alias("dab"),
        F.sum((F.col("ca") * F.col("ca")).cast(d30))
        .cast("double")
        .alias("daa"),
        F.sum((F.col("cb") * F.col("cb")).cast(d30))
        .cast("double")
        .alias("dbb"),
        F.count("*").alias("n_dims"),
    )
    cos = F.col("dab") / (F.sqrt(F.col("daa")) * F.sqrt(F.col("dbb")))
    return dots.select(
        "label",
        F.col("n_dims").cast("long").alias("n_dims"),
        F.round(cos, 6).alias("centroid_cosine"),
        (cos < 0.999).alias("drifted"),
    )


#: nDCG discount table 1/log2(1+r) for r = 1..TOP_K, precomputed in
#: Python to 12 dp and inlined as literals in BOTH plans — log2 is
#: not bit-portable across engines (the _DECAY_W discipline); with the
#: discounts shared constants, every DCG is a sum of exact-grid values
_NDCG_DISC = {
    r: round(1.0 / __import__("math").log2(1 + r), 12)
    for r in range(1, TOP_K + 1)
}
_NDCG_CASE_SQL = (
    "CASE {col} "
    + " ".join(
        f"WHEN {r} THEN CAST({w!r} AS DOUBLE)"
        for r, w in _NDCG_DISC.items()
    )
    + " ELSE CAST(0.0 AS DOUBLE) END"
)


@register(
    "ann_ndcg_eval",
    oracle=f"""
    WITH exact AS ({{exact}}),
         approx AS ({{approx}}),
    hits AS (
      SELECT a.query_id, a.rank AS arank,
             {_NDCG_CASE_SQL.format(col="a.rank")}
               AS gain
      FROM approx a
      JOIN exact e
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    ), dcg AS (
      SELECT query_id,
             CAST(SUM(CAST(FLOOR(gain * 1000000000000.0 + 0.5)
                           AS BIGINT)) AS BIGINT) AS dcg_picos
      FROM hits GROUP BY query_id
    ), ideal AS (
      SELECT CAST(SUM(CAST(FLOOR(
               {_NDCG_CASE_SQL.format(col="r.range")}
               * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS idcg_picos
      FROM range(1, {TOP_K} + 1) r
    ), qs AS (
      SELECT DISTINCT query_id FROM exact
    )
    SELECT q.query_id,
           CAST(COALESCE(d.dcg_picos, 0) AS BIGINT) AS dcg_picos,
           CAST(COALESCE(d.dcg_picos, 0) AS DOUBLE)
             / CAST((SELECT idcg_picos FROM ideal) AS DOUBLE) AS ndcg_at_k
    FROM qs q LEFT JOIN dcg d ON d.query_id = q.query_id
    """.format(
        exact=ORACLES["ann_cosine_topk"], approx=ORACLES["ann_ivf_kmeans_topk"]
    ),
)
def ann_ndcg_eval(spark: SparkSession, d: str) -> DataFrame:
    """nDCG@k of the trained-IVF index against brute-force ground
    truth — the rank-position-weighted third leg of the eval loop
    (recall@k counts hits, MRR tracks only the top-1, nDCG credits
    every hit by WHERE the index put it: gain 1/log2(1+rank), summed
    and normalized by the ideal DCG of a perfect top-k). Binary
    relevance = membership in the exact top-k.

    Exactness: the discount table is precomputed in Python and inlined
    as shared literals in both plans (log2 is not bit-portable across
    engines), each gain floor-quantizes to integer picos, and DCG is
    an exact integer sum — the one closing division is IEEE-identical.

    Scale: identical envelope to ``ann_recall_eval`` — two index
    searches plus a queries×k broadcast join; evaluating an index over
    100 TB costs exactly the two searches."""
    disc = F.create_map(
        *[F.lit(x) for rw in _NDCG_DISC.items() for x in rw]
    )
    exact = ann_cosine_topk(spark, d).select(
        F.col("query_id").alias("eq"), F.col("neighbor_id").alias("en")
    )
    approx = ann_ivf_kmeans_topk(spark, d).select(
        "query_id", "neighbor_id", "rank"
    )
    hits = approx.join(
        F.broadcast(exact),
        (F.col("query_id") == F.col("eq"))
        & (F.col("neighbor_id") == F.col("en")),
    ).select(
        "query_id",
        F.floor(
            F.coalesce(disc[F.col("rank")], F.lit(0.0))
            * 1_000_000_000_000.0
            + 0.5
        )
        .cast("long")
        .alias("gain_picos"),
    )
    dcg = hits.groupBy("query_id").agg(
        F.sum("gain_picos").cast("long").alias("dcg_picos")
    )
    idcg = sum(
        int(w * 1_000_000_000_000.0 + 0.5) for w in _NDCG_DISC.values()
    )
    qs = exact.select(F.col("eq").alias("query_id")).distinct()
    return qs.join(dcg, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("dcg_picos"), F.lit(0)).cast("long").alias(
            "dcg_picos"
        ),
        (
            F.coalesce(F.col("dcg_picos"), F.lit(0)).cast("double")
            / F.lit(float(idcg))
        ).alias("ndcg_at_k"),
    )


@register(
    "embed_standardize",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ), m AS (
      SELECT dim, COUNT(*) AS n,
             CAST(CAST(SUM(CAST(val AS DECIMAL(18,9))) AS VARCHAR)
                  AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(val AS DECIMAL(18,9))
                         * CAST(val AS DECIMAL(18,9))) AS VARCHAR)
                  AS DOUBLE) AS sxx
      FROM flat GROUP BY dim
    )
    SELECT f.vec_id, f.dim,
           CASE WHEN m.n * m.sxx - m.sx * m.sx > 0
                THEN ROUND((f.val - m.sx / m.n)
                           / sqrt((m.n * m.sxx - m.sx * m.sx)
                                  / (CAST(m.n AS DOUBLE) * m.n)), 6)
                ELSE CAST(0.0 AS DOUBLE) END AS zval
    FROM flat f JOIN m USING (dim)
    WHERE f.vec_id < {N_QUERIES * 4}
    """,
)
def embed_standardize(spark: SparkSession, d: str) -> DataFrame:
    """PER-DIMENSION STANDARDIZATION (whitening-lite) of the embedding
    space: z = (x − μ_dim)/σ_dim from corpus-wide per-dim moments —
    the preprocessing that equalizes dimension scales before cosine /
    k-means when an encoder leaves dominant dimensions
    (``embed_dim_stats`` DIAGNOSES them; this op FIXES them). Dead
    dimensions (zero variance) map to 0, not NaN. Output is limited
    to a deterministic head of vectors ({N_QUERIES * 4}) — the
    transform is row-local, so the head certifies the whole.

    Exactness: per-dim Σx and Σx² ride DECIMAL(18,9) and come back to
    double through the VARCHAR route (the embed_dim_stats recipe —
    a direct decimal→double cast rounds differently per engine);
    population σ is one closed form in double; sqrt is portable.

    Scale: one unnest pass → 64-row moment table (broadcast) → one
    narrow map over the corpus. At 100 TB the moment table is the
    model state a standardizing scan broadcasts."""
    flat = load(spark, d, "embeddings").select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "val"
        ),
    ).select(
        "vec_id", (F.col("dim0") + 1).cast("long").alias("dim"), "val"
    )
    vdec = F.col("val").cast("decimal(18,9)")
    m = flat.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(vdec).cast("string").cast("double").alias("sx"),
        F.sum(vdec * vdec).cast("string").cast("double").alias("sxx"),
    )
    disc = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    z = F.round(
        (F.col("val") - F.col("sx") / F.col("n"))
        / F.sqrt(disc / (F.col("n").cast("double") * F.col("n"))),
        6,
    )
    return (
        flat.where(F.col("vec_id") < N_QUERIES * 4)
        .join(F.broadcast(m), "dim")
        .select(
            "vec_id",
            "dim",
            F.when(disc > 0, z).otherwise(F.lit(0.0)).alias("zval"),
        )
    )


# --- binary quantization (1-bit) + Hamming pre-filter --------------------

BQ_CAND = 50  # Hamming-stage candidates kept per query before rerank

_BQ_LO_SQL = """CAST(list_sum(list_transform(range(1, 33),
    i -> CASE WHEN CAST(embedding[i] AS DOUBLE) >= 0
              THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END)) AS BIGINT)"""
_BQ_HI_SQL = """CAST(list_sum(list_transform(range(33, 65),
    i -> CASE WHEN CAST(embedding[i] AS DOUBLE) >= 0
              THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END)) AS BIGINT)"""


def _bq_pack(col_name: str, lo_dim: int, hi_dim: int):
    """Pack sign bits of dims [lo_dim, hi_dim) into one BIGINT —
    exact integer sum of distinct powers of two, identical to the
    oracle's list_sum fold. Built as ONE F.expr parse (r13): the
    Column-builder form issued ~400 py4j round-trips (32 chained
    when/element_at/cast terms per pack), ~1 s of pure construction
    per bench row; the SQL spelling parses the identical CASE/cast/add
    chain in a single call."""
    terms = " + ".join(
        f"(CASE WHEN CAST(element_at({col_name}, {i + 1}) AS DOUBLE)"
        f" >= 0 THEN CAST({1 << (i - lo_dim)} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for i in range(lo_dim, hi_dim)
    )
    return F.expr(f"CAST(0 AS BIGINT) + {terms}")


@register(
    "ann_binary_quant",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm,
             {_BQ_LO_SQL} AS lo, {_BQ_HI_SQL} AS hi
      FROM embeddings
    ), cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi))
               AS hamming,
             {DUCK_DOT.format(a="q.embedding", b="c.embedding")}
               / (q.nrm * c.nrm) AS cos
      FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    ), kept AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY hamming, neighbor_id) AS rh
        FROM cand
      ) WHERE rh <= {BQ_CAND}
    )
    {_topk_sql("kept", extra="CAST(hamming AS BIGINT) AS hamming, ")}
    """,
)
def ann_binary_quant(spark: SparkSession, d: str) -> DataFrame:
    """BINARY-QUANTIZED ANN — the 1-bit rung under ``pq_encode``
    (64×) and ``embed_quantize_sq8`` (8×): each vector compresses to
    its 64 SIGN BITS packed into two BIGINTs (512× smaller than the
    float payload), candidates are the 50 nearest by HAMMING
    distance (two XOR+popcount instructions per comparison — the
    reason binary codes are the standard first-stage filter in
    billion-vector search), and only the survivors pay the exact
    cosine rerank. Recall is approximate by design; the oracle
    applies the identical two-stage rule so the check is value-exact.

    Exactness: the packed codes are integer sums of distinct powers
    of two; Hamming is integer; both ranking stages carry explicit
    neighbor-id tie-breaks; the rerank cosine is the shared
    sequential-fold ``dot`` over rounded doubles.

    Scale: codes are 16 bytes/vector — at 100 TB of floats the code
    table is ~200 GB, scanned linearly against broadcast query codes
    (or bucketed by code prefix for sublinear probes, the
    ``dedup_simhash_lsh`` trick); the float embeddings are touched
    only for top-k·|queries| rerank rows."""
    e = corpus_table(spark, d).select(
        "vec_id",
        "embedding",
        "nrm",
        _bq_pack("embedding", 0, 32).alias("lo"),
        _bq_pack("embedding", 32, 64).alias("hi"),
    )
    q = _query_frame(e, F.col("lo").alias("q_lo"), F.col("hi").alias("q_hi"))
    cand = e.join(F.broadcast(q), F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.bit_count(F.col("q_lo").bitwiseXOR(F.col("lo")))
            + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("hi")))
        ).alias("hamming"),
        "q_emb",
        "embedding",
        "q_nrm",
        "nrm",
    )
    w_h = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    kept = (
        cand.withColumn("rh", F.row_number().over(w_h))
        .where(F.col("rh") <= BQ_CAND)
        # the expensive fold runs AFTER the Hamming gate — 50 rows per
        # query, never the full corpus
        .withColumn("cos", cosine())
    )
    return _top_k(kept, F.col("hamming").cast("long").alias("hamming"))


# --- Johnson-Lindenstrauss random projection ------------------------------

RP_DIM = 16  # target dimensionality (64 → 16, 4× compression)

#: Deterministic ±1 projection matrix, precomputed in Python and
#: inlined as a shared literal into BOTH engines (the mm_phash basis
#: pattern): sign = parity of the first md5 byte of "rp:<i>:<j>".
#: Data-independent model state — 64×16 ints.
import hashlib as _hashlib

_RP_SIGNS = [
    (i, j, 1 if _hashlib.md5(f"rp:{i}:{j}".encode()).digest()[0] % 2 == 0 else -1)
    for i in range(64)
    for j in range(RP_DIM)
]
_RP_SIGNS_SQL = "(VALUES " + ",".join(
    f"({i}, {j}, {s})" for i, j, s in _RP_SIGNS
) + ")"


@register(
    "embed_random_projection",
    oracle=f"""
    WITH basis AS (
      SELECT * FROM {_RP_SIGNS_SQL} AS t(i, j, s)
    ), cell AS (
      SELECT vec_id, CAST(r.range AS BIGINT) AS i,
             CAST(embedding[r.range + 1] AS DOUBLE) AS val
      FROM embeddings, range(64) r
    ), proj AS (
      SELECT c.vec_id, b.j,
             SUM(CAST(FLOOR(c.val * b.s * 1000000.0) AS BIGINT))
               AS p_micros
      FROM cell c JOIN basis b ON b.i = c.i
      GROUP BY c.vec_id, b.j
    ), pn AS (
      SELECT vec_id,
             SUM(CAST(FLOOR(POW(p_micros / 1000000.0 / 4.0, 2)
                            * 1000000000.0) AS BIGINT)) AS sq_nanos
      FROM proj GROUP BY vec_id
    ), onorm AS (
      SELECT vec_id,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm
      FROM embeddings
    )
    SELECT pn.vec_id,
           ROUND(sqrt(pn.sq_nanos / 1000000000.0), 6) AS proj_norm,
           ROUND(onorm.nrm, 6) AS orig_norm,
           ROUND(sqrt(pn.sq_nanos / 1000000000.0) / onorm.nrm, 6)
             AS norm_ratio
    FROM pn JOIN onorm USING (vec_id)
    """,
)
def embed_random_projection(spark: SparkSession, d: str) -> DataFrame:
    """JOHNSON-LINDENSTRAUSS random projection 64→16 dims with a
    deterministic ±1 matrix (Achlioptas' database-friendly variant —
    no Gaussians needed), scaled by 1/√16; the per-vector output
    is the norm-preservation audit (projected norm, original norm,
    ratio ≈ 1 ± ε) that certifies the projection before anything
    downstream — coarse clustering, dedup blocking, sketch indexes —
    switches to the 4×-smaller vectors.

    Exactness: the signs are Python-precomputed shared literals in
    both engines; each projection term floor-quantizes to integer
    micros before its sum and each squared coordinate to integer nanos
    before the norm sum (order-independent twice); sqrt is
    IEEE-portable.

    Scale: the matrix is a 1024-row broadcast; the corpus fans out
    IN-ROW by explode (64 rows/vec), aggregates back to 16
    rows/vec keyed by vec_id — one narrow pass + one keyed combine,
    the exact shape the mm_phash DCT uses. At 100 TB the projected
    vectors are written once beside the originals."""
    basis = F.broadcast(
        spark.createDataFrame(_RP_SIGNS, "i long, j long, s long")
    )
    cell = (
        load(spark, d, "embeddings")
        .select(
            "vec_id",
            F.posexplode(F.col("embedding")).alias("i", "valf"),
        )
        .select("vec_id", "i", F.col("valf").cast("double").alias("val"))
    )
    proj = (
        cell.join(basis, "i")
        .groupBy("vec_id", "j")
        .agg(
            F.sum(
                F.floor(F.col("val") * F.col("s") * 1000000.0).cast("long")
            ).alias("p_micros")
        )
    )
    pn = proj.groupBy("vec_id").agg(
        F.sum(
            F.floor(
                F.pow(F.col("p_micros") / 1000000.0 / 4.0, 2) * 1000000000.0
            ).cast("long")
        ).alias("sq_nanos")
    )
    onorm = corpus_table(spark, d).select("vec_id", "nrm")
    pnorm = F.sqrt(F.col("sq_nanos") / 1000000000.0)
    return pn.join(onorm, "vec_id").select(
        "vec_id",
        F.round(pnorm, 6).alias("proj_norm"),
        F.round(F.col("nrm"), 6).alias("orig_norm"),
        F.round(pnorm / F.col("nrm"), 6).alias("norm_ratio"),
    )


# --- second principal component (deflated power iteration) ---------------

#: alternating-sign start vector for the second component — anything
#: not parallel to v1 works; the alternation makes it deterministic
#: and (for smooth v1) nearly orthogonal already
_PCA2_W0 = [0.125 if i % 2 == 0 else -0.125 for i in range(64)]


def _pca2_oracle() -> str:
    """Extends the ``pca_power_top1`` unrolled-CTE chain with
    PCA_ITERS deflated rounds for the second component: per-row score
    with w, per-dim DECIMAL sums, then GRAM-SCHMIDT against v1 as
    dim-ordered list arithmetic (projection fold → subtract →
    normalize), mirroring the Spark driver's float loop op for op."""
    base = _pca_oracle()
    head, tail = base.rsplit("SELECT vec_id,", 1)
    v1 = f"v{PCA_ITERS}_t"
    sql = head + f""", w0_t AS (
      SELECT list_transform(range(1, 65),
               i -> CASE WHEN (i - 1) % 2 = 0 THEN 0.125 ELSE -0.125 END)
               AS w
      FROM (SELECT 1)
    )"""
    prev = "w0_t"
    for k in range(1, PCA_ITERS + 1):
        sql += f""", u{k} AS MATERIALIZED (
      SELECT vec_id, {_PCA_DOT_V.format(x="emb", v="w")} AS t
      FROM e, mu_t, {prev}
    ), z{k}_long AS (
      SELECT dim,
             CAST(SUM(CAST(FLOOR(t * (emb[dim] - mu[dim]) * 1000000000000
                                 + 0.5) AS DECIMAL(38,0)))
                  AS DOUBLE) / 1000000000000.0 AS s
      FROM e JOIN u{k} USING (vec_id), mu_t, dims
      GROUP BY dim
    ), z{k}_t AS MATERIALIZED (
      SELECT list(s ORDER BY dim) AS sv FROM z{k}_long
    ), p{k}_t AS MATERIALIZED (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, 65), i -> v[i] * sv[i])),
               (acc, x) -> acc + x) AS proj
      FROM z{k}_t, {v1}
    ), o{k}_t AS MATERIALIZED (
      SELECT list_transform(range(1, 65), i -> sv[i] - proj * v[i]) AS ov
      FROM z{k}_t, p{k}_t, {v1}
    ), m{k}_t AS (
      SELECT sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(ov, x -> x * x)), (acc, x) -> acc + x)) AS nrm
      FROM o{k}_t
    ), w{k}_t AS MATERIALIZED (
      SELECT list_transform(ov, x -> x / nrm) AS w FROM o{k}_t, m{k}_t
    )"""
        prev = f"w{k}_t"
    sql += f"""
    SELECT vec_id,
           {_PCA_DOT_V.format(x="emb", v="v")} AS pc1,
           {_PCA_DOT_V.format(x="emb", v="w")} AS pc2
    FROM e, mu_t, {v1}, {prev}
    """
    return sql


def _pca2_model(spark: SparkSession, d: str):
    """The trained top-2 model (mu, v1, v2), once per (application,
    dataset)."""
    return dataset_memo(spark, d, "pca2", lambda: _train_pca2(spark, d))


def _train_pca2(spark: SparkSession, d: str):
    """(mu, v1, v2): reuse the top-1 model, then PCA_ITERS deflated
    power rounds — identical distributed passes, plus an O(64) driver
    Gram-Schmidt per round (projection fold, subtract, normalize) in
    the SAME dim order as the oracle's list arithmetic."""
    mu, v1 = _pca_model(spark, d)
    e = _pca_corpus(spark, d)
    w = list(_PCA2_W0)
    mu_arr = F.array(*[F.lit(m) for m in mu])
    for _ in range(PCA_ITERS):
        w_arr = F.array(*[F.lit(x) for x in w])
        centered = F.zip_with(F.col("emb"), mu_arr, lambda x, m: x - m)
        t = F.aggregate(
            F.zip_with(centered, w_arr, lambda c, ww: c * ww),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        s_rows = (
            e.select(t.alias("t"), F.posexplode(centered).alias("pos", "c"))
            .groupBy("pos")
            .agg(
                (
                    F.sum(
                        F.floor(
                            F.col("t") * F.col("c") * F.lit(1_000_000_000_000)
                            + F.lit(0.5)
                        ).cast("decimal(38,0)")
                    ).cast("double")
                    / F.lit(1_000_000_000_000.0)
                ).alias("s")
            )
            .collect()
        )
        s = [0.0] * 64
        for r in s_rows:
            s[r["pos"]] = r["s"]
        proj = 0.0
        for i in range(64):  # dim-ordered fold, mirrors p{k}_t
            proj += v1[i] * s[i]
        o = [s[i] - proj * v1[i] for i in range(64)]
        acc = 0.0
        for x in o:  # dim-ordered fold, mirrors m{k}_t
            acc += x * x
        nrm = acc**0.5
        w = [x / nrm for x in o]
    return mu, v1, w


@register("pca_power_top2", oracle=_pca2_oracle())
def pca_power_top2(spark: SparkSession, d: str) -> DataFrame:
    """TOP-2 principal-component scores — extends ``pca_power_top1``
    with one DEFLATION round: the second direction power-iterates on
    the same covariance while Gram-Schmidt-orthogonalizing against v1
    after every update (orthogonal iteration), so it converges to the
    second eigenvector without ever materializing the 64×64
    covariance, let alone an eigensolver. Two components are what the
    embedding-drift dashboards actually plot, and the (pc1, pc2)
    plane is the standard first look at cluster structure before
    committing to a k for ``kmeans_train``.

    Exactness: identical quantized-sum recipe as top-1 for the
    distributed passes; the per-round orthogonalization is O(64)
    driver float arithmetic mirrored op-for-op (same fold order) by
    the oracle's list arithmetic, so scores stay bit-exact.

    Scale: 2× the top-1 envelope — per round one narrow pass + one
    64-row shuffle; driver state is 192 doubles."""
    mu, v1, v2 = _pca2_model(spark, d)
    e = _pca_corpus(spark, d)
    mu_arr = F.array(*[F.lit(m) for m in mu])
    v1_arr = F.array(*[F.lit(x) for x in v1])
    v2_arr = F.array(*[F.lit(x) for x in v2])
    centered = F.zip_with(F.col("emb"), mu_arr, lambda x, m: x - m)

    def score(v_arr):
        return F.aggregate(
            F.zip_with(centered, v_arr, lambda c, ww: c * ww),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return e.select(
        "vec_id", score(v1_arr).alias("pc1"), score(v2_arr).alias("pc2")
    )
