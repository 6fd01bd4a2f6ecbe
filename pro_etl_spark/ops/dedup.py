"""Deduplication operators for training-data pipelines (BASELINE.json
north-star): exact, n-gram Jaccard, MinHash+LSH (Jaccard and
containment measures), SimHash, and embedding-cosine near-dup — each
over ``documents`` / ``embeddings``.

Scale design (100 TB):
- exact dedup is a hash groupBy (one shuffle on the content hash)
- pairwise similarity NEVER runs all-pairs: candidates are generated
  by blocking (source key), LSH band buckets, or SimHash buckets, then
  verified exactly. The all-pairs joins below are *within-block*
  self-joins whose block sizes are bounded (so the join fan-out is
  |block|² per block, not |corpus|²).
- all hashes are the portable md5-derived 60-bit integers from
  ops.text (bit-identical in DuckDB) so every operator here has a full
  value oracle — including MinHash signatures and SimHash bit vectors.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from pro_etl_spark.io import dataset_memo, load
from pro_etl_spark.ops.hashing import DUCK_HASH60, hash60
from pro_etl_spark.registry import register

JACCARD_THRESHOLD = 0.5
MINHASH_PERMS = 16
MINHASH_BANDS = 4  # 4 rows per band
#: skew guard: LSH buckets larger than this are dropped as
#: "too-common" (stop-bucket removal) — without it a degenerate
#: corpus (every doc near-identical, like this synthetic word-salad
#: one) collapses into one giant bucket and the candidate self-join
#: goes quadratic in the corpus instead of quadratic in the bucket.
MAX_BUCKET = 64
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 3
COSINE_THRESHOLD = 0.8

#: Sampled certification (round 10): the EXACT pairwise truth
#: baselines behind the recall-certification keys (`dedup_lsh_eval`,
#: `dedup_shingle_lsh_eval`, `dedup_srp_eval`, and the
#: `dedup_ngram_jaccard` baseline they lean on) are quadratic within
#: their blocks BY DESIGN — they exist to certify the production LSH
#: paths, never to run on a full corpus. Above this row count the
#: baseline restricts itself to a deterministic salted-hash sample of
#: ~CERT_SAMPLE_N rows (the repo's rand()-free sampling discipline:
#: reproducible across engines, reruns, and partitionings), so the
#: certification itself scales: each row survives with probability
#: p = CERT_SAMPLE_N/N, each true pair with p², and the recall ratio
#: over the sampled truth set is a consistent estimator of full
#: recall (the LSH side stays UNSAMPLED — hits are counted against
#: the full production pair table). At or below the threshold —
#: including the sf0.01 grading scale and the sf0.1 bench scale —
#: the gate keeps every row and the semantics are exactly exhaustive.
#: Both engines derive the cutoff from the same COUNT(*) via the
#: same FLOOR(1e6·S/N) double expression, so the sampled set — and
#: therefore every certified number — stays value-exact cross-engine
#: at every SF. (SCALEPROBE_r9 motivation: these four keys were
#: ~590 s of the 996 s full-registry probe at the 10× layout and
#: would be unrunnable at 100×.)
CERT_SAMPLE_N = 5000

#: oracle twin: 1-row cutoff CTE (per-million keep threshold) over
#: the baseline's source table
_CERT_CUT_SQL = (
    "cert AS (SELECT CASE WHEN COUNT(*) <= {n} THEN 1000000"
    " ELSE CAST(FLOOR(1000000.0 * {n} / COUNT(*)) AS BIGINT) END AS cut"
    " FROM {table})"
).format
_CERT_PRED_SQL = (
    DUCK_HASH60.format(x="(CAST({id} AS VARCHAR) || ':cert')")
    + " % 1000000 < cert.cut"
).format


def _pair_spread(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition a pairwise-join probe side with an EXPLICIT
    partition count (2× session parallelism) so the per-pair quadratic
    work of the certification baselines spreads across the cluster.
    The cert-sampled frames are only a few MB, so both the as-scanned
    partitioning (one parquet split) and AQE's small-bytes coalescing
    of a plain ``repartition(col)`` collapse the probe side to ONE
    task — serializing the O(sample²) pair loop regardless of core
    count (measured on the n-gram truth join at sf0.1: 10.5 s → 1.4 s
    from this pin alone). An explicit count is exempt from AQE
    coalescing, and the key is a deterministic hash of the given
    column, so task retries reproduce the same placement (guide §2.5).

    Key choice matters (ADVICE r12): when the pair join is an
    EQUI-join (e.g. label-blocked cosine), spread on the JOIN KEY —
    a row-id spread is discarded by the join's own
    ENSURE_REQUIREMENTS exchange (a dead shuffle), and that implicit
    exchange stays AQE-coalescible, re-serializing the loop. A
    join-key spread is reused as the join's distribution. Row-id
    spreads are for non-equi (theta) pair joins, where the probe side
    keeps its partitioning."""
    n = max(16, 2 * df.sparkSession.sparkContext.defaultParallelism)
    return df.repartition(n, F.col(id_col))


def _cert_sample(
    spark: SparkSession, d: str, df: DataFrame, id_col: str, table: str
) -> DataFrame:
    """Filter ``df`` to the deterministic certification sample: keep
    rows whose salted 60-bit id hash lands under the per-million
    cutoff max-capped at CERT_SAMPLE_N expected rows. The cutoff is a
    broadcast 1-row aggregate (the events_markov_stationary pattern —
    no driver-side count, plan construction stays zero-job) mirroring
    ``_CERT_CUT_SQL`` exactly."""
    cut = F.broadcast(
        load(spark, d, table).agg(
            F.when(
                F.count(F.lit(1)) <= CERT_SAMPLE_N,
                F.lit(1000000).cast("long"),
            )
            .otherwise(
                F.floor(
                    F.lit(1000000.0) * CERT_SAMPLE_N / F.count(F.lit(1))
                )
            )
            .alias("cut")
        )
    )
    keep = (
        hash60(F.concat(F.col(id_col).cast("string"), F.lit(":cert")))
        % 1000000
        < F.col("cut")
    )
    return df.crossJoin(cut).where(keep).drop("cut")

_TOKSET_SQL = r"list_distinct(regexp_split_to_array(trim(text), '\s+'))"


def tokset() -> Column:
    """Distinct unigram token set of a document (the shingle set for
    Jaccard/MinHash; unigrams because the synthetic corpus is
    word-salad — ``dedup_minhash_shingle_lsh`` is the 3-gram-shingle
    production path for real text).

    UNICODE POLICY (pinned by tests/test_properties.py): token hashing
    is BYTE-EXACT over the raw strings — NFC and NFKC variants of the
    same text are *distinct* tokens by design. Rationale: every dedup
    operator carries a DuckDB value oracle, so any normalization must
    be bit-identical in both engines; Spark has no built-in NFC
    function, and routing the dedup hot path through a Python UDF to
    normalize would break the engine's no-row-UDF discipline. Corpora
    that mix normalization forms should NFC-normalize once at ingest
    (where the text is already being decoded), not inside every
    hash-consumer."""
    return F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, d: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, deterministic survivor
    (min doc_id). One shuffle on the 128-bit content hash; at 100 TB
    the hash (not the text) is what shuffles."""
    return (
        load(spark, d, "documents")
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


@register(
    "dedup_exact_normalized",
    oracle=r"""
    SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
             AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies,
           COUNT(DISTINCT md5(text)) AS n_raw_variants
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, d: str) -> DataFrame:
    """Normalized exact dedup — ``dedup_exact`` after the C4-style
    canonicalization crawl pipelines apply first: trim, collapse all
    whitespace runs to one space, lowercase. Catches the trivially
    reformatted copies (case changes, re-wrapped lines, double spaces)
    that byte-exact hashing misses but that aren't worth the near-dup
    machinery. ``n_raw_variants`` counts how many distinct RAW texts
    collapsed into each normalized group — the audit number that says
    what normalization bought. Same scale shape as dedup_exact: one
    shuffle on the 128-bit normalized-content hash (the per-group
    distinct-raw count rides the same exchange). Note this is CASE
    normalization only, not Unicode normalization — the byte-exact
    policy in ``tokset`` still applies to NFC/NFKC variants."""
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return (
        load(spark, d, "documents")
        .groupBy(F.md5(norm).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
            F.countDistinct(F.md5("text")).alias("n_raw_variants"),
        )
    )


@register(
    "dedup_ngram_jaccard",
    baseline_twin="dedup_minhash_lsh",
    oracle=f"""
    WITH {_CERT_CUT_SQL(n=CERT_SAMPLE_N, table="documents")},
    s AS (
      SELECT doc_id, source, {_TOKSET_SQL} AS ts FROM documents, cert
      WHERE {_CERT_PRED_SQL(id="doc_id")}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
                 / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 6)
             AS jaccard
    FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
          / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, d: str) -> DataFrame:
    """N-gram Jaccard near-dup: within-block (source) pairwise Jaccard
    over token sets, τ-thresholded. Blocking bounds the self-join;
    the LSH variant below is the unblocked scale path. This is the
    EXACT BASELINE twin of ``dedup_minhash_lsh`` — above
    ``CERT_SAMPLE_N`` documents it runs on the deterministic
    certification sample (see the constant's docstring); at the
    grading and bench SFs it is exhaustive."""
    s = _cert_sample(
        spark,
        d,
        _token_table(spark, d).select("doc_id", "source", "ts"),
        "doc_id",
        "documents",
    )
    a = _pair_spread(s, "doc_id").alias("a")
    b = s.alias("b")
    sa, sb = F.size(F.col("a.ts")), F.size(F.col("b.ts"))
    # length prefilter: jac >= τ implies |A∩B| >= τ·|A∪B|, and
    # |A∩B| <= min, |A∪B| >= max, so min >= τ·max — checked in exact
    # integer arithmetic (τ as its binary rational, so no IEEE
    # rounding can produce a false negative). A pure implication of
    # the threshold (no result change) that short-circuits the
    # expensive string-array intersect for size-mismatched pairs.
    _tn, _td = float(JACCARD_THRESHOLD).as_integer_ratio()
    lenok = (_td * F.least(sa, sb)) >= (_tn * F.greatest(sa, sb))
    inter = F.size(F.array_intersect(F.col("a.ts"), F.col("b.ts")))
    jac = inter.cast("double") / (sa + sb - inter).cast("double")
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & lenok
            & (jac >= JACCARD_THRESHOLD),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


#: universal-hash modulus for MinHash permutations (Mersenne 2^31−1);
#: base hashes are reduced mod P first so (2j+1)·h + c stays < 2^62
MH_P = 2_147_483_647
MH_C = 99_991


def _minhash_perms(th60: Column) -> Column:
    """MinHash signature from materialized base token hashes via
    universal hashing: h' = h mod P, then permutation j is the affine
    map h_j = ((2j+1)·h' + j·C + 7) mod P — the standard (aX+b) mod P
    family's collision bounds, no per-permutation md5.

    CONTRACT: ``th60`` must be a MATERIALIZED column (cached table or
    lambda-bound variable), never an inline derivation — the
    per-permutation lambda references it once per permutation, so an
    inlined producer expression re-evaluates 16× per row (r12 plan
    read: plans/r12/dedup_minhash_shingle_before.txt node (7), fixed
    by caching the shingle table at the th60 grain)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(MINHASH_PERMS - 1)),
        lambda j: F.array_min(
            F.transform(
                th60,
                lambda h: ((2 * j + 1) * (h % MH_P) + j * MH_C + 7) % MH_P,
            )
        ),
    )


# Shared builder DataFrames go through ``io.dataset_memo``: every
# consumer gets the SAME immutable DataFrame object, so the builder
# subtree is analyzed once per session per dataset, not once per
# consumer (constructing the shingle-LSH pair plan alone is ~1.0 s).


def _token_table(spark: SparkSession, d: str) -> DataFrame:
    """Cached (doc_id, source, ts, th60) table: token sets + raw 60-bit
    token hashes (one md5 per token), computed once per session per
    dataset (Spark's CacheManager matches the identical plan across
    invocations). This is the materialization barrier every hash-fan-out
    operator builds on: Catalyst's CollapseProject would otherwise
    inline the md5 subtree into per-permutation / per-bit lambdas and
    evaluate it once per (token, permutation) — 16× the hashing for
    MinHash, 32× for SimHash (measured: sf0.1 LSH 5.1 s → 3.3 s). At
    100 TB this is the persisted tokenization table next to the corpus."""
    return dataset_memo(
        spark, d, "token_table",
        lambda: (
            load(spark, d, "documents")
            .select("doc_id", "source", tokset().alias("ts"))
            .withColumn("th60", F.transform(F.col("ts"), hash60))
            .cache()
        ),
    )


_MINHASH_SIG_SQL = f"""
      list_transform(range(0, {MINHASH_PERMS}),
        j -> list_min(list_transform(
               list_transform({_TOKSET_SQL}, t -> {DUCK_HASH60.format(x="t")} % {MH_P}),
               h -> ((2*j + 1) * h + j * {MH_C} + 7) % {MH_P})))
"""


@register(
    "dedup_minhash",
    oracle=f"""
    SELECT doc_id, array_to_string({_MINHASH_SIG_SQL}, '-') AS sig
    FROM documents
    """,
)
def dedup_minhash(spark: SparkSession, d: str) -> DataFrame:
    """MinHash signatures (16 universal-hash 'permutations' over the
    md5 token hashes) — the per-document half of MinHash-LSH, verified
    value-exact against the oracle. The signature is emitted '-'-joined
    as one string column: the grading harness canonicalizes results
    through a pandas sort, which cannot factorize ndarray cells, so
    top-level array columns in registered outputs are serialized
    (internally the LSH pipeline keeps the real array form)."""
    return _token_table(spark, d).select(
        "doc_id",
        F.concat_ws(
            "-", _minhash_perms(F.col("th60")).cast("array<string>")
        ).alias("sig"),
    )


#: Shared DuckDB replica of the full MinHash-LSH pair pipeline
#: (signatures → band buckets → frequency cap → in-bucket candidates →
#: exact Jaccard verification). ``dedup_minhash_lsh`` selects straight
#: from its ``pairs`` CTE; ``dedup_clusters`` / ``pipeline_clean_corpus``
#: build their component graph from the SAME CTE, so their oracles stay
#: value-exact while the Spark side consumes LSH candidates (the
#: scale-safe generator) instead of the blocked all-pairs join.
_LSH_PAIRS_CTE = f"""
    WITH sig AS (
      SELECT doc_id,
             list_transform({_TOKSET_SQL}, t -> {DUCK_HASH60.format(x="t")})
               AS th,
             {_MINHASH_SIG_SQL} AS sig
      FROM documents
    ), bands AS (
      SELECT doc_id, th, b.band,
             md5(array_to_string(list_slice(sig, b.band * 4 + 1, b.band * 4 + 4), '-'))
               AS bucket
      FROM sig, (SELECT unnest(range(0, {MINHASH_BANDS})) AS band) b
    ), capped AS (
      SELECT * FROM bands
      QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= {MAX_BUCKET}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             any_value(a.th) AS th_a, any_value(b.th) AS th_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      -- verification intersects the 60-bit token-hash sets, not the
      -- token strings: both engines hash with the identical md5-based
      -- map (DUCK_HASH60 == Spark hash60 by construction), so the
      -- Jaccard value stays bit-identical while long-array intersects
      -- replace string-array intersects on both sides — the standard
      -- MinHash verification shape (hash once, verify on hashes)
      SELECT doc_a, doc_b,
             ROUND(CAST(len(list_intersect(th_a, th_b)) AS DOUBLE)
                   / (len(th_a) + len(th_b) - len(list_intersect(th_a, th_b))), 6)
               AS jaccard
      FROM cand
      WHERE CAST(len(list_intersect(th_a, th_b)) AS DOUBLE)
            / (len(th_a) + len(th_b) - len(list_intersect(th_a, th_b)))
            >= {JACCARD_THRESHOLD}
    )
"""


def _lsh_candidates(tok: DataFrame) -> DataFrame:
    """Stage 1 of MinHash-LSH — candidate ``(doc_a, doc_b)`` pairs from
    band buckets, with NO self-join: the (band, bucket) shuffle carries
    just (doc_id, bucket-hash); each bucket collects its ≤ MAX_BUCKET
    member ids into one row and the (i<j) pairs are generated *inside*
    that row (array transform, at most MAX_BUCKET²/2 per bucket) — the
    shuffle volume is O(docs × bands), never O(pairs), and no subtree
    is computed twice. Shared by Jaccard verification
    (``dedup_minhash_lsh``) and containment scoring
    (``minhash_containment``)."""
    sigs = tok.select("doc_id", _minhash_perms(F.col("th60")).alias("sig"))
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(MINHASH_BANDS - 1)),
                lambda band: F.md5(
                    F.array_join(
                        F.slice(F.col("sig"), band * 4 + 1, 4).cast("array<string>"), "-"
                    )
                ),
            )
        ).alias("band", "bucket"),
    )
    buckets = (
        bands.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids").between(2, MAX_BUCKET))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                # elements strictly after position i (slice is 1-based)
                F.slice(F.col("ids"), i + 2, MAX_BUCKET),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def _lsh_sized_pairs(tok: DataFrame) -> DataFrame:
    """Stage 2 of MinHash-LSH — join the candidate pairs back to the
    cached token-hash sets and materialize the exact set sizes
    ``(doc_a, doc_b, n_inter, n_a, n_b)`` once, so each scoring
    operator (Jaccard / containment) derives its measure without
    re-evaluating the intersect.

    Join order: NEITHER lookup carries a broadcast hint. The pair set
    is ids only (~16 B/row) and per-bucket bounded (≤ bands ×
    MAX_BUCKET²/2 per bucket), but NOT globally bounded — a
    pathological corpus (many full buckets) could blow a forced
    broadcast at 100 TB. AQE broadcasts each lookup at runtime when
    the pair side is actually small (always true locally — pinned by
    tests/test_plans.py) and falls back to a shuffle-hash join on the
    doc key otherwise — the conditionality lives in the optimizer,
    not in a hard-coded hint."""
    th = tok.select("doc_id", F.col("th60").alias("th"))
    cand = _lsh_candidates(tok)
    paired = (
        th.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("th", "th_a")
        .join(cand, "doc_a")
        .join(
            th.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("th", "th_b"),
            "doc_b",
        )
    )
    # evaluate the intersect ONCE: materialize sizes in a projection,
    # then filter — keeps array_intersect out of both the filter and
    # the final select
    return paired.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect(F.col("th_a"), F.col("th_b")))
        .cast("double")
        .alias("n_inter"),
        F.size(F.col("th_a")).alias("n_a"),
        F.size(F.col("th_b")).alias("n_b"),
    )


@register(
    "dedup_minhash_lsh",
    oracle=_LSH_PAIRS_CTE + "SELECT doc_a, doc_b, jaccard FROM pairs",
)
def dedup_minhash_lsh(spark: SparkSession, d: str) -> DataFrame:
    """MinHash + LSH near-dup: signature → 4 bands × 4 rows → band
    buckets → candidate pairs from bucket self-join → exact Jaccard
    verification. The 100 TB path: the only shuffle keys are (band,
    bucket-hash); no all-pairs join ever materializes, and the
    MAX_BUCKET frequency cap bounds the per-bucket fan-out (the LSH
    analogue of AQE's skew-join splitting: a bucket shared by the
    whole corpus is noise, not signal).

    Tokenize + base-hash ONCE: the cached (ts, th) table feeds BOTH
    the signature stage and the exact-verification stage (at scale
    this is the persisted token table next to the signature table).
    Verification consumes the 60-bit hash arrays (th60), not the
    token strings: long-array intersects are measurably cheaper than
    string-array intersects (sf0.1: ~20% off the verify stage) and
    the Jaccard stays bit-identical because DuckDB applies the same
    md5-based hash to the same token sets (see _LSH_PAIRS_CTE)."""
    def build():
        sized = _lsh_sized_pairs(_token_table(spark, d))
        jac = F.col("n_inter") / (
            F.col("n_a") + F.col("n_b") - F.col("n_inter")
        )
        # cached: the verified pair set is consumed by dedup_clusters,
        # pipeline_clean_corpus, and graph_pagerank in the same session
        # — Spark's CacheManager matches the identical plan, so LSH
        # runs once per dataset (at 100 TB this is the persisted pair
        # table). dataset_memo additionally hands every consumer the
        # same DataFrame object, so the pair PLAN is analyzed once too.
        return (
            sized.where(jac >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
            .cache()
        )

    return dataset_memo(spark, d, "minhash_lsh_pairs", build)


#: near-containment threshold (|A∩B| / min|A|,|B|): higher than the
#: Jaccard τ because containment ≥ Jaccard by construction
CONTAINMENT_THRESHOLD = 0.7


@register(
    "minhash_containment",
    oracle=_LSH_PAIRS_CTE
    + f"""
    SELECT doc_a, doc_b,
           ROUND(CAST(len(list_intersect(th_a, th_b)) AS DOUBLE)
                 / LEAST(len(th_a), len(th_b)), 6) AS containment
    FROM cand
    WHERE CAST(len(list_intersect(th_a, th_b)) AS DOUBLE)
          / LEAST(len(th_a), len(th_b)) >= {CONTAINMENT_THRESHOLD}
    """,
)
def minhash_containment(spark: SparkSession, d: str) -> DataFrame:
    """Near-containment detection over the SAME LSH candidate pairs as
    ``dedup_minhash_lsh``: score = |A∩B| / min(|A|, |B|) instead of
    Jaccard. Containment catches document-inside-document duplication
    (a page embedded in a longer crawl, a quoted article, boilerplate
    wrappers) that Jaccard systematically misses when sizes differ —
    |A∩B|/|A∪B| is dragged down by the larger doc, while containment
    is size-invariant for the smaller one. Same 100 TB shape as the
    Jaccard twin: band-bucket candidates, broadcast pair probe, exact
    scoring on the cached token-hash sets; only the final measure
    differs (shared ``_lsh_sized_pairs`` stage). Integer-over-integer
    division, so the doubles are bit-identical cross-engine."""
    sized = _lsh_sized_pairs(_token_table(spark, d))
    cont = F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b"))
    return sized.where(cont >= CONTAINMENT_THRESHOLD).select(
        "doc_a", "doc_b", F.round(cont, 6).alias("containment")
    )


def _simhash_from_hashes(th60: Column) -> Column:
    """32-bit SimHash from materialized raw token hashes: per token,
    each bit of its hash votes ±1; the fingerprint sets bit b where the
    vote sum is positive. Bit indices are Python-level constants
    (shiftright takes a literal), so the per-token vote vector is an
    array literal of 32 expressions — operating on the pre-computed
    hash (see ``_token_table``: inlining the md5 here would evaluate it
    once per bit)."""

    def votes(h: Column) -> Column:
        return F.array(
            *[
                F.when(F.shiftright(h, b).bitwiseAND(1) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                for b in range(SIMHASH_BITS)
            ]
        )

    bitvotes = F.aggregate(
        th60,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(acc, votes(h), lambda a, v: a + v),
    )
    out = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        out = out + F.when(
            F.element_at(bitvotes, b + 1) > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return out


def _simhash_table(spark: SparkSession, d: str) -> DataFrame:
    """Cached (doc_id, source, simhash) fingerprint table — the
    interpreted vote-fold runs once per session per dataset and all
    three SimHash operators (fingerprints, blocked pairs, Hamming-LSH)
    read the cached result instead of re-folding per join side."""
    return dataset_memo(
        spark, d, "simhash_table",
        lambda: (
            _token_table(spark, d)
            .select(
                "doc_id",
                "source",
                _simhash_from_hashes(F.col("th60")).alias("simhash"),
            )
            .cache()
        ),
    )


_SIMHASH_SQL = f"""
      list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, {SIMHASH_BITS})),
        (acc, bit) -> acc + CASE WHEN
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform({_TOKSET_SQL},
                t -> CASE WHEN ({DUCK_HASH60.format(x='t')} >> bit) & 1 = 1
                          THEN 1 ELSE -1 END)),
              (a, v) -> a + v) > 0
          THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
"""


@register(
    "dedup_simhash",
    oracle=f"""
    SELECT doc_id, {_SIMHASH_SQL} AS simhash
    FROM documents
    """,
)
def dedup_simhash(spark: SparkSession, d: str) -> DataFrame:
    """SimHash fingerprints (32-bit, ±1 bit votes over the token set),
    value-exact against the oracle. Near-dup = small Hamming distance;
    at scale candidates come from bucketing on bit-chunks of the
    fingerprint (Hamming-LSH), then exact verification."""
    return _simhash_table(spark, d).select("doc_id", "simhash")


@register(
    "dedup_simhash_pairs",
    baseline_twin="dedup_simhash_lsh",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source, {_SIMHASH_SQL} AS simhash FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, d: str) -> DataFrame:
    """SimHash near-dup pairs: within-block self-join, Hamming ≤ 3."""
    s = _simhash_table(spark, d)
    a = s.alias("a")
    b = s.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(hamming <= SIMHASH_MAX_HAMMING)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
    )


#: Hamming-LSH chunking: 32-bit fingerprint → 4 chunks of 8 bits. By
#: pigeonhole, two fingerprints within Hamming distance 3 agree exactly
#: on ≥ 1 chunk, so bucketing on (chunk_idx, chunk_value) has 100%
#: recall at the ≤3 threshold. 8-bit chunks (256 buckets/chunk) match
#: the 32-bit fingerprint width used throughout; at production scale
#: the fingerprint widens to 64 bits and the chunks to 16 bits (65 536
#: buckets/chunk) so per-bucket membership stays bounded.
SIMHASH_CHUNKS = 4
SIMHASH_MAX_BUCKET = 1024

_SIMHASH_LSH_SQL = f"""
    WITH s AS (
      SELECT doc_id, {_SIMHASH_SQL} AS simhash FROM documents
    ), chunks AS (
      SELECT doc_id, simhash, c.chunk,
             (simhash >> (c.chunk * 8)) & 255 AS bucket
      FROM s, (SELECT unnest(range(0, {SIMHASH_CHUNKS})) AS chunk) c
    ), capped AS (
      SELECT * FROM chunks
      QUALIFY COUNT(*) OVER (PARTITION BY chunk, bucket) <= {SIMHASH_MAX_BUCKET}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM capped a JOIN capped b
      ON a.chunk = b.chunk AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


@register("dedup_simhash_lsh", oracle=_SIMHASH_LSH_SQL)
def dedup_simhash_lsh(spark: SparkSession, d: str) -> DataFrame:
    """SimHash near-dup via Hamming-LSH bucketing — the non-quadratic
    scale path for the SimHash family: fingerprint → 4 × 8-bit chunk
    buckets → in-bucket candidate pairs (generated in-row, same shape
    as ``dedup_minhash_lsh``) → exact Hamming ≤ 3 verification. The
    only shuffle key is (chunk, chunk_value); no all-pairs or blocked
    self-join ever materializes. The fingerprint (one long) rides along
    in the bucket row, so verification needs no join back to the corpus
    at all."""
    s = _simhash_table(spark, d).select("doc_id", "simhash")
    chunks = s.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_CHUNKS - 1}),"
                " c -> shiftright(simhash, c * 8) & 255)"
            )
        ).alias("chunk", "bucket"),
        "simhash",
    )
    buckets = (
        chunks.groupBy("chunk", "bucket")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias(
                "members"
            )
        )
        .where(F.size("members").between(2, SIMHASH_MAX_BUCKET))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("members"),
            lambda x, i: F.transform(
                F.slice(F.col("members"), i + 2, SIMHASH_MAX_BUCKET),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    x["simhash"].alias("sim_a"),
                    y["doc_id"].alias("doc_b"),
                    y["simhash"].alias("sim_b"),
                ),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.*")
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long")
    return cand.where(hamming <= SIMHASH_MAX_HAMMING).select(
        "doc_a", "doc_b", hamming.alias("hamming")
    )


# --- the pair graph -------------------------------------------------------
# Connected components below and every operator of ops.graph run on one
# graph: the undirected graph whose edges are the (doc_a, doc_b) rows of
# a verified pair table. These helpers and their SQL twins define it.


def sym_edges(pairs: DataFrame) -> DataFrame:
    """The pair graph as a directed edge list ``(src, dst)``: both
    directions of every ``(doc_a, doc_b)`` pair, so a node's neighbors
    are the ``dst`` of its ``src`` rows. SQL twin: ``_SYM_EDGES_CTE``."""
    return pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )


def smallest_nodes(edges: DataFrame, k: int) -> DataFrame:
    """The ``k`` smallest node ids of a ``sym_edges`` list (all of them
    when there are fewer) as one ``node`` column: the deterministic
    seed set of BFS, PPR and landmark closeness. SQL twin:
    ``_smallest_nodes_sql``."""
    return edges.select(F.col("src").alias("node")).distinct().orderBy("node").limit(k)


def endpoint_degree(
    pairs: DataFrame, node: str = "node", degree: str = "degree"
) -> DataFrame:
    """Per-node degree of the pair graph, ``(node, degree)`` under the
    given names: the number of pairs each id is an endpoint of. Equal
    to ``sym_edges(pairs).groupBy("src").count()`` (the SQL side's
    ``GROUP BY src`` over ``_SYM_EDGES_CTE``) but aggregates one id
    column instead of the two-column edge list."""
    return (
        pairs.select(F.col("doc_a").alias(node))
        .unionAll(pairs.select(F.col("doc_b").alias(node)))
        .groupBy(node)
        .agg(F.count("*").alias(degree))
    )


#: SQL twin of ``sym_edges``, appended to a ``pairs`` CTE. DuckDB
#: inlines a plain CTE at every reference, and the unrolled-round graph
#: oracles reference their edge list and their previous round several
#: times each, so every round would re-derive the whole chain below it
#: (the plan doubles per round and ran the tests out of memory).
#: MATERIALIZED evaluates it once; it changes how DuckDB evaluates the
#: oracle, never what it returns.
_SYM_EDGES_CTE = """
    , edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    )"""


def _smallest_nodes_sql(k: int) -> str:
    """SQL twin of ``smallest_nodes`` over an ``edges`` CTE."""
    return f"SELECT DISTINCT src AS node FROM edges ORDER BY node LIMIT {k}"


#: connected-components tail appended to a pairs CTE: the labeling
#: ``lp(node, cluster_id)`` via a recursive-CTE fixpoint — shared by
#: the unigram and shingle cluster oracles.
_CC_TAIL_CTE = _SYM_EDGES_CTE + """, nodes AS (
      SELECT DISTINCT src AS node FROM edges
    ), lp AS (
      -- fixpoint min-label propagation: every label reachable from a
      -- node is enumerated; MIN per node = component id
      WITH RECURSIVE reach(node, label) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, reach.label FROM reach JOIN edges e ON reach.node = e.src
      )
      SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node
    )
"""

#: pairs CTE extended to the connected-components labeling — shared by
#: ``dedup_clusters``' oracle and by composers that pick per-cluster
#: canonicals (ops.corpus).
_CLUSTERS_CTE = _LSH_PAIRS_CTE + _CC_TAIL_CTE


@register(
    "dedup_clusters",
    oracle=_CLUSTERS_CTE
    + """
    SELECT node AS doc_id, cluster_id,
           (node = cluster_id) AS is_survivor
    FROM lp
    """,
)
def dedup_clusters(spark: SparkSession, d: str) -> DataFrame:
    """Duplicate clustering: connected components over the near-dup
    pair graph, survivor = min doc id per component — the step that
    turns pairwise matches into keep/drop decisions.

    Candidate edges come from ``dedup_minhash_lsh`` — the scale-safe
    generator (band-bucket shuffle, O(docs×bands), exact-verified
    Jaccard ≥ τ) — NOT from the blocked all-pairs self-join, whose
    O(N²/blocks) candidate growth would dominate at corpus scale. The
    oracle replicates the same LSH pipeline in SQL, so the check stays
    value-exact.

    Spark-native iterative min-label propagation (the Pregel pattern as
    plain DataFrame ops): each round joins current labels across the
    symmetric edge list and keeps the per-node min; converges in
    O(diameter) rounds (bounded at 15; near-dup components are
    low-diameter in practice). Each round is one shuffle; lineage is
    truncated with localCheckpoint so plans don't grow exponentially —
    the same loop runs at 100 TB (this is how GraphFrames/GraphX do CC).
    Convergence probe: labels only ever decrease, so SUM(label) is
    stationary iff the labeling is — one cheap agg over the checkpointed
    frame per round instead of a join.
    The oracle recomputes components with a recursive-CTE fixpoint.

    The converged result is memoized per (session, dataset):
    ``pipeline_clean_corpus`` composes on this operator, and the
    checkpoint-id-bearing plans would defeat Spark's own plan-equality
    cache matching — memoizing the driver loop's output avoids running
    LSH + propagation twice per sweep.
    """
    return dataset_memo(
        spark, d, "clusters_unigram",
        lambda: _cc_min_label(
            dedup_minhash_lsh(spark, d).select("doc_a", "doc_b")
        ),
    )


def _cc_min_label(pairs: DataFrame) -> DataFrame:
    """Connected components over a verified pair table via min-label
    propagation WITH pointer doubling (the Pregel pattern as plain
    DataFrame ops). Each round does two steps:

    1. edge propagation — join current labels across the symmetric
       edge list, keep the per-node min (one hop per round);
    2. label flattening — replace each node's label with its label's
       label (``label(label(n)) ≤ label(n)`` because every label is
       itself a node pointing at an equal-or-smaller label). This is
       pointer doubling: the distance to the component minimum halves
       every round, so convergence is O(log diameter) rounds, not
       O(diameter) — a 15-round cap covers diameters past 2¹⁵ (the
       sparse embedding pair graph at sf0.1 holds a chain longer than
       15 hops, which 15 rounds of pure propagation cannot span).

    Two keyed shuffles per round over the pair-graph NODES only;
    lineage truncated with localCheckpoint so plans don't grow
    exponentially — the same loop runs at 100 TB (GraphFrames' CC uses
    the same large-star/small-star doubling idea). Convergence probe:
    labels only ever decrease, so SUM(label) is stationary iff the
    labeling is — one cheap agg over the checkpointed frame per round,
    not a join. Returns (doc_id, cluster_id, is_survivor), survivor =
    min id."""
    # lazy: the first round's convergence-probe collect materializes the
    # edge RDD along with round 1 in one job, where an eager checkpoint
    # would be a job of its own
    edges = sym_edges(pairs).localCheckpoint(eager=False)

    def label_sum(lbl: DataFrame):
        # DECIMAL(38) accumulator: immune to long overflow even with
        # billions of 64-bit ids (ANSI mode would throw on long sum)
        return lbl.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0] or 0

    # Round 1 is one aggregate. Every label starts as the node itself,
    # so the propagation join reads src directly: hop₁(n) = min(n,
    # min{src: (src, n) ∈ edges}) = groupBy(dst) MIN(least(dst, src)),
    # and since every node appears as a dst no separate init frame is
    # needed. No convergence check runs before round 1: any nonempty
    # edge list strictly lowers the label sum in it (each edge's larger
    # endpoint adopts the smaller id). An empty graph runs one empty
    # round.
    prev_sum = None
    labels = None
    changed = 1
    for _ in range(15):
        if labels is None:
            hop = (
                edges.groupBy(F.col("dst").alias("node"))
                .agg(F.min(F.least(F.col("dst"), F.col("src"))).alias("label"))
            )
        else:
            prop = (
                edges.join(labels, edges["src"] == labels["node"])
                .select(F.col("dst").alias("node"), "label")
            )
            hop = (
                labels.unionByName(prop)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
        # pointer doubling: label(label(node)) — left join because the
        # component minimum's own label is itself (no row needed) and
        # every label IS a node of the same graph
        parent = hop.select(
            F.col("node").alias("label"), F.col("label").alias("gl")
        )
        new_labels = (
            hop.join(parent, "label", "left")
            .select("node", F.coalesce("gl", "label").alias("label"))
            .localCheckpoint(eager=False)
        )
        # per-node min over a superset only ever lowers labels, so the
        # total is strictly decreasing until the fixpoint
        cur_sum = label_sum(new_labels)
        changed = 0 if cur_sum == prev_sum else 1
        prev_sum = cur_sum
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # fail loudly rather than return a partially-propagated labeling
        # (a huge-diameter component would otherwise silently yield
        # multiple survivors per real cluster)
        raise RuntimeError(
            "min-label propagation did not converge within 15 doubling "
            "rounds — component diameter exceeds 2^15; raise the cap"
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_survivor"),
    )


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right dot product (same fold order as the
    oracle's list_reduce → bit-identical doubles)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


DUCK_DOT = """
  list_reduce(list_prepend(CAST(0 AS DOUBLE),
    list_transform(range(1, 65),
      i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))),
    (acc, v) -> acc + v)
"""


def cosine(
    a_emb: str = "q_emb",
    a_nrm: str = "q_nrm",
    b_emb: str = "embedding",
    b_nrm: str = "nrm",
) -> Column:
    """Exact cosine of two (embedding, norm) column pairs: the ``dot``
    fold over the product of the cached norms — the oracle's
    ``DUCK_DOT / (a.nrm * b.nrm)``. The defaults score a query frame's
    ``q_emb``/``q_nrm`` against ``corpus_table`` columns."""
    return dot(F.col(a_emb), F.col(b_emb)) / (F.col(a_nrm) * F.col(b_nrm))


def cosine_pairs(
    a: DataFrame, b: DataFrame, block: str, threshold: float
) -> DataFrame:
    """Blocked cosine self-join of two ``corpus_table``-shaped frames:
    pairs sharing the ``block`` column with ``vec_a < vec_b`` and
    cosine ≥ ``threshold``, as ``(vec_a, vec_b, cosine)`` rounded to 6
    places. The only shuffle key is the block, so the quadratic work is
    Σ|block|²; ``a`` may be a spread copy of ``b`` (see
    ``_pair_spread``)."""
    cos = cosine("a.embedding", "a.nrm", "b.embedding", "b.nrm")
    return (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col(f"a.{block}") == F.col(f"b.{block}"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(cos >= threshold)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cosine"),
        )
    )


def corpus_table(spark: SparkSession, d: str) -> DataFrame:
    """Cached (vec_id, label, embedding, nrm) corpus — the shared
    materialization barrier for every cosine operator (ANN brute/IVF,
    embedding dedup): the norm is an interpreted 64-element fold, so
    computing it once per session per dataset instead of once per
    query is the same win ``_token_table`` gives the hash family. At
    100 TB this is the persisted `nrm` column stored next to the
    embeddings.

    Repartitioned by vec_id to the session's core count before the
    cache (same rationale as ``similarity._emb_table``): vector work
    is compute-dense, and the few-MB corpus otherwise inherits 1-2
    parquet splits, serializing every blocked cosine self-join onto
    2 of 32 cores."""
    par = spark.sparkContext.defaultParallelism
    e = load(spark, d, "embeddings")
    return dataset_memo(
        spark, d, "corpus_table",
        lambda: (
            e.select(
                "vec_id",
                "label",
                "embedding",
                F.sqrt(
                    dot(F.col("embedding"), F.col("embedding"))
                ).alias("nrm"),
            )
            .repartition(par, "vec_id")
            .cache()
        ),
    )


@register(
    "dedup_embedding_cosine",
    baseline_twin="dedup_embedding_cosine_ivf",
    oracle=f"""
    WITH {_CERT_CUT_SQL(n=CERT_SAMPLE_N, table="embeddings")},
    e AS (
      SELECT vec_id, label, embedding,
             sqrt({DUCK_DOT.format(a="embedding", b="embedding")}) AS nrm
      FROM embeddings, cert
      WHERE {_CERT_PRED_SQL(id="vec_id")}
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({DUCK_DOT.format(a="a.embedding", b="b.embedding")}
                 / (a.nrm * b.nrm), 6) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {DUCK_DOT.format(a="a.embedding", b="b.embedding")}
          / (a.nrm * b.nrm) >= {COSINE_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, d: str) -> DataFrame:
    """Embedding near-dup: within-cluster (label-blocked) pairwise
    cosine ≥ τ. At scale the blocks come from a coarse quantizer (IVF
    cells) so the self-join stays per-cell — this label-blocked form
    is the EXACTNESS BASELINE for the family (its blocks grow with
    the corpus), so above ``CERT_SAMPLE_N`` vectors it runs on the
    deterministic certification sample (see that constant's
    docstring); at the grading and bench SFs it is exhaustive."""
    e = _cert_sample(
        spark, d, corpus_table(spark, d), "vec_id", "embeddings"
    )
    # Spread on the JOIN KEY, not vec_id: this is an equi-join on
    # label, so the join's own label exchange would discard a vec_id
    # spread (one extra shuffle) and AQE would coalesce the quadratic
    # loop onto one task. The explicit-count label repartition is
    # exempt from coalescing and is reused as the join's distribution,
    # so per-label pair loops run one task per label. The cos ≥ τ
    # filter is pushed into the join condition either way, so the fold
    # runs once per candidate and once per survivor.
    return cosine_pairs(
        _pair_spread(e, "label"), e, "label", COSINE_THRESHOLD
    )


@register(
    "dedup_minhash_estimate",
    oracle=f"""
    WITH sig AS (
      SELECT doc_id,
             list_transform({_TOKSET_SQL}, t -> {DUCK_HASH60.format(x="t")})
               AS th,
             {_MINHASH_SIG_SQL} AS sig
      FROM documents
    ), bands AS (
      SELECT doc_id, b.band,
             md5(array_to_string(list_slice(sig, b.band * 4 + 1, b.band * 4 + 4), '-'))
               AS bucket
      FROM sig, (SELECT unnest(range(0, {MINHASH_BANDS})) AS band) b
    ), capped AS (
      SELECT * FROM bands
      QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= {MAX_BUCKET}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), m AS (
      SELECT c.doc_a, c.doc_b,
             len(list_filter(
               list_transform(range(1, {MINHASH_PERMS + 1}),
                              i -> sa.sig[i] = sb.sig[i]),
               x -> x)) AS n_match,
             len(list_intersect(sa.th, sb.th)) AS li,
             len(sa.th) + len(sb.th) - len(list_intersect(sa.th, sb.th)) AS lu
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_match AS BIGINT) AS n_sig_match,
           CAST(n_match AS DOUBLE) / {MINHASH_PERMS} AS est_jaccard,
           ROUND(CAST(li AS DOUBLE) / lu, 6) AS jaccard,
           ROUND(ABS(CAST(n_match AS DOUBLE) / {MINHASH_PERMS}
                     - CAST(li AS DOUBLE) / lu), 6) AS abs_err
    FROM m
    """,
)
def dedup_minhash_estimate(spark: SparkSession, d: str) -> DataFrame:
    """Sketch-accuracy audit for the MinHash pipeline: for every LSH
    candidate pair, the signature-agreement Jaccard ESTIMATE
    (matching permutations / 16 — the only similarity a
    signature-only system ever sees) next to the EXACT token-set
    Jaccard and the absolute error. This is the calibration report
    that justifies the band/row configuration: E[est] = J, and the
    observed error distribution tells you whether 16 permutations are
    enough for the corpus before you commit to signature-only dedup
    at full scale.

    Scale: candidates come from the SAME bounded LSH generator as
    production dedup (no all-pairs anywhere); signatures and token
    hashes come from the cached token table, so the audit adds two
    key-joins over pair-sized data — at 100 TB you run it on a
    sampled corpus slice and keep the same plan."""
    tok = _token_table(spark, d)
    cand = _lsh_candidates(tok)
    sigs = tok.select(
        "doc_id",
        _minhash_perms(F.col("th60")).alias("sig"),
        F.col("th60").alias("th"),
    )
    j = (
        cand.join(
            sigs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sig").alias("sig_a"),
                F.col("th").alias("th_a"),
            ),
            "doc_a",
        )
        .join(
            sigs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sig").alias("sig_b"),
                F.col("th").alias("th_b"),
            ),
            "doc_b",
        )
    )
    n_match = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    li = F.size(F.array_intersect("th_a", "th_b"))
    lu = F.size("th_a") + F.size("th_b") - li
    est = n_match.cast("double") / MINHASH_PERMS
    exact = li.cast("double") / lu
    return j.select(
        "doc_a",
        "doc_b",
        n_match.cast("long").alias("n_sig_match"),
        est.alias("est_jaccard"),
        F.round(exact, 6).alias("jaccard"),
        F.round(F.abs(est - exact), 6).alias("abs_err"),
    )


#: Horner radix for the order-sensitive shingle hash: each 3-word
#: shingle hashes as ((h_i·R + h_{i+1}) mod P·R + h_{i+2}) mod P over
#: the per-token md5 hashes reduced mod P — one md5 per token POSITION
#: instead of one per ~3×-longer concatenated shingle string (the
#: round-6 plan audit's remaining 9.5 s). R < 2^31 keeps every
#: intermediate below 2^62, overflow-free in both engines' BIGINTs.
SH_R = 1_000_003

_TOKSEQ_SQL = r"regexp_split_to_array(trim(text), '\s+')"

#: shared oracle prefix: raw per-position token hashes (order kept),
#: then the DISTINCT Horner shingle-hash set, then the MinHash
#: signature over it — the shingle analogue of _MINHASH_SIG_SQL.
_SHINGLE_CTE = f"""
    WITH seqs AS (
      SELECT doc_id, source,
             list_transform({_TOKSEQ_SQL},
                            t -> {DUCK_HASH60.format(x="t")} % {MH_P}) AS th_seq
      FROM documents
      WHERE len({_TOKSEQ_SQL}) >= 3
    ), sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(range(1, len(th_seq) - 1),
               i -> ((th_seq[i] * {SH_R} + th_seq[i + 1]) % {MH_P}
                     * {SH_R} + th_seq[i + 2]) % {MH_P})) AS th
      FROM seqs
    ), sig AS (
      SELECT doc_id, source, th,
             list_transform(range(0, {MINHASH_PERMS}),
               j -> list_min(list_transform(th,
                      h -> ((2*j + 1) * h + j * {MH_C} + 7) % {MH_P})))
               AS sig
      FROM sh
    )
"""


def _shingle_table(spark: SparkSession, d: str) -> DataFrame:
    """Cached (doc_id, source, th60) table of DISTINCT order-sensitive
    3-shingle hashes — the shingle analogue of ``_token_table`` and the
    base every shingle-LSH operator composes on.

    Hashing strategy (round-7 speedup): md5 runs once per token
    POSITION (the raw sequence — order matters, so no list_distinct
    before hashing), reduced mod MH_P; each shingle hash is the Horner
    mix of three of those values — three multiply-adds replacing an
    md5 over the concatenated shingle string. Docs under 3 tokens have
    no shingle set and are filtered on both sides.

    r12: the cache barrier moved from the per-token sequence to the
    FINISHED shingle-hash set. The old shape cached ``th_seq`` and
    left ``th60`` a single-use projection, so CollapseProject inlined
    the Horner+``array_distinct`` derivation into every consumer
    lambda — 16× per row under ``_minhash_perms``, and once per row
    per JOIN SIDE in ``_lsh_sized_pairs`` and the eval truth joins.
    ``_let`` binds the token-hash sequence to a lambda variable
    (evaluated once per row — the in-plan form of the round-6 cache
    lesson: ``element_at`` into an unbound transform would re-run the
    md5 subtree per element), so the whole derivation is one narrow
    pass and every consumer reads the materialized set."""
    from pro_etl_spark.ops.multimodal import _let

    toks = F.split(F.trim(F.col("text")), r"\s+")  # RAW sequence

    def sh(ts):
        def h(i):
            return F.element_at(ts, i)

        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - 2),
                lambda i: ((h(i) * SH_R + h(i + 1)) % MH_P * SH_R + h(i + 2))
                % MH_P,
            )
        )

    return dataset_memo(
        spark, d, "shingle_table",
        lambda: (
            load(spark, d, "documents")
            .where(F.size(toks) >= 3)
            .select(
                "doc_id",
                "source",
                _let(
                    F.transform(toks, lambda t: hash60(t) % MH_P), sh
                ).alias("th60"),
            )
            .cache()
        ),
    )


@register(
    "dedup_minhash_shingle",
    oracle=_SHINGLE_CTE
    + """
    SELECT doc_id, array_to_string(sig, '-') AS sig FROM sig
    """,
)
def dedup_minhash_shingle(spark: SparkSession, d: str) -> DataFrame:
    """MinHash over 3-word SHINGLES — the real-text configuration the
    unigram ``dedup_minhash`` docstring promises (unigram sets saturate
    on natural language; shingles preserve local order so the Jaccard
    estimate tracks edit locality). Same universal-hash permutations,
    same signature layout — swap the token set, keep the pipeline:
    ``dedup_minhash_shingle_lsh`` band-buckets and verifies on this
    exact table. Narrow map-only scan; one md5 per token position +
    three multiply-adds per shingle (see ``_shingle_table``)."""
    return _shingle_table(spark, d).select(
        "doc_id",
        F.concat_ws(
            "-", _minhash_perms(F.col("th60")).cast("array<string>")
        ).alias("sig"),
    )


#: the band→bucket→cap→candidate→verify tail shared by the unigram
#: (_LSH_PAIRS_CTE) and shingle LSH oracles — identical SQL text, only
#: the upstream ``sig`` CTE differs (token-set hashes vs shingle
#: hashes; both expose (doc_id, th, sig)).
_LSH_TAIL_CTE = f"""
    , bands AS (
      SELECT doc_id, th, b.band,
             md5(array_to_string(list_slice(sig, b.band * 4 + 1, b.band * 4 + 4), '-'))
               AS bucket
      FROM sig, (SELECT unnest(range(0, {MINHASH_BANDS})) AS band) b
    ), capped AS (
      SELECT * FROM bands
      QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= {MAX_BUCKET}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             any_value(a.th) AS th_a, any_value(b.th) AS th_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
      SELECT doc_a, doc_b,
             ROUND(CAST(len(list_intersect(th_a, th_b)) AS DOUBLE)
                   / (len(th_a) + len(th_b) - len(list_intersect(th_a, th_b))), 6)
               AS jaccard
      FROM cand
      WHERE CAST(len(list_intersect(th_a, th_b)) AS DOUBLE)
            / (len(th_a) + len(th_b) - len(list_intersect(th_a, th_b)))
            >= {JACCARD_THRESHOLD}
    )
"""

_SHINGLE_LSH_CTE = _SHINGLE_CTE + _LSH_TAIL_CTE


@register(
    "dedup_minhash_shingle_lsh",
    oracle=_SHINGLE_LSH_CTE + "SELECT doc_a, doc_b, jaccard FROM pairs",
)
def dedup_minhash_shingle_lsh(spark: SparkSession, d: str) -> DataFrame:
    """Shingle-MinHash + LSH near-dup pairs — the PRODUCTION near-dup
    configuration for real text (unigram sets saturate on natural
    language: two documents over the same vocabulary look identical to
    set-Jaccard; 3-shingles keep local order, so only genuinely
    overlapping prose pairs survive verification). The pipeline is
    ``dedup_minhash_lsh``'s, unchanged, over the shingle-hash table:
    signature → 4 bands × 4 rows → band buckets (the ONLY shuffle
    keys) → in-row pair expansion under the MAX_BUCKET cap → exact
    shingle-Jaccard verification on the cached hash sets. Same scale
    shape: shuffle volume O(docs × bands), never O(pairs).

    Cached: ``pipeline_data_funnel``'s near-dup stage and
    ``dedup_shingle_lsh_eval`` consume this verified pair table in the
    same session (at 100 TB it is the persisted shingle-pair table)."""
    def build():
        sized = _lsh_sized_pairs(_shingle_table(spark, d))
        jac = F.col("n_inter") / (
            F.col("n_a") + F.col("n_b") - F.col("n_inter")
        )
        return (
            sized.where(jac >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
            .cache()
        )

    # dataset_memo: analyzing this pair plan alone cost ~1.0 s and it
    # is embedded by pipeline_data_funnel, the shingle clusters/eval
    # keys and graph loops — one shared DataFrame object pays it once.
    return dataset_memo(spark, d, "shingle_lsh_pairs", build)


@register(
    "dedup_shingle_lsh_eval",
    oracle=_SHINGLE_LSH_CTE + f"""
    , {_CERT_CUT_SQL(n=CERT_SAMPLE_N, table="documents")},
    sh_s AS (
      SELECT s.* FROM sh s, cert WHERE {_CERT_PRED_SQL(id="s.doc_id")}
    ), truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh_s a JOIN sh_s b
        ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.th, b.th)) AS DOUBLE)
            / (len(a.th) + len(b.th) - len(list_intersect(a.th, b.th)))
            >= {JACCARD_THRESHOLD}
    ), lsh AS (SELECT doc_a, doc_b FROM pairs),
    hit AS (
      SELECT t.doc_a FROM truth t
      JOIN lsh l ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b
    ), src AS (SELECT doc_id, source FROM documents)
    SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM hit) AS n_hit,
           CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
             / NULLIF((SELECT COUNT(*) FROM truth), 0) AS recall,
           (SELECT COUNT(*) FROM lsh
            JOIN src sa ON sa.doc_id = lsh.doc_a
            JOIN src sb ON sb.doc_id = lsh.doc_b
            WHERE sa.source <> sb.source) AS n_cross_source_extra
    """,
)
def dedup_shingle_lsh_eval(spark: SparkSession, d: str) -> DataFrame:
    """Recall certification of the SHINGLE-LSH path against the exact
    source-blocked 3-gram baseline — the same contract as
    ``dedup_lsh_eval`` certifies for the unigram path: every LSH pair
    is exact-verified (precision 1 by construction), so the numbers
    that matter are banding recall within the baseline's blocks and
    the TRUE cross-source pairs LSH finds that blocking is
    structurally blind to. The quadratic truth join is within-source
    blocks only and exists exclusively here (an eval, never a
    production path); it intersects the CACHED shingle-hash sets, so
    no re-hashing happens on either side. Above ``CERT_SAMPLE_N``
    documents the truth side runs on the deterministic certification
    sample (see the constant's docstring); the LSH side stays
    unsampled."""
    sh = _cert_sample(spark, d, _shingle_table(spark, d), "doc_id", "documents")
    a, b = _pair_spread(sh, "doc_id").alias("a"), sh.alias("b")
    sa, sb = F.size(F.col("a.th60")), F.size(F.col("b.th60"))
    # exact integer length-prefilter implied by the τ threshold — see
    # dedup_ngram_jaccard; skips the shingle-set intersect for pairs
    # whose sizes already rule out jac >= τ (no result change)
    _tn, _td = float(JACCARD_THRESHOLD).as_integer_ratio()
    lenok = (_td * F.least(sa, sb)) >= (_tn * F.greatest(sa, sb))
    inter = F.size(F.array_intersect(F.col("a.th60"), F.col("b.th60")))
    jac = inter.cast("double") / (sa + sb - inter).cast("double")
    truth = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & lenok
        & (jac >= JACCARD_THRESHOLD),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    lsh = dedup_minhash_shingle_lsh(spark, d).select("doc_a", "doc_b")
    hit = truth.join(lsh, ["doc_a", "doc_b"], "left_semi")
    src = load(spark, d, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    cross = (
        lsh.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .where(F.col("src_a") != F.col("src_b"))
    )
    return (
        truth.agg(F.count("*").alias("n_truth"))
        .crossJoin(hit.agg(F.count("*").alias("n_hit")))
        .crossJoin(cross.agg(F.count("*").alias("n_cross_source_extra")))
        .select(
            "n_truth",
            "n_hit",
            (
                F.col("n_hit").cast("double")
                / F.nullif(F.col("n_truth"), F.lit(0))
            ).alias("recall"),
            "n_cross_source_extra",
        )
    )


@register(
    "dedup_lsh_eval",
    oracle=_LSH_PAIRS_CTE + f"""
    , {_CERT_CUT_SQL(n=CERT_SAMPLE_N, table="documents")},
    ts_s AS (
      SELECT doc_id, source, {_TOKSET_SQL} AS ts FROM documents, cert
      WHERE {_CERT_PRED_SQL(id="doc_id")}
    ), truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ts_s a JOIN ts_s b
        ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
            / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
            >= {JACCARD_THRESHOLD}
    ), lsh AS (SELECT doc_a, doc_b FROM pairs),
    hit AS (
      SELECT t.doc_a FROM truth t
      JOIN lsh l ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b
    ), src AS (SELECT doc_id, source FROM documents)
    SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM hit) AS n_hit,
           CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
             / NULLIF((SELECT COUNT(*) FROM truth), 0) AS recall,
           (SELECT COUNT(*) FROM lsh
            JOIN src sa ON sa.doc_id = lsh.doc_a
            JOIN src sb ON sb.doc_id = lsh.doc_b
            WHERE sa.source <> sb.source) AS n_cross_source_extra
    """,
)
def dedup_lsh_eval(spark: SparkSession, d: str) -> DataFrame:
    """Recall certification of MinHash-LSH against the exact blocked
    baseline — the INTENDED use of the quadratic ``dedup_ngram_jaccard``
    (kept precisely to certify the production twin, never to run on a
    real corpus). Every LSH pair is exact-verified (precision is 1 by
    construction), so the quantities that matter are: banding recall
    within the baseline's blocks (pairs the 4×4 band config missed),
    and the count of TRUE cross-source pairs LSH finds that
    source-blocking is structurally blind to — the two numbers that
    justify shipping LSH instead of blocked all-pairs. One summary
    row; all counts integer, one closing IEEE division.

    Above ``CERT_SAMPLE_N`` documents the truth side certifies on the
    deterministic sample (inherited from ``dedup_ngram_jaccard`` —
    see the constant's docstring for the estimator argument); the LSH
    side and the cross-source census stay unsampled."""
    truth = dedup_ngram_jaccard(spark, d).select("doc_a", "doc_b")
    lsh = dedup_minhash_lsh(spark, d).select("doc_a", "doc_b")
    hit = truth.join(lsh, ["doc_a", "doc_b"], "left_semi")
    src = load(spark, d, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    cross = (
        lsh.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .where(F.col("src_a") != F.col("src_b"))
    )
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    n_hit = hit.agg(F.count("*").alias("n_hit"))
    n_cross = cross.agg(F.count("*").alias("n_cross_source_extra"))
    return (
        n_truth.crossJoin(n_hit)
        .crossJoin(n_cross)
        .select(
            "n_truth",
            "n_hit",
            (
                F.col("n_hit").cast("double")
                / F.nullif(F.col("n_truth"), F.lit(0))
            ).alias("recall"),
            "n_cross_source_extra",
        )
    )


@register(
    "dedup_shingle_clusters",
    oracle=_SHINGLE_LSH_CTE + _CC_TAIL_CTE + """
    SELECT node AS doc_id, cluster_id,
           (node = cluster_id) AS is_survivor
    FROM lp
    """,
)
def dedup_shingle_clusters(spark: SparkSession, d: str) -> DataFrame:
    """Duplicate clustering over the SHINGLE-LSH pair graph — the
    keep/drop decision stage of the production near-dup path for real
    text (``dedup_minhash_shingle_lsh``), completing the shingle
    pipeline: signatures → verified pairs → components → survivors.
    Same min-label propagation loop as the unigram ``dedup_clusters``
    (one keyed shuffle per round, checkpointed lineage), same
    recursive-CTE oracle — only the pair generator differs. Memoized
    per (session, dataset) like its unigram twin."""
    return dataset_memo(
        spark, d, "clusters_shingle",
        lambda: _cc_min_label(
            dedup_minhash_shingle_lsh(spark, d).select("doc_a", "doc_b")
        ),
    )


@register(
    "dedup_pair_similarity_histogram",
    oracle=_LSH_PAIRS_CTE + """
    SELECT CAST(floor(jaccard * 20) AS BIGINT) AS bucket,
           ROUND(CAST(floor(jaccard * 20) AS BIGINT)
                 * CAST(0.05 AS DOUBLE), 2) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
    """,
)
def dedup_pair_similarity_histogram(spark: SparkSession, d: str) -> DataFrame:
    """Similarity histogram of the VERIFIED LSH pair table (0.05-wide
    Jaccard buckets) — the threshold-tuning census a dedup rollout
    reads before choosing its cut: a bimodal histogram (true dups near
    1.0, boilerplate cousins near the LSH floor) says the threshold is
    safe; mass piled right at the floor says the bands are admitting
    noise and the pipeline over-merges. Pure composition: reuses the
    cached verified pair table (no new corpus work) and both engines
    floor the SAME rounded-to-1e-6 jaccard double, so bucket edges
    cannot disagree.

    Scale: aggregate of the pair table on a ≤21-value key —
    map-side combined, negligible next to the LSH pass itself."""
    pairs = dedup_minhash_lsh(spark, d)
    bucket = F.floor(F.col("jaccard") * 20).cast("long")
    return (
        pairs.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .select(
            "bucket",
            F.round(F.col("bucket") * 0.05, 2).alias("bucket_lo"),
            "n_pairs",
        )
    )


@register(
    "dedup_minhash_bbit",
    oracle=_LSH_PAIRS_CTE + f"""
    , sigs AS (
      SELECT doc_id, {_MINHASH_SIG_SQL} AS sig FROM documents
    )
    SELECT p.doc_a, p.doc_b, p.jaccard,
           CAST(len(list_filter(range(1, {MINHASH_PERMS} + 1),
                    i -> sa.sig[i] % 2 = sb.sig[i] % 2)) AS BIGINT)
             AS bits_agree,
           ROUND(GREATEST(
             2.0 * len(list_filter(range(1, {MINHASH_PERMS} + 1),
                       i -> sa.sig[i] % 2 = sb.sig[i] % 2))
               / {MINHASH_PERMS} - 1.0, 0.0), 6) AS jaccard_bbit,
           ROUND(abs(GREATEST(
             2.0 * len(list_filter(range(1, {MINHASH_PERMS} + 1),
                       i -> sa.sig[i] % 2 = sb.sig[i] % 2))
               / {MINHASH_PERMS} - 1.0, 0.0) - p.jaccard), 6) AS abs_err
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.doc_a
    JOIN sigs sb ON sb.doc_id = p.doc_b
    """,
)
def dedup_minhash_bbit(spark: SparkSession, d: str) -> DataFrame:
    """b-bit minwise hashing audit (Li & König, b=1): keep ONLY the
    lowest bit of each MinHash value — a 16-bit signature instead of
    16×31 bits, the storage trade that lets a 100 TB corpus hold its
    sketch index in RAM — and certify the estimator ĵ = 2·A − 1
    (agreement A of b-bit values is ≈ ½ + j/2: matched minima always
    agree, unmatched agree by coin flip) against the exact verified
    Jaccard on the LSH pair table, pairwise. The companion of
    ``dedup_minhash_estimate`` (full-width sketch accuracy): together
    they measure what resolution each storage tier buys.

    Scale: signatures come from the cached token table (in production
    the persisted sig table), pairs from the cached LSH table — the
    audit itself is a pair-table-sized join, no corpus work."""
    sigs = _token_table(spark, d).select(
        "doc_id", _minhash_perms(F.col("th60")).alias("sig")
    )
    pairs = dedup_minhash_lsh(spark, d)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    agree = F.size(
        F.filter(
            F.zip_with(
                "sig_a", "sig_b", lambda x, y: (x % 2) == (y % 2)
            ),
            lambda b: b,
        )
    ).cast("long")
    est = F.greatest(
        2.0 * F.col("bits_agree") / MINHASH_PERMS - 1.0, F.lit(0.0)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("bits_agree", agree)
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            "bits_agree",
            F.round(est, 6).alias("jaccard_bbit"),
            F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )


#: PPJoin runs at its own (higher) threshold: prefix length is
#: n - ceil(tau*n) + 1, so low tau on a tiny-vocabulary corpus degrades
#: toward the inverted-index quadratic; 0.8 targets the near-identical
#: band the production dedup funnel actually drops.
PPJOIN_TAU = 0.8
#: registered-demo batch gate: PPJoin runs UNBLOCKED over the docs
#: with doc_id % PPJOIN_MOD == 0. This synthetic corpus has a
#: 31-word vocabulary, so ~23% of ALL doc pairs genuinely exceed
#: tau=0.8 (measured at sf0.1) — the exact result set itself is
#: quadratic in the corpus, and no exact algorithm can beat its own
#: output size. The mod-gate keeps the demo's output linear while the
#: algorithm remains global (no source/key blocking) within the batch.
PPJOIN_MOD = 10


@register(
    "dedup_ppjoin_prefix",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {_TOKSET_SQL} AS ts FROM documents
      WHERE doc_id % {PPJOIN_MOD} = 0
    ), tok AS (
      SELECT doc_id, len(ts) AS n, unnest(ts) AS t FROM s
    ), df AS (
      SELECT t, COUNT(*) AS df FROM tok GROUP BY t
    ), ordered AS (
      SELECT doc_id, n, list(tok.t ORDER BY df.df, tok.t) AS toks
      FROM tok JOIN df ON df.t = tok.t GROUP BY doc_id, n
    ), prefix AS (
      SELECT doc_id, n,
             unnest(list_slice(toks, 1,
               n - CAST(ceil({PPJOIN_TAU} * n) AS INTEGER) + 1)) AS t,
             generate_subscripts(list_slice(toks, 1,
               n - CAST(ceil({PPJOIN_TAU} * n) AS INTEGER) + 1), 1) AS pos
      FROM ordered
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b
        ON a.t = b.t AND a.doc_id < b.doc_id
      WHERE least(a.n, b.n) >= {PPJOIN_TAU} * greatest(a.n, b.n)
        AND 1 + least(a.n - a.pos, b.n - b.pos)
              >= ceil({PPJOIN_TAU} / (1 + {PPJOIN_TAU}) * (a.n + b.n))
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(CAST(len(list_intersect(x.ts, y.ts)) AS DOUBLE)
                 / (len(x.ts) + len(y.ts)
                    - len(list_intersect(x.ts, y.ts))), 6) AS jaccard
    FROM cand c
    JOIN s x ON x.doc_id = c.doc_a
    JOIN s y ON y.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(x.ts, y.ts)) AS DOUBLE)
          / (len(x.ts) + len(y.ts) - len(list_intersect(x.ts, y.ts)))
          >= {PPJOIN_TAU}
    """,
)
def dedup_ppjoin_prefix(spark: SparkSession, d: str) -> DataFrame:
    """EXACT similarity self-join via PREFIX FILTERING + POSITIONAL
    FILTERING (AllPairs, Bayardo 2007; PPJoin, Xiao 2008) — the third
    pillar of the near-dup family: MinHash-LSH trades recall for
    speed, ``dedup_ngram_jaccard`` is exact but blocked-quadratic;
    PPJoin is exact AND sub-quadratic with ZERO false negatives.
    Principle: order every token set by GLOBAL RARITY (ascending
    document frequency, ties lexicographic); for Jaccard >= tau two
    sets must share a token in their first n - ceil(tau*n) + 1 rarest
    tokens, so candidates come from an equi-join on PREFIX tokens only
    — frequent tokens (the skew killers of naive inverted-index joins)
    never enter prefixes precisely because they sort last. Two more
    exact filters prune inside the join itself: the SIZE filter
    (min >= tau*max) and PPJoin's POSITIONAL filter — a match at
    rarity-positions (pa, pb) caps the achievable overlap at
    1 + min(n_a - pa, n_b - pb), which must reach the equivalent
    overlap threshold ceil(tau/(1+tau)*(n_a+n_b)). Survivors get one
    exact array-intersect verify. Every blocked-baseline pair at
    jaccard >= tau MUST appear here (asserted in tests) — the
    completeness guarantee LSH cannot make.

    tau is {PPJOIN_TAU} (near-identical band) and the registered demo
    runs over the doc_id % {PPJOIN_MOD} batch: this corpus draws from
    a 31-word vocabulary, so ~23% of ALL pairs genuinely exceed 0.8
    (measured at sf0.1) — the exact result is quadratic in the corpus
    and NO exact algorithm beats its own output size (tau 0.5 over the
    full corpus measured 81 s / 6M candidate pairs at sf0.1; the LSH
    twins stay fast there only by capping buckets, i.e. shedding
    recall). On real Zipfian text prefixes are the published 10-100x
    win and the gate is unnecessary; here it keeps the demo output
    linear while leaving the algorithm itself unblocked.

    Scale: df census = one token-keyed count; per-doc rarity sort is
    an in-row array_sort after a vocab join; the candidate join keys
    on rare-token postings bounded by the prefix bound; the verify
    touches surviving candidates only. The rarity census is
    recomputed per batch at 100 TB or maintained incrementally like
    any other aggregate."""
    tt = _token_table(spark, d).where(F.col("doc_id") % PPJOIN_MOD == 0)
    tok = tt.select(
        "doc_id", F.size("ts").alias("n"), F.explode("ts").alias("t")
    )
    dfc = tok.groupBy("t").agg(F.count("*").alias("df"))
    # NOT cached, deliberately: the prefix self-join's two sides each
    # recompute this census+sort (plan nodes 8-25 ≅ 29-46 in
    # plans/r12/dedup_ppjoin_prefix_before.txt), but an r12 isolated
    # A/B measured .cache() here at 4.8-6.0 s vs 3.4-3.8 s without —
    # the two branches run in parallel inside one job, while the
    # InMemoryRelation build serializes them behind a deserialized
    # store of the big struct-array column. Recompute-in-parallel wins.
    ordered = (
        tok.join(dfc, "t")
        .groupBy("doc_id", "n")
        .agg(F.array_sort(F.collect_list(F.struct("df", "t"))).alias("st"))
    )
    plen = (
        F.col("n") - F.ceil(F.lit(PPJOIN_TAU) * F.col("n")) + 1
    ).cast("int")
    prefix = ordered.select(
        "doc_id",
        "n",
        F.posexplode(
            F.slice(
                F.transform(F.col("st"), lambda s: s.t), F.lit(1), plen
            )
        ).alias("pos0", "t"),
    ).select("doc_id", "n", "t", (F.col("pos0") + 1).alias("pos"))
    a, b = prefix.alias("a"), prefix.alias("b")
    alpha = F.ceil(
        F.lit(PPJOIN_TAU / (1 + PPJOIN_TAU)) * (F.col("a.n") + F.col("b.n"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least(F.col("a.n"), F.col("b.n"))
                >= PPJOIN_TAU * F.greatest(F.col("a.n"), F.col("b.n"))
            )
            & (
                1
                + F.least(
                    F.col("a.n") - F.col("a.pos"),
                    F.col("b.n") - F.col("b.pos"),
                )
                >= alpha
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    s = tt.select("doc_id", "ts")
    x = s.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    y = s.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"))
    # sized projection before the jaccard filter. CORRECTED r13
    # (ADVICE r12): this does NOT yield a single array_intersect
    # evaluation — predicate pushdown re-inlines the jaccard filter
    # into the verify join's condition, where the intersect appears
    # twice, plus the projection's own copy (3 references, down from
    # ~4 pre-r12, not 1). An r13 A/B of a pushdown barrier (a
    # nondeterministic conjunct keeping the filter above this
    # projection) measured PARITY at sf0.1 — 1.82 s HEAD vs 1.88 s
    # barrier, min-of-3, identical values — so the pushed shape is
    # kept and the barrier is not worth its obscurity. Documented so
    # it isn't re-tried.
    sized = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect(F.col("ts_a"), F.col("ts_b")))
            .cast("double")
            .alias("n_inter"),
            F.size("ts_a").alias("n_a"),
            F.size("ts_b").alias("n_b"),
        )
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return sized.where(jac >= PPJOIN_TAU).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


@register(
    "dedup_cluster_size_histogram",
    oracle=_CLUSTERS_CTE
    + """
    , sizes AS (
      SELECT cluster_id, COUNT(*) AS cluster_size
      FROM lp GROUP BY cluster_id
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
           CAST(SUM(cluster_size) - COUNT(*) AS BIGINT) AS n_droppable
    FROM sizes GROUP BY cluster_size
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, d: str) -> DataFrame:
    """Duplicate-CLUSTER SIZE spectrum — the one-page summary of what
    dedup will actually do: for each cluster size, how many clusters,
    how many documents they hold, and how many rows deletion frees
    (size - 1 per cluster). Shape is diagnostic: a long tail of pairs
    = organic near-dups; a few giant clusters = template families or
    mirror sites (and a direct read on ``graph_assortativity``'s
    prediction). The droppable total is the headline number a dedup
    rollout quotes. Consumes the SAME converged component labeling as
    ``dedup_clusters`` (memoized per session), so the histogram costs
    two small aggregates on top.

    Scale: cluster labels are the LSH-pair-graph CC output (bounded
    rounds, keyed shuffles); the histogram is two cascaded groupBys
    over |nodes| then |distinct sizes| rows."""
    labels = dedup_clusters(spark, d).select("cluster_id")
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
        (F.sum("cluster_size") - F.count("*"))
        .cast("long")
        .alias("n_droppable"),
    ).select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "n_clusters",
        "n_docs",
        "n_droppable",
    )


@register(
    "dedup_cascade_census",
    oracle=f"""
    WITH ex AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM documents a JOIN documents b
        ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    ), sh AS (
      SELECT doc_a, doc_b FROM ({_SIMHASH_LSH_SQL})
    ), mh AS (
      SELECT doc_a, doc_b
      FROM ({_LSH_PAIRS_CTE} SELECT doc_a, doc_b FROM pairs)
    )
    SELECT
      (SELECT COUNT(*) FROM ex) AS n_exact_pairs,
      (SELECT COUNT(*) FROM sh) AS n_simhash_pairs,
      (SELECT COUNT(*) FROM mh) AS n_minhash_pairs,
      (SELECT COUNT(*) FROM sh
       WHERE NOT EXISTS (SELECT 1 FROM ex
                         WHERE ex.doc_a = sh.doc_a
                           AND ex.doc_b = sh.doc_b))
        AS simhash_beyond_exact,
      (SELECT COUNT(*) FROM mh
       WHERE NOT EXISTS (SELECT 1 FROM ex
                         WHERE ex.doc_a = mh.doc_a
                           AND ex.doc_b = mh.doc_b)
         AND NOT EXISTS (SELECT 1 FROM sh
                         WHERE sh.doc_a = mh.doc_a
                           AND sh.doc_b = mh.doc_b))
        AS minhash_beyond_both
    """,
)
def dedup_cascade_census(spark: SparkSession, d: str) -> DataFrame:
    """DEDUP CASCADE census — what each stage of the production
    cascade actually catches, incrementally: exact content-hash pairs
    first (byte-identical copies, cheapest), then SimHash Hamming-LSH
    (small edits), then MinHash-LSH (token-set overlap) — each count
    reported alongside its NET-NEW pairs beyond the cheaper stages.
    This is the table that justifies a cascade's ordering and
    thresholds: if minhash_beyond_both is near zero, the expensive
    stage is waste; if simhash_beyond_exact dwarfs exact pairs, the
    corpus drifts by small edits rather than republishes. Pair sets
    come from the SAME registered operators the pipeline ships
    (memoized within the session), so the census audits production
    behavior, not a parallel reimplementation.

    Scale: exact pairs expand per content-hash group (dup groups are
    small — the md5 groupBy bounds them); both LSH pair tables are
    the bucket-join outputs; the net-new counts are two anti-joins
    on the pair key. Everything is pair-table-sized, corpus touched
    only by the stages themselves."""
    docs = load(spark, d, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    a, b = docs.alias("a"), docs.alias("b")
    ex = a.join(
        b,
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    sh = dedup_simhash_lsh(spark, d).select("doc_a", "doc_b")
    mh = dedup_minhash_lsh(spark, d).select("doc_a", "doc_b")
    sh_new = sh.join(ex, ["doc_a", "doc_b"], "left_anti")
    mh_new = mh.join(ex, ["doc_a", "doc_b"], "left_anti").join(
        sh, ["doc_a", "doc_b"], "left_anti"
    )
    counts = [
        ex.agg(F.count("*").cast("long").alias("n_exact_pairs")),
        sh.agg(F.count("*").cast("long").alias("n_simhash_pairs")),
        mh.agg(F.count("*").cast("long").alias("n_minhash_pairs")),
        sh_new.agg(F.count("*").cast("long").alias("simhash_beyond_exact")),
        mh_new.agg(F.count("*").cast("long").alias("minhash_beyond_both")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(F.broadcast(c))
    return out


# --- LSH parameter tuning curves -----------------------------------------

#: (bands, rows) configs that spend the same MINHASH_PERMS budget
LSH_TUNING_GRID = ((2, 8), (4, 4), (8, 2), (16, 1))


def _pow_sql(base: str, n: int) -> str:
    """x^n as an explicit left-associated multiplication chain — the
    same IEEE double sequence in both engines (POWER() is libm-backed
    and not bit-portable)."""
    return "(" + " * ".join([base] * n) + ")"


def _lsh_tuning_oracle() -> str:
    parts = []
    for b, r in LSH_TUNING_GRID:
        sr = _pow_sql("s_mid", r)
        qb = _pow_sql(f"(1.0 - {sr})", b)
        parts.append(f"""
    SELECT {b} AS bands, {r} AS rows_per_band, bucket, s_mid, n_pairs,
           1.0 - {qb} AS p_collide
    FROM hist""")
    union = "\n    UNION ALL".join(parts)
    return (
        _LSH_PAIRS_CTE
        + """
    , hist AS (
      SELECT CAST(floor(jaccard * 20) AS BIGINT) AS bucket,
             CAST(floor(jaccard * 20) AS BIGINT) * CAST(0.05 AS DOUBLE)
               + CAST(0.025 AS DOUBLE) AS s_mid,
             COUNT(*) AS n_pairs
      FROM pairs GROUP BY 1, 2
    ), curves AS ("""
        + union
        + """
    )
    SELECT CAST(bands AS BIGINT) AS bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band,
           bucket,
           ROUND(s_mid, 6) AS s_mid,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           ROUND(p_collide, 6) AS p_collide,
           CAST(FLOOR(n_pairs * p_collide * 1000000.0 + 0.5) AS BIGINT)
             AS expected_caught_micros
    FROM curves
    """
    )


@register("dedup_lsh_tuning_curves", oracle=_lsh_tuning_oracle())
def dedup_lsh_tuning_curves(spark: SparkSession, d: str) -> DataFrame:
    """LSH PARAMETER TUNING — the analytic s-curve P(candidate) =
    1 − (1 − s^r)^b evaluated for every (bands, rows) split of the
    {MINHASH_PERMS}-permutation budget against the MEASURED Jaccard
    distribution of this corpus's verified pair table: per config and
    similarity bucket, the collision probability and the expected
    number of caught pairs. This is the table that answers "should we
    re-band?" with THIS corpus's numbers instead of the textbook
    curve — more rows/band sharpens the knee (fewer sub-threshold
    candidates), more bands lifts recall; the config whose expected
    catch at τ matches the exact count wins.

    Exactness: the bucket midpoint and both powers are explicit
    left-associated multiplication chains (POWER() is not
    bit-portable; a fixed chain of IEEE multiplies is), and expected
    catches floor-quantize to integer micros.

    Scale: pure composition — consumes the cached verified pair table
    (already bucket-bounded) reduced to a ≤20-row histogram, then a
    constant 4-config fan-out. Free at any corpus size once the LSH
    stage ran."""
    pairs = dedup_minhash_lsh(spark, d)
    hist = pairs.groupBy(
        F.floor(F.col("jaccard") * 20).cast("long").alias("bucket")
    ).agg(F.count("*").alias("n_pairs"))
    hist = hist.withColumn(
        "s_mid", F.col("bucket") * F.lit(0.05) + F.lit(0.025)
    )
    curves = None
    for b, r in LSH_TUNING_GRID:
        sr = F.col("s_mid")
        for _ in range(r - 1):
            sr = sr * F.col("s_mid")
        q = F.lit(1.0) - sr
        qb = q
        for _ in range(b - 1):
            qb = qb * q
        cfg = hist.select(
            F.lit(b).cast("long").alias("bands"),
            F.lit(r).cast("long").alias("rows_per_band"),
            "bucket",
            "s_mid",
            "n_pairs",
            (F.lit(1.0) - qb).alias("p_collide"),
        )
        curves = cfg if curves is None else curves.unionByName(cfg)
    return curves.select(
        "bands",
        "rows_per_band",
        "bucket",
        F.round("s_mid", 6).alias("s_mid"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round("p_collide", 6).alias("p_collide"),
        F.floor(
            F.col("n_pairs") * F.col("p_collide") * 1_000_000.0 + 0.5
        )
        .cast("long")
        .alias("expected_caught_micros"),
    )
