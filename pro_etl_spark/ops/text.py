"""Text-analysis operators for training-data pipelines (BASELINE.json
north-star: language-ID, quality scoring, token counting, document
fingerprinting) over the ``documents`` table.

All pure Column expressions — tokenization, counting, and rolling
hashes run inside whole-stage codegen with zero Python; each document
is processed independently (narrow, shuffle-free → trivially scales to
100 TB of text).

Portability: token hashing uses the first 15 hex chars of md5 parsed
as a 60-bit integer — bit-identical in Spark
(``conv(substr(md5(x),1,15),16,10)``) and DuckDB
(``('0x'||substr(md5(x),1,15))::BIGINT``) — so even hash-based
fingerprints get full value oracles.
"""

from __future__ import annotations

import pandas as pd  # Arrow-UDF signatures only (no driver-side pandas)
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql.functions import pandas_udf

from pro_etl_spark.io import dataset_memo, load
from pro_etl_spark.ops.dedup import _CLUSTERS_CTE, _LSH_PAIRS_CTE
from pro_etl_spark.ops.hashing import DUCK_HASH60, hash60  # noqa: F401 (re-export)
from pro_etl_spark.registry import register

def TOKENS() -> Column:
    """Whitespace tokens of the text column (lazy: Column creation
    needs an active SparkSession)."""
    return F.split(F.trim(F.col("text")), r"\s+")

def distinct_bigrams(toks: Column) -> Column:
    """Distinct space-joined bigram set of a token array, safe on
    degenerate docs: a 0/1-token array (empty text tokenizes to [''])
    yields an empty set. The guard matters — without it,
    ``sequence(1, size-1)`` with size=1 builds the DESCENDING [1, 0]
    (Spark's sequence direction follows start/stop order) and the
    transform's ``element_at(toks, 0)`` throws 'SQL array indices
    start at 1' at runtime."""
    return F.when(
        F.size(toks) >= 2,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


STOPWORDS = ("the", "a", "of", "and", "in", "to")

FP_MOD = 2147483647  # 2^31 - 1: h*31+t stays far below int64 overflow


@register(
    "text_tokens",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_tokens
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, d: str) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish regex lexer
    (word / number token classes)."""
    return load(spark, d, "documents").select(
        "doc_id",
        F.size(TOKENS()).cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), 0))
        .cast("long")
        .alias("n_word_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0))
        .cast("long")
        .alias("n_num_tokens"),
    )


_SW_IN = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "text_quality",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, n_chars,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             length(replace(text, ' ', '')) AS n_nonspace
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           ROUND(CAST(n_nonspace AS DOUBLE) / len(toks), 6) AS avg_token_len,
           ROUND(CAST(len(list_filter(toks, x -> x IN ({_SW_IN}))) AS DOUBLE)
                 / len(toks), 6) AS stopword_ratio,
           ROUND(LEAST(CAST(len(toks) AS DOUBLE) / 100, 1.0), 6) AS length_score
    FROM t
    """,
)
def text_quality(spark: SparkSession, d: str) -> DataFrame:
    """Quality scoring: token stats, average token length, stopword
    ratio, saturating length score (the classic pre-train quality
    heuristics; exact integer counts → deterministic ratios)."""
    docs = load(spark, d, "documents")
    toks = TOKENS()
    n_toks = F.size(toks).cast("double")
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / n_toks,
            6,
        ).alias("avg_token_len"),
        F.round(sw / n_toks, 6).alias("stopword_ratio"),
        F.round(F.least(n_toks / 100, F.lit(1.0)), 6).alias("length_score"),
    )


_LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "los", "y", "las"),
}


def _marker_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return f"len(list_filter(toks, x -> x IN ({words})))"


@register(
    "text_langid",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
             CAST(length(regexp_replace(text, '[ -~]', '', 'g')) AS BIGINT)
               AS n_nonascii
      FROM documents
    )
    SELECT doc_id,
           CAST({_marker_sql('en')} AS BIGINT) AS score_en,
           CAST({_marker_sql('fr')} AS BIGINT) AS score_fr,
           CAST({_marker_sql('de')} AS BIGINT) AS score_de,
           CAST({_marker_sql('es')} AS BIGINT) AS score_es,
           n_nonascii,
           CASE WHEN n_nonascii > 0 THEN 'other'
                WHEN {_marker_sql('fr')} > {_marker_sql('en')} THEN 'fr'
                WHEN {_marker_sql('de')} > {_marker_sql('en')} THEN 'de'
                WHEN {_marker_sql('es')} > {_marker_sql('en')} THEN 'es'
                ELSE 'en' END AS pred_lang
    FROM t
    """,
)
def text_langid(spark: SparkSession, d: str) -> DataFrame:
    """Language-ID heuristic: stopword-marker hit counts per language +
    a non-ASCII script check, argmax with a deterministic tiebreak.
    (A real pipeline swaps in fastText/CLD3 behind the same schema.)

    STAGED on purpose (round-10 fix for the round-9 probe finding):
    the one-projection form re-built ``F.split(trim(text))`` inside
    every marker filter — four score columns plus six more ``score()``
    references in the CASE chain, and HOF lambdas are interpreted with
    no CSE across lambda boundaries, a ~90× constant (138 s at 10× vs
    1.5 s for ``text_tokens`` on the same layout). The three stacked
    projections below bind (1) the token array, then (2) the four
    scores, then (3) the argmax over the materialized score columns.
    CollapseProject leaves them alone because each produced expression
    is non-cheap and consumed more than once (the single-use case is
    the one it inlines — see ``multimodal._let``); the tokenizer runs
    once per row and each marker filter once."""
    docs = load(spark, d, "documents")

    def score(lang: str) -> Column:
        return F.size(
            F.filter(F.col("toks"), lambda t: t.isin(*_LANG_MARKERS[lang]))
        ).cast("long")

    n_nonascii = F.length(
        F.regexp_replace(F.col("text"), F.lit("[ -~]"), F.lit(""))
    ).cast("long")
    scored = docs.select("doc_id", "text", TOKENS().alias("toks")).select(
        "doc_id",
        score("en").alias("score_en"),
        score("fr").alias("score_fr"),
        score("de").alias("score_de"),
        score("es").alias("score_es"),
        n_nonascii.alias("n_nonascii"),
    )
    pred = (
        F.when(F.col("n_nonascii") > 0, "other")
        .when(F.col("score_fr") > F.col("score_en"), "fr")
        .when(F.col("score_de") > F.col("score_en"), "de")
        .when(F.col("score_es") > F.col("score_en"), "es")
        .otherwise("en")
    )
    return scored.select(
        "doc_id",
        "score_en",
        "score_fr",
        "score_de",
        "score_es",
        "n_nonascii",
        pred.alias("pred_lang"),
    )


@register(
    "split_train_test",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {DUCK_HASH60.format(x="(CAST(doc_id AS VARCHAR) || ':split')")} % 100 < 80
                THEN 'train'
                WHEN {DUCK_HASH60.format(x="(CAST(doc_id AS VARCHAR) || ':split')")} % 100 < 90
                THEN 'valid'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def split_train_test(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test assignment by salted
    content-key hash — never `rand()`: the split must be reproducible
    across reruns, engines, and partitionings (a training-data pipeline
    invariant), and adding documents later never reassigns existing
    ones. Narrow, shuffle-free, verified value-exact cross-engine."""
    h = hash60(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))) % 100
    return load(spark, d, "documents").select(
        "doc_id",
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test").alias("split"),
    )


MIN_TOKENS = 30


@register(
    "pipeline_clean_corpus",
    oracle=_CLUSTERS_CTE
    + rf"""
    , q AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
      FROM documents
    )
    SELECT q.doc_id, CAST(q.n_tokens AS BIGINT) AS n_tokens
    FROM q LEFT JOIN lp comp ON q.doc_id = comp.node
    WHERE q.n_tokens >= {MIN_TOKENS}
      AND (comp.node IS NULL OR comp.node = comp.cluster_id)
    """,
)
def pipeline_clean_corpus(spark: SparkSession, d: str) -> DataFrame:
    """End-to-end corpus cleaning — the composition a pre-training
    pipeline actually runs: quality gate (token count ≥ 30) ∘ near-dup
    removal (keep only each duplicate cluster's survivor, via the
    connected-components operator over LSH-verified near-dup pairs —
    the scale-safe candidate generator, see ``dedup_clusters``). One
    declarative plan: the quality filter is a narrow scan predicate;
    dedup survivors arrive as a broadcast-able exclusion set
    (non-survivors only — typically a tiny fraction of the corpus)."""
    from pro_etl_spark.ops.dedup import dedup_clusters

    docs = load(spark, d, "documents").select(
        "doc_id", F.size(TOKENS()).cast("long").alias("n_tokens")
    )
    losers = (
        dedup_clusters(spark, d)
        .where(~F.col("is_survivor"))
        .select(F.col("doc_id").alias("_loser"))
    )
    return (
        docs.where(F.col("n_tokens") >= MIN_TOKENS)
        .join(F.broadcast(losers), docs["doc_id"] == losers["_loser"], "left_anti")
    )


@register(
    "text_fingerprint",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             list_transform(regexp_split_to_array(trim(text), '\s+'),
                            s -> {DUCK_HASH60.format(x='s')} % 65536) AS th
      FROM documents
    )
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), th),
                       (acc, x) -> (acc * 31 + x) % {FP_MOD}) AS fingerprint
    FROM t
    """,
)
def text_fingerprint(spark: SparkSession, d: str) -> DataFrame:
    """Document fingerprint: order-sensitive polynomial rolling hash
    over the token stream (h ← (31·h + hash(tok)) mod 2³¹−1) — two
    documents with the same token sequence collide, reordered ones
    don't. Sequential fold in both engines → bit-identical.

    Arrow-vectorized (round 10, the mm_phash recipe): the in-row HOF
    form paid one INTERPRETED md5+conv per token (69 s at the 10×
    probe — the expression is linear but HOF lambdas never reach
    codegen); one pandas UDF now folds each token list with hashlib
    (bit-identical md5, same first-15-hex-chars → int60 parse, same
    int64 fold) with a per-batch token cache. Tokenization stays
    JVM-side — the codegen'd split feeds the UDF an array column, so
    the \\s+ contract (empty text → ['']) is shared by construction.
    Map-only, no shuffle; the Arrow batch transfer is the only added
    cost."""
    @pandas_udf("long")
    def fp_roll(toks: pd.Series) -> pd.Series:
        import hashlib

        cache: dict = {}

        def h(tok: str) -> int:
            v = cache.get(tok)
            if v is None:
                v = (
                    int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
                    % 65536
                )
                cache[tok] = v
            return v

        out = []
        for lst in toks:
            if lst is None:
                out.append(None)
                continue
            acc = 0
            for t in lst:
                acc = (acc * 31 + h(t)) % FP_MOD
            out.append(acc)
        return pd.Series(out)

    docs = load(spark, d, "documents")
    return docs.select("doc_id", fp_roll(TOKENS()).alias("fingerprint"))


@register(
    "text_repetition",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) >= 2 THEN
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i + 1])
             ELSE [] END AS bigrams,
             CASE WHEN len(toks) >= 3 THEN
               list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
             ELSE [] END AS trigrams
      FROM t
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           ROUND(CASE WHEN len(bigrams) > 0
                      THEN 1.0 - len(list_distinct(bigrams)) / len(bigrams)
                      ELSE 0.0 END, 6) AS dup_bigram_ratio,
           ROUND(CASE WHEN len(trigrams) > 0
                      THEN 1.0 - len(list_distinct(trigrams)) / len(trigrams)
                      ELSE 0.0 END, 6) AS dup_trigram_ratio,
           ROUND(CASE WHEN n > 0 THEN
                   list_max(list_transform(list_distinct(toks),
                     tok -> len(list_filter(toks, x -> x = tok)))) / n
                 ELSE 0.0 END, 6) AS top_token_ratio
    FROM g
    """,
)
def text_repetition(spark: SparkSession, d: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/C4 family of
    filters): fraction of duplicate word 2-grams and 3-grams, plus the
    frequency share of the single most common token. High values mark
    boilerplate/spam documents that repetition filters drop before LLM
    training. All pure Column expressions — n-grams are built with
    transform over an index sequence (guarded: Spark's sequence()
    DESCENDS when start > stop, so short documents need an explicit
    empty-array branch), counts with array_distinct/filter — narrow,
    shuffle-free, codegen-side."""
    toks = TOKENS()
    docs = load(spark, d, "documents").select("doc_id", toks.alias("toks"))
    n = F.size("toks")

    def ngrams(k: int) -> Column:
        gram = lambda i: F.concat_ws(
            " ", *[F.element_at("toks", i + j) for j in range(k)]
        )
        return F.when(
            n >= k, F.transform(F.sequence(F.lit(1), n - (k - 1)), gram)
        ).otherwise(F.array().cast("array<string>"))

    def dup_ratio(grams: Column) -> Column:
        # _let-bound: the gram construction is referenced three times
        # (the guard, the denominator, the distinct) and would be
        # re-evaluated per reference — O(n) concat_ws per token each
        # time (r12; same class as the shingle-table fix)
        from pro_etl_spark.ops.multimodal import _let

        def ratio(g: Column) -> Column:
            total = F.size(g)
            return F.round(
                F.when(
                    total > 0,
                    F.lit(1.0) - F.size(F.array_distinct(g)) / total,
                ).otherwise(F.lit(0.0)),
                6,
            )

        return _let(grams, ratio)

    top_ratio = F.round(
        F.when(
            n > 0,
            F.array_max(
                F.transform(
                    F.array_distinct("toks"),
                    lambda tok: F.size(
                        F.filter("toks", lambda x: x == tok)
                    ),
                )
            )
            / n,
        ).otherwise(F.lit(0.0)),
        6,
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        dup_ratio(ngrams(2)).alias("dup_bigram_ratio"),
        dup_ratio(ngrams(3)).alias("dup_trigram_ratio"),
        top_ratio.alias("top_token_ratio"),
    )


#: PII patterns (email, phone-like digit runs with separators, bare
#: numeric ids). The synthetic corpus only triggers the numeric-id
#: class, but all three rewrites execute in the scrub chain.
PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_PHONE = r"\+?[0-9][0-9()\-\s]{6,}[0-9]"
PII_NUMID = r"[0-9]+"


@register(
    "text_pii_scrub",
    oracle=f"""
    SELECT event_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(props, '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_PHONE}', '<PHONE>', 'g'),
             '{PII_NUMID}', '<NUM>', 'g') AS props_scrubbed,
           CAST(len(regexp_extract_all(props, '{PII_EMAIL}'))
              + len(regexp_extract_all(props, '{PII_PHONE}'))
              + len(regexp_extract_all(props, '{PII_NUMID}')) AS BIGINT)
             AS n_redactions
    FROM events
    """,
)
def text_pii_scrub(spark: SparkSession, d: str) -> DataFrame:
    """PII scrubbing: chained regexp_replace passes (email → phone →
    bare numeric id) over the free-text ``props`` payload, with a
    per-row redaction count for audit. Narrow and codegen-side —
    exactly the shape of a pre-training scrub pass, where the pattern
    list grows but the plan stays a single projection. Spark's
    regexp_replace is replace-all by default; the oracle passes the
    'g' flag for identical semantics."""
    props = F.col("props")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(props, PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_NUMID,
        "<NUM>",
    )
    n_red = (
        F.size(F.regexp_extract_all(props, F.lit(PII_EMAIL), 0))
        + F.size(F.regexp_extract_all(props, F.lit(PII_PHONE), 0))
        + F.size(F.regexp_extract_all(props, F.lit(PII_NUMID), 0))
    ).cast("long")
    return load(spark, d, "events").select(
        "event_id", scrubbed.alias("props_scrubbed"), n_red.alias("n_redactions")
    )


#: Gopher-style keep/drop thresholds, tuned so both branches are
#: populated on the synthetic corpus (n_tokens p5≈16, dup-bigram
#: p90≈0.065, top-token p90≈0.14, stopword median≈0.06)
GOPHER_MIN_TOKENS = 25
GOPHER_MIN_STOPWORD = 0.02
GOPHER_MAX_DUP_BIGRAM = 0.07
GOPHER_MAX_TOP_TOKEN = 0.14

from pro_etl_spark.registry import ORACLES as _ORACLES  # noqa: E402


def _gopher_sig_exprs(toks):
    """The four Gopher-gate signal Columns over a BOUND token-array
    column — expression-identical to ``text_quality``'s
    n_tokens/stopword_ratio and ``text_repetition``'s
    dup_bigram_ratio/top_token_ratio (the fused r12 gate and
    ``pipeline_data_funnel``'s in-scan annotation both build from
    these, so the values provably match the composed form). ``toks``
    MUST be a projected column, not an inline ``TOKENS()`` — the HOF
    lambdas re-evaluate inline producers per element."""
    n_long = F.size(toks).cast("long")
    n_dbl = F.size(toks).cast("double")
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
    n = F.size(toks)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", F.element_at(toks, i), F.element_at(toks, i + 1)
    )
    bigrams = F.when(
        n >= 2, F.transform(F.sequence(F.lit(1), n - 1), gram)
    ).otherwise(F.array().cast("array<string>"))
    dup_bigram = F.round(
        F.when(
            F.size(bigrams) > 0,
            F.lit(1.0) - F.size(F.array_distinct(bigrams)) / F.size(bigrams),
        ).otherwise(F.lit(0.0)),
        6,
    )
    top_ratio = F.round(
        F.when(
            n > 0,
            F.array_max(
                F.transform(
                    F.array_distinct(toks),
                    lambda tok: F.size(F.filter(toks, lambda x: x == tok)),
                )
            )
            / n,
        ).otherwise(F.lit(0.0)),
        6,
    )
    return (
        n_long,
        F.round(sw / n_dbl, 6),
        dup_bigram,
        top_ratio,
    )


def _gopher_reason_array(nt, sr, db, tt) -> Column:
    """Reason-tag array from the four signal Columns — the single
    definition both the registered gate and the keep expression build
    from (NULL-signal semantics included: a NULL comparison yields no
    tag, exactly like the oracle's CASE + list_filter)."""
    return F.array_compact(
        F.array(
            F.when(nt < GOPHER_MIN_TOKENS, F.lit("too_short")),
            F.when(sr < GOPHER_MIN_STOPWORD, F.lit("low_stopword")),
            F.when(db > GOPHER_MAX_DUP_BIGRAM, F.lit("repetitive_bigrams")),
            F.when(tt > GOPHER_MAX_TOP_TOKEN, F.lit("dominant_token")),
        )
    )


def gopher_keep_expr(toks) -> Column:
    """The gate's boolean keep decision over a BOUND token-array
    column — literally ``size(reasons) == 0`` over the same signal
    and reason expressions as the registered gate."""
    nt, sr, db, tt = _gopher_sig_exprs(toks)
    return F.size(_gopher_reason_array(nt, sr, db, tt)) == 0


@register(
    "pipeline_gopher_filter",
    oracle=f"""
    WITH q AS ({_ORACLES["text_quality"]}),
         r AS ({_ORACLES["text_repetition"]}),
    j AS (
      SELECT q.doc_id, q.n_tokens, q.stopword_ratio,
             r.dup_bigram_ratio, r.top_token_ratio,
             list_filter([
               CASE WHEN q.n_tokens < {GOPHER_MIN_TOKENS}
                    THEN 'too_short' END,
               CASE WHEN q.stopword_ratio < {GOPHER_MIN_STOPWORD}
                    THEN 'low_stopword' END,
               CASE WHEN r.dup_bigram_ratio > {GOPHER_MAX_DUP_BIGRAM}
                    THEN 'repetitive_bigrams' END,
               CASE WHEN r.top_token_ratio > {GOPHER_MAX_TOP_TOKEN}
                    THEN 'dominant_token' END
             ], x -> x IS NOT NULL) AS reason_list
      FROM q JOIN r ON q.doc_id = r.doc_id
    )
    SELECT doc_id, n_tokens, stopword_ratio, dup_bigram_ratio,
           top_token_ratio,
           -- coalesce: DuckDB array_to_string([]) is NULL, Spark
           -- array_join([]) is '' — pin the empty case to ''
           coalesce(array_to_string(reason_list, ','), '') AS reasons,
           (len(reason_list) = 0) AS keep
    FROM j
    """,
)
def pipeline_gopher_filter(spark: SparkSession, d: str) -> DataFrame:
    """Composed Gopher-style quality gate: per-document quality +
    repetition signals and a keep/drop decision with machine-readable
    reason tags (the audit trail a training-data pipeline keeps for
    every dropped document).

    FUSED single-pass layout (r12, guide §1.2 step 1): the composed
    ``text_quality ⋈ text_repetition`` form scanned and tokenized the
    corpus TWICE, paid a doc-keyed join, and computed three signals
    the gate never reads (avg_token_len, length_score,
    dup_trigram_ratio). The gate now computes exactly its four signals
    in one narrow projection with the IDENTICAL expressions — same
    values, same schema, zero shuffles. The standalone signal
    operators remain registered for pipelines that persist the full
    signal tables. The token array is bound in a stacked projection
    (multi-referenced non-cheap producer, so CollapseProject leaves it
    alone — the ``text_langid`` recipe): each HOF lambda would
    otherwise re-run the regex split per element. NOTE for consumers:
    never put a FILTER on this gate's derived columns (predicate
    pushdown would inline the whole signal stack over raw text and
    re-tokenize per lambda element) — join/annotate with the `keep`
    column instead (see pipeline_data_funnel)."""
    docs = load(spark, d, "documents").select(
        "doc_id", TOKENS().alias("toks")
    )
    nt, sr, db, tt = _gopher_sig_exprs(F.col("toks"))
    j = docs.select(
        "doc_id",
        nt.alias("n_tokens"),
        sr.alias("stopword_ratio"),
        db.alias("dup_bigram_ratio"),
        tt.alias("top_token_ratio"),
    )
    reasons = _gopher_reason_array(
        F.col("n_tokens"),
        F.col("stopword_ratio"),
        F.col("dup_bigram_ratio"),
        F.col("top_token_ratio"),
    )
    # reasons is emitted ','-joined (one string column): the grading
    # harness canonicalizes through a pandas sort that cannot factorize
    # ndarray cells, so registered outputs avoid top-level arrays
    return j.select(
        "doc_id",
        "n_tokens",
        "stopword_ratio",
        "dup_bigram_ratio",
        "top_token_ratio",
        F.array_join(reasons, ",").alias("reasons"),
        (F.size(reasons) == 0).alias("keep"),
    )


#: data-mixing rates in basis points of 10000 by source prefix class;
#: sources not listed fall back to DEFAULT. Deterministic: rates are
#: config, membership is a salted hash — rerunning or re-partitioning
#: never changes the sampled set, and upweighting a source later only
#: ADDS documents (hash threshold grows), never swaps them.
MIX_RATES_BP = {"src0": 10_000, "src1": 7_500, "src2": 5_000, "src3": 2_500}
MIX_DEFAULT_BP = 1_000


@register(
    "sample_mix",
    oracle=f"""
    WITH rated AS (
      SELECT doc_id, source,
             CASE source
               WHEN 'src0' THEN 10000
               WHEN 'src1' THEN 7500
               WHEN 'src2' THEN 5000
               WHEN 'src3' THEN 2500
               ELSE {MIX_DEFAULT_BP} END AS rate_bp,
             {DUCK_HASH60.format(x="(CAST(doc_id AS VARCHAR) || ':mix')")}
               % 10000 AS h
      FROM documents
    )
    SELECT doc_id, source, CAST(rate_bp AS BIGINT) AS rate_bp
    FROM rated WHERE h < rate_bp
    """,
)
def sample_mix(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic data mixing (stratified downsampling): each source
    gets a configured sampling rate; membership is salted-hash
    thresholding per document, never rand() — the same reproducibility
    contract as ``split_train_test``, and monotone under rate changes
    (raising a source's weight only adds documents). This is the mixer
    in front of LLM pre-training: one narrow, shuffle-free pass at any
    corpus size, with the weight table as pure config."""
    rate = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(bp))
            for s, bp in MIX_RATES_BP.items()
        ],
        F.lit(MIX_DEFAULT_BP),
    )
    h = hash60(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))) % 10_000
    return (
        load(spark, d, "documents")
        .select("doc_id", "source", rate.cast("long").alias("rate_bp"), h.alias("h"))
        .where(F.col("h") < F.col("rate_bp"))
        .drop("h")
    )


#: winnowing parameters: k-gram size and window width (guarantee: any
#: shared substring of length >= W + K - 1 tokens yields a shared
#: selected fingerprint — the MOSS matching bound)
WINNOW_K = 3
WINNOW_W = 4


@register(
    "text_winnow",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= {WINNOW_K} THEN
               list_transform(range(1, len(toks) - {WINNOW_K} + 2),
                 i -> {DUCK_HASH60.format(x="(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])")}
                      % 65536)
             ELSE [] END AS kh
      FROM t
    ), w AS (
      SELECT doc_id,
             CASE WHEN len(kh) >= {WINNOW_W} THEN
               list_sort(list_distinct(
                 list_transform(range(1, len(kh) - {WINNOW_W} + 2),
                   j -> list_min(kh[j:j+{WINNOW_W}-1]))))
             WHEN len(kh) > 0 THEN [list_min(kh)]
             ELSE [] END AS fp
      FROM g
    )
    SELECT doc_id, CAST(unnest(fp) AS BIGINT) AS fp FROM w
    """,
)
def text_winnow(spark: SparkSession, d: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): hash every
    k-gram, slide a width-W window over the hash sequence, keep each
    window's minimum, dedupe. Guarantees any shared token run of
    length >= W+K-1 produces a shared fingerprint, while storing only
    ~2/(W+1) of the k-gram hashes — the standard overlap/plagiarism
    detector at corpus scale. Output is exploded to flat (doc_id, fp)
    rows — the join-ready posting-list layout (and array-free driver
    output).

    Arrow-vectorized (round 10, the mm_phash recipe): the in-row HOF
    form re-ran the regex split PER K-GRAM (``TOKENS()`` inlined into
    the gram lambda — O(n²) re-tokenization) and paid an interpreted
    md5 per gram on top: 84 s at the 10× probe. One pandas UDF now
    does the k-gram join, hashlib md5 (bit-identical to the oracle's),
    sliding-window min, and the distinct-sort per doc; the codegen'd
    JVM split feeds it the token array, and the cache barrier the HOF
    form needed is gone — map-only, no shuffle, explode stays
    JVM-side."""
    @pandas_udf("array<long>")
    def winnow_fps(toks: pd.Series) -> pd.Series:
        import hashlib

        cache: dict = {}

        def h(gram: str) -> int:
            v = cache.get(gram)
            if v is None:
                v = (
                    int(hashlib.md5(gram.encode("utf-8")).hexdigest()[:15], 16)
                    % 65536
                )
                cache[gram] = v
            return v

        out = []
        for lst in toks:
            if lst is None:
                out.append(None)
                continue
            n = len(lst)
            if n < WINNOW_K:
                out.append([])
                continue
            kh = [
                h(" ".join(lst[i : i + WINNOW_K]))
                for i in range(n - WINNOW_K + 1)
            ]
            m = len(kh)
            if m >= WINNOW_W:
                fps = sorted(
                    {min(kh[j : j + WINNOW_W]) for j in range(m - WINNOW_W + 1)}
                )
            else:
                fps = [min(kh)]
            out.append(fps)
        return pd.Series(out)

    # explode DIRECTLY over the UDF call: staging the UDF output as a
    # named column first makes ExtractPythonUDFs emit a second, DEAD
    # ArrowEvalPython below the Generate that still evaluates per
    # batch (plan-verified: 2 nodes for the two-select form, 1 for
    # this form — the round-10 duplicated-subtree sweep's finding)
    return load(spark, d, "documents").select(
        "doc_id", F.explode(winnow_fps(TOKENS())).alias("fp")
    )


PACK_CAP = 512  # context-window capacity in tokens


@register(
    "seq_pack",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(SUM(n_tokens) OVER w - n_tokens AS BIGINT) AS start_offset,
           CAST((SUM(n_tokens) OVER w - n_tokens) // 512 AS BIGINT) AS chunk_id,
           CAST((SUM(n_tokens) OVER w - 1) // 512
                - (SUM(n_tokens) OVER w - n_tokens) // 512 AS BIGINT)
             AS chunks_spanned
    FROM toks
    WINDOW w AS (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def seq_pack(spark: SparkSession, d: str) -> DataFrame:
    """Sequence packing (concat-then-chunk): lay every document out in
    a deterministic token stream per source shard and assign each doc
    the fixed-capacity context chunk its first token lands in — the
    standard GPT-style pretraining layout (concatenate docs, slice into
    PACK_CAP-token windows; boundary docs straddle, counted by
    ``chunks_spanned``). The running offset is a prefix sum windowed
    BY SOURCE, never a global window: an unpartitioned cumulative sum
    would funnel 100 TB through one task, while per-shard packing is
    one shuffle on ``source`` and each shard's stream is independent —
    exactly how a sharded tokenizer/packer runs in production. Order
    within shard is doc_id (stable across reruns), so the packing is
    reproducible — the same invariant as ``split_train_test``."""
    from pyspark.sql import Window

    docs = load(spark, d, "documents").select(
        "doc_id", "source", F.size(TOKENS()).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    end = F.sum("n_tokens").over(w)
    offsets = docs.select(
        "doc_id", "source", "n_tokens", (end - F.col("n_tokens")).alias("start_offset")
    )
    first_chunk = F.expr(f"start_offset div {PACK_CAP}")
    last_chunk = F.expr(f"(start_offset + n_tokens - 1) div {PACK_CAP}")
    return offsets.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_offset",
        first_chunk.cast("long").alias("chunk_id"),
        (last_chunk - first_chunk).cast("long").alias("chunks_spanned"),
    )


#: per-language keep rates (permille) — downsample the dominant
#: language, keep the long tail whole (the standard corpus-balancing
#: move when one language dwarfs the rest)
STRAT_PERMILLE = {"en": 250, "de": 600}
STRAT_DEFAULT = 1000


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {DUCK_HASH60.format(x="doc_id::VARCHAR || ':strat'")} % 1000
          < CASE lang WHEN 'en' THEN 250 WHEN 'de' THEN 600 ELSE 1000 END
    """,
)
def sample_stratified(spark: SparkSession, d: str) -> DataFrame:
    """Stratified downsampling with per-language keep rates — the
    corpus-balancing step of a training-data mix. Deterministic salted-
    hash thresholding per row, never ``rand()`` or ``sampleBy``: the
    same document always gets the same verdict regardless of engine,
    partitioning, or rerun, and the keep set only shrinks/grows
    monotonically when a rate changes. Pure narrow filter — no shuffle,
    no driver-side fraction map lookup — so it composes with any scan
    at 100 TB and pushes down past column pruning."""
    h = hash60(F.concat(F.col("doc_id").cast("string"), F.lit(":strat"))) % 1000
    rate = F.when(F.col("lang") == "en", STRAT_PERMILLE["en"]).when(
        F.col("lang") == "de", STRAT_PERMILLE["de"]
    ).otherwise(STRAT_DEFAULT)
    return (
        load(spark, d, "documents")
        .where(h < rate)
        .select("doc_id", "lang", "source")
    )


TFIDF_TOPK = 3


@register(
    "text_tfidf",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
             tf.tf * (n.n_docs + 1.0) / (df.df + 1.0) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, df, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def text_tfidf(spark: SparkSession, d: str) -> DataFrame:
    """Distributed TF-IDF: top-3 most characteristic tokens per
    document. Four-stage plan, each stage the cheapest shape available:
    explode is narrow; term frequency is one map-side-combined agg on
    (doc, token); document frequency REUSES the tf table (a second agg
    over it, never a second pass over the corpus); the tf⋈df join
    shuffles on token (the vocabulary — far smaller than the corpus but
    too big to assume broadcast at 100 TB); top-k is a per-doc window.
    The score is the rational tf·(N+1)/(df+1) — deliberately log-free:
    IEEE division is exactly rounded so both engines compute the
    bit-identical double, whereas ln() is libm-dependent and would make
    the oracle ulp-fragile. Ties break on token for full determinism."""
    from pyspark.sql import Window

    tok = load(spark, d, "documents").select(
        "doc_id", F.explode(TOKENS()).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = load(spark, d, "documents").agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_t, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            (
                F.col("tf") * (F.col("n_docs") + F.lit(1.0))
                / (F.col("df") + F.lit(1.0))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TFIDF_TOPK)
        .drop("rn")
    )


VOCAB_MIN_DF = 30  # drop hapax/noise tokens
VOCAB_MAX_DF_FRAC = 0.78  # drop corpus-wide stop-like tokens


@register(
    "corpus_vocab",
    oracle=r"""
    WITH tok AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents
    ),
    df AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT token, CAST(df AS BIGINT) AS df,
           CAST(row_number() OVER (ORDER BY df DESC, token) - 1 AS BIGINT)
             AS token_id
    FROM df, n
    WHERE df >= 30 AND df <= 0.78 * n_docs
    """,
)
def corpus_vocab(spark: SparkSession, d: str) -> DataFrame:
    """Vocabulary construction — the tokenizer-building step of a
    training pipeline: document frequency per distinct token, min_df /
    max_df thresholds (hapax noise out, corpus-wide stopwords out),
    and contiguous token ids assigned by (df desc, token) — the
    deterministic id order every run reproduces. The df agg is
    corpus-scale (explode + distinct + count, map-side combined); the
    id-assigning window is a SINGLE-PARTITION sort over the *surviving
    vocabulary only* — legitimate because a vocab is ~10⁵–10⁶ rows no
    matter how big the corpus (that asymmetry, corpus-sized work
    distributed / vocab-sized work centralized, is the standard
    shape; a 10⁹-row "vocabulary" means your min_df is wrong)."""
    from pyspark.sql import Window

    tok = (
        load(spark, d, "documents")
        .select("doc_id", F.explode(TOKENS()).alias("token"))
        .distinct()
    )
    df_t = tok.groupBy("token").agg(F.count("*").alias("df"))
    n = load(spark, d, "documents").agg(F.count("*").alias("n_docs"))
    kept = (
        df_t.crossJoin(F.broadcast(n))
        .where(
            (F.col("df") >= VOCAB_MIN_DF)
            & (F.col("df") <= VOCAB_MAX_DF_FRAC * F.col("n_docs"))
        )
        .select("token", F.col("df").cast("long").alias("df"))
    )
    w = Window.orderBy(F.desc("df"), "token")
    return kept.select(
        "token", "df", (F.row_number().over(w) - 1).cast("long").alias("token_id")
    )


HASH_DIM = 1 << 18  # feature-hash space (collisions are the contract)


@register(
    "feature_hash",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents
    )
    SELECT doc_id,
           {DUCK_HASH60.format(x="token")} % {HASH_DIM} AS bucket,
           COUNT(*) AS cnt
    FROM tok GROUP BY 1, 2
    """,
)
def feature_hash(spark: SparkSession, d: str) -> DataFrame:
    """Feature hashing (the hashing trick): token → fixed 2¹⁸-bucket
    id by portable hash, per-doc bucket counts — the vocabulary-free
    featurizer for models that tolerate collisions. Unlike
    ``corpus_vocab`` there is NO global state, no second pass, and no
    driver-side dictionary: one explode + one map-side-combinable agg,
    fully narrow until the (doc, bucket) shuffle — which is why the
    trick is the default at 100 TB. Sparse output layout (doc_id,
    bucket, cnt): the join-ready posting form, never a 2¹⁸-wide dense
    row."""
    tok = load(spark, d, "documents").select(
        "doc_id", F.explode(TOKENS()).alias("token")
    )
    return (
        tok.groupBy(
            "doc_id", (hash60(F.col("token")) % HASH_DIM).alias("bucket")
        )
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "text_ttr",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
    FROM t
    """,
)
def text_ttr(spark: SparkSession, d: str) -> DataFrame:
    """Lexical-diversity quality signal: type-token ratio (distinct
    tokens / total tokens) per document. Low TTR flags boilerplate and
    generated spam (the same signal MassiveText/Gopher threshold on);
    machine-translated or keyword-stuffed pages sit far below prose.
    Entirely in-row — array_distinct/size are higher-order JVM
    expressions, no explode, no shuffle, trivially 100 TB-narrow. The
    ratio is a small-int division, so both engines produce the same
    double bit-for-bit."""
    docs = load(spark, d, "documents")
    toks = TOKENS()
    n = F.size(toks).cast("long")
    nd = F.size(F.array_distinct(toks)).cast("long")
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        nd.alias("n_distinct"),
        (nd.cast("double") / n.cast("double")).alias("ttr"),
    )


@register(
    "explode_pos",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos,
           unnest(toks) AS token
    FROM t
    """,
)
def explode_pos(spark: SparkSession, d: str) -> DataFrame:
    """X4-family: ordinal-preserving explode — ``posexplode`` carries
    each token's 0-based position into the flattened rows, the
    information a plain explode throws away (and exactly what sequence
    models, n-gram windows, and winnowing need downstream). Same
    narrow-then-shuffle-free shape as explode: per-row fan-out inside
    the scan stage, no wide exchange."""
    return load(spark, d, "documents").select(
        "doc_id", F.posexplode(TOKENS()).alias("pos", "token")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "token")


#: how many vocabulary rows the LM-stats query keeps (deterministic
#: top-k by continuation count, then token)
LM_TOP_TOKENS = 50


@register(
    "text_bigram_lm",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ), bg AS (
      SELECT toks[i] AS l, toks[i + 1] AS r
      FROM t, UNNEST(range(1, len(toks))) AS u(i)
    )
    SELECT r AS token,
           COUNT(*) AS n_bigrams,
           COUNT(DISTINCT l) AS n_left_contexts
    FROM bg GROUP BY r
    ORDER BY n_left_contexts DESC, token
    LIMIT {LM_TOP_TOKENS}
    """,
)
def text_bigram_lm(spark: SparkSession, d: str) -> DataFrame:
    """Kneser-Ney smoothing ingredients for n-gram LM training: per
    token, the raw bigram count and the CONTINUATION count (number of
    distinct left contexts) — the statistic KN uses instead of raw
    frequency, so 'Francisco' (frequent but only ever after 'San')
    stops outranking genuinely versatile tokens. Deterministic top-k
    by continuation count with a token tiebreak.

    Scale: bigrams are generated IN-ROW from the token array (no
    self-join, no window over the corpus); one shuffle on the right
    token aggregates both statistics, and the top-k is
    TakeOrderedAndProject over the vocabulary-sized aggregate —
    corpus-sized data is touched exactly once.
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    docs = load(spark, d, "documents").select(toks.alias("toks"))
    pairs = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.struct(
                F.element_at("toks", i).alias("l"),
                F.element_at("toks", i + 1).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    bg = docs.select(F.explode(pairs).alias("p")).select("p.l", "p.r")
    agg = bg.groupBy(F.col("r").alias("token")).agg(
        F.count("*").alias("n_bigrams"),
        F.countDistinct("l").alias("n_left_contexts"),
    )
    return agg.orderBy(
        F.desc("n_left_contexts"), F.asc("token")
    ).limit(LM_TOP_TOKENS)


_LM_SCORE_SQL = r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), bg AS (
      SELECT doc_id, toks[i] AS l, toks[i + 1] AS r
      FROM t, UNNEST(range(1, len(toks))) AS u(i)
    ), clr AS (
      SELECT l, r, COUNT(*) AS c_lr FROM bg GROUP BY l, r
    ), cl AS (
      SELECT l, CAST(SUM(c_lr) AS BIGINT) AS c_l FROM clr GROUP BY l
    ), v AS (
      SELECT COUNT(DISTINCT tok) AS vocab
      FROM (SELECT unnest(toks) AS tok FROM t)
    ), scored AS (
      SELECT bg.doc_id,
             (clr.c_lr + 1) * 1000000 // (cl.c_l + v.vocab) AS p_micro
      FROM bg JOIN clr USING (l, r) JOIN cl USING (l) CROSS JOIN v
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(p_micro) AS BIGINT) AS sum_p_micro,
           CAST(SUM(p_micro) AS DOUBLE) / COUNT(*) AS avg_p_micro
    FROM scored GROUP BY doc_id
"""


@register("text_lm_score", oracle=_LM_SCORE_SQL)
def text_lm_score(spark: SparkSession, d: str) -> DataFrame:
    """Per-document language-model familiarity score — the CCNet-style
    quality filter: score each document by the average add-1-smoothed
    conditional probability of its bigrams under the corpus-trained
    bigram LM, P(r|l) = (c(l,r)+1) / (c(l)+V). Out-of-distribution
    documents (gibberish, wrong-language, boilerplate) score near the
    smoothing floor; in-distribution prose scores high — threshold or
    bucket on ``avg_p_micro`` to filter. (Production CCNet uses a
    5-gram KenLM perplexity; the statistic here is bigram and the score
    is a probability rather than its log, because ln() is not
    bit-portable across engines — the RANKING is the same, which is
    what the filter thresholds on.)

    Exactness: probabilities are fixed-point micro-units computed with
    pure BIGINT arithmetic — (c_lr+1)*1e6 div (c_l+V) — so every value
    is integer-exact cross-engine; the final average is one int/int
    double division (IEEE-exact). The oracle CASTs its sums to BIGINT
    to keep DuckDB's pandas path off HUGEINT→float64 (see
    tests/test_grading_dtypes.py).

    Scale (100 TB): bigrams generate in-row (no self-join); the bigram
    LM table c(l,r) is one shuffle over the corpus bigrams and c(l) is
    a vocab-sized rollup of it (never a second corpus pass); scoring
    re-joins the corpus bigrams against the LM on (l,r) — the standard
    train-then-score shape where the LM table is the only state. V is
    a broadcast scalar. Docs with <2 tokens have no bigrams and are
    absent by construction on both sides. (Measured alternative: the
    window-count rewrite — c(l,r)/c(l) as unordered window counts —
    has fewer shuffles but benches ~20% SLOWER because windows SORT
    their partitions while the hash aggregates here don't; keep the
    join form.)"""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    docs = load(spark, d, "documents").select("doc_id", toks.alias("toks"))
    pairs = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.struct(
                F.element_at("toks", i).alias("l"),
                F.element_at("toks", i + 1).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    bg = docs.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.l", "p.r"
    )
    clr = bg.groupBy("l", "r").agg(F.count("*").alias("c_lr"))
    # c(l) rolls up from c(l,r) — no second pass over the corpus bigrams
    cl = clr.groupBy("l").agg(F.sum("c_lr").cast("long").alias("c_l"))
    vocab = (
        docs.select(F.explode("toks").alias("tok"))
        .agg(F.countDistinct("tok").alias("vocab"))
    )
    scored = (
        bg.join(clr, ["l", "r"])
        .join(cl, "l")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.expr("(c_lr + 1) * 1000000 div (c_l + vocab)").alias("p_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("p_micro").alias("sum_p_micro"),
        (F.sum("p_micro").cast("double") / F.count("*")).alias("avg_p_micro"),
    )


# --- hashed-feature linear quality classifier ------------------------
#
# fastText-style document scorer (the production replacement for the
# heuristic text_quality signals): unigram + bigram features hashed
# into FC_BUCKETS buckets, a linear layer over the bucket weights, and
# a keep/drop decision at logit 0. The weights here are derived
# deterministically from the bucket id (a stand-in for a trained
# weight vector — this container has no model artifact), so the whole
# scorer is value-oracle-checkable; swapping in trained weights is a
# broadcast-join against a (bucket, weight) table with the identical
# plan. Reference scope: the reference has no ML scorer (migrate.py is
# schema migration only) — this is part of the LLM-pipeline mandate.

FC_BUCKETS = 1 << 20
FC_WSPAN = 2001  # integer weights in [-1000, 1000] milli-units


def _fc_weight(feat: Column) -> Column:
    """Deterministic integer weight of a feature string: bucket =
    hash60(feat) % FC_BUCKETS, weight = bucket % FC_WSPAN - 1000."""
    return (hash60(feat) % FC_BUCKETS) % FC_WSPAN - 1000


_DUCK_FC_W = (
    f"(({DUCK_HASH60.format(x='{f}')} % {FC_BUCKETS}) % {FC_WSPAN} - 1000)"
)


@register(
    "text_quality_classifier",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), f AS (
      SELECT doc_id, toks,
             list_transform(toks, x -> {_DUCK_FC_W.format(f='x')}) AS uw,
             list_transform(range(1, len(toks)),
               i -> {_DUCK_FC_W.format(f="toks[i] || '_' || toks[i+1]")}) AS bw
      FROM t
    )
    SELECT doc_id,
           CAST(len(uw) + len(bw) AS BIGINT) AS n_feats,
           CAST(coalesce(list_sum(uw), 0) + coalesce(list_sum(bw), 0)
                AS BIGINT) AS logit_millis,
           CASE WHEN coalesce(list_sum(uw), 0) + coalesce(list_sum(bw), 0) >= 0
                THEN 'keep' ELSE 'drop' END AS label
    FROM f
    """,
)
def text_quality_classifier(spark: SparkSession, d: str) -> DataFrame:
    """Hashed-feature linear document classifier (fastText shape):
    unigrams + position-order bigrams → 2^20 hash buckets → integer
    milli-weights summed into a logit, thresholded at 0 into a
    keep/drop label.

    Scale: map-only — every feature is hashed, weighted, and summed
    in-row with JVM higher-order functions (transform + aggregate); no
    shuffle, no UDF, no vocabulary state. That is the point of the
    hashing trick at 100 TB: the feature space never materializes.
    With a trained weight vector the only change is a broadcast join
    from bucket id to weight."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    docs = load(spark, d, "documents").select("doc_id", toks.alias("toks"))
    from pro_etl_spark.ops.multimodal import _let

    uni_w = F.transform(F.col("toks"), _fc_weight)
    bigrams = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat_ws(
                "_", F.element_at("toks", i), F.element_at("toks", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi_w = F.transform(bigrams, _fc_weight)
    lsum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    # _let-bind both weight arrays and fold (n_feats, logit) into ONE
    # struct: the old shape referenced uni_w/bi_w three times each
    # (size + two logit sums), re-running the hash-weight transforms
    # per reference (r12; same class as the shingle-table fix). The
    # struct column is multi-referenced downstream, so CollapseProject
    # keeps it materialized and every signal evaluates once per row.
    feats = _let(
        uni_w,
        lambda uw: _let(
            bi_w,
            lambda bw: F.struct(
                (F.size(uw) + F.size(bw)).cast("long").alias("n_feats"),
                (lsum(uw) + lsum(bw)).alias("logit_millis"),
            ),
        ),
    )
    return docs.select("doc_id", feats.alias("f")).select(
        "doc_id",
        F.col("f.n_feats").alias("n_feats"),
        F.col("f.logit_millis").alias("logit_millis"),
        F.when(F.col("f.logit_millis") >= 0, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
    )


BPE_TOP_PAIRS = 30


@register(
    "bpe_pair_counts",
    oracle=r"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents
    ), freq AS (
      SELECT token, COUNT(*) AS freq FROM tok GROUP BY 1
    ), pairs AS (
      SELECT unnest(list_transform(range(1, length(token)),
                    i -> substr(token, i, 1) || ' ' || substr(token, i + 1, 1)))
               AS pair,
             freq
      FROM freq WHERE length(token) >= 2
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 30
    """,
)
def bpe_pair_counts(spark: SparkSession, d: str) -> DataFrame:
    """The first iteration of BPE tokenizer training: corpus-weighted
    adjacent symbol-pair counts — the statistic whose argmax becomes
    the first merge rule. The trainer's loop is this operator re-run
    with the merge applied; the expensive part (corpus → weighted pair
    counts) is what has to scale, and it does: the corpus collapses to
    the DISTINCT-WORD table first (one token shuffle — the standard
    word-frequency factorization every BPE trainer uses), pair
    generation is an in-row higher-order function over that vocab-
    sized table (no explode of the raw corpus), and the final count is
    one map-side-combined aggregate keyed by pair. Words shorter than
    2 symbols are filtered BEFORE the lambda (Spark's sequence(1, 0)
    counts DOWN rather than returning empty — relying on it would
    fabricate reversed pairs). Top-30 rides TakeOrderedAndProject."""
    tok = load(spark, d, "documents").select(F.explode(TOKENS()).alias("token"))
    freq = tok.groupBy("token").agg(F.count("*").alias("freq"))
    pairs = freq.where(F.length("token") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(token) - 1),"
                " i -> concat(substr(token, i, 1), ' ', substr(token, i + 1, 1)))"
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(BPE_TOP_PAIRS)
    )


BPE_MERGES = 3


def _bpe_apply_merge(syms, a_sym: str, b_sym: str):
    """Greedy left-to-right application of one merge rule (a b)->ab to
    a symbol array: accumulator fold, last-element test, splice-in of
    the merged symbol — the exact shape the oracle's list_reduce
    mirrors. Shared by the trainer's per-round rewrite and the
    encoder's replay of the learned table."""
    merged_sym = a_sym + b_sym
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a_sym))
            & (s == F.lit(b_sym)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(merged_sym)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _bpe_vocab(spark: SparkSession, d: str) -> DataFrame:
    """The distinct-word symbol table with corpus frequencies — the
    factorization every BPE trainer/encoder runs on (one token
    shuffle; all later rounds are vocab-sized)."""
    tok = load(spark, d, "documents").select(F.explode(TOKENS()).alias("token"))
    return (
        tok.where(F.length("token") >= 1)
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .select(
            F.expr(
                "transform(sequence(1, length(token)),"
                " i -> substr(token, i, 1))"
            ).alias("syms"),
            "freq",
        )
        .localCheckpoint(eager=False)
    )


def _bpe_merge_round(i: int, prev: int) -> str:
    """One unrolled BPE round for the DuckDB oracle: weighted pair
    counts over v{prev}, deterministic argmax (cnt DESC, pair ASC),
    then the greedy left-to-right merge applied to every word. The
    merge fold mirrors the Spark expression exactly: accumulator
    list, last-element test, splice-in of the merged symbol."""
    return f"""
    , p{i} AS (
      SELECT pair, SUM(freq) AS cnt FROM (
        SELECT unnest(list_transform(range(1, len(syms)),
                      j -> syms[j] || ' ' || syms[j + 1])) AS pair, freq
        FROM v{prev} WHERE len(syms) >= 2
      ) GROUP BY pair
    ), b{i} AS (
      SELECT pair, cnt,
             string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b
      FROM p{i} ORDER BY cnt DESC, pair LIMIT 1
    ), v{i} AS (
      SELECT freq, list_reduce(
        list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, s -> [s])),
        (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = ba AND x[1] = bb
                         THEN list_append(acc[1:len(acc)-1], bm)
                         ELSE list_append(acc, x[1]) END
      ) AS syms
      FROM (SELECT v.freq, v.syms, b.a AS ba, b.b AS bb, b.a || b.b AS bm
            FROM v{prev} v CROSS JOIN b{i} b)
    )"""


#: shared oracle prefix: corpus -> distinct-word symbol table (v0) ->
#: BPE_MERGES unrolled count-argmax-merge rounds (v1..vN) — the
#: trainer reads the argmax rows, the encoder reads the final vocab.
_BPE_CTE_CHAIN = (
    r"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents
    ), v0 AS (
      SELECT list_transform(range(1, length(token) + 1),
                            i -> substr(token, i, 1)) AS syms,
             COUNT(*) AS freq
      FROM tok WHERE length(token) >= 1 GROUP BY token
    )"""
    + "".join(_bpe_merge_round(i, i - 1) for i in range(1, BPE_MERGES + 1))
)

_BPE_TRAIN_ORACLE = (
    _BPE_CTE_CHAIN
    + "\n    SELECT * FROM (\n"
    + "\n    UNION ALL\n".join(
        f"    SELECT CAST({i} AS BIGINT) AS round, pair,"
        f" CAST(cnt AS BIGINT) AS n_occurrences FROM b{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    + ") ORDER BY round"
)


@register("bpe_train_merges", oracle=_BPE_TRAIN_ORACLE)
def bpe_train_merges(spark: SparkSession, d: str) -> DataFrame:
    """Full BPE tokenizer TRAINING (not just the first statistic):
    BPE_MERGES rounds of count-argmax-merge over the corpus vocabulary,
    returning the learned merge table (round, winning pair, weighted
    occurrence count) — what a tokenizer build actually persists.
    Extends ``bpe_pair_counts`` (the single-round statistic) into the
    real iterative loop.

    Scale shape (the same factorization every production BPE trainer
    uses): the corpus collapses ONCE to the distinct-word table with
    frequencies (one token shuffle); every training round then runs
    over that vocab-sized table — weighted pair counts are an in-row
    fan-out + one map-side-combined aggregate, the argmax is a 1-row
    collect (model state, O(1) driver memory), and the greedy
    left-to-right merge is a narrow higher-order fold applied to each
    word with the winning pair as a broadcast literal. Per-round
    lineage is truncated (lazy localCheckpoint) so round k shuffles
    the merged vocab, not a k-deep re-derivation. The oracle unrolls
    the identical rounds as chained CTEs with the same deterministic
    (cnt DESC, pair ASC) tiebreak. One training run per (application,
    dataset): repeated sweep calls reuse the learned merge table."""

    def train() -> list:
        vocab = _bpe_vocab(spark, d)
        merges = []
        for rnd in range(1, BPE_MERGES + 1):
            pairs = vocab.where(F.size("syms") >= 2).select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), j ->"
                        " concat(element_at(syms, j), ' ',"
                        " element_at(syms, j + 1)))"
                    )
                ).alias("pair"),
                "freq",
            )
            best = (
                pairs.groupBy("pair")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.desc("cnt"), "pair")
                .limit(1)
                .collect()
            )
            if not best:
                break  # vocabulary exhausted (degenerate corpus)
            b = best[0]
            merges.append((rnd, b["pair"], int(b["cnt"])))
            a_sym, b_sym = b["pair"].split(" ")
            merged = _bpe_apply_merge(F.col("syms"), a_sym, b_sym)
            vocab = vocab.select(merged.alias("syms"), "freq").localCheckpoint(
                eager=False
            )
        return merges

    return spark.createDataFrame(
        dataset_memo(spark, d, "bpe_merges", train),
        "round long, pair string, n_occurrences long",
    )


BPE_ENCODE_TOP = 30

_BPE_ENCODE_ORACLE = (
    _BPE_CTE_CHAIN
    + f"""
    SELECT sym AS symbol, CAST(SUM(freq) AS BIGINT) AS n_occurrences
    FROM (SELECT unnest(syms) AS sym, freq FROM v{BPE_MERGES})
    GROUP BY sym
    ORDER BY n_occurrences DESC, symbol LIMIT {BPE_ENCODE_TOP}"""
)


@register("bpe_encode", oracle=_BPE_ENCODE_ORACLE)
def bpe_encode(spark: SparkSession, d: str) -> DataFrame:
    """Tokenizer APPLICATION — the other half of the BPE story:
    replay the merge table ``bpe_train_merges`` learned over the
    corpus and return the encoded-symbol census (symbol, corpus-
    weighted occurrence count, top-K) — the vocabulary histogram a
    tokenizer build inspects before freezing ids, and the proof the
    trained rules actually compose (every winning pair from training
    must reappear here as a fused symbol).

    Scale shape: encoding runs at the DISTINCT-WORD grain, never the
    raw corpus — the same factorization as training (one token
    shuffle builds the freq-weighted vocab; each learned rule is a
    narrow in-row fold with the pair as a broadcast literal; the
    merge table itself is O(rounds) driver model state via the
    training memo). The census is one map-side-combined aggregate of
    the exploded final vocab, top-K rides TakeOrderedAndProject. The
    oracle reuses the training CTE chain verbatim: its final v{N}
    table IS the encoded vocabulary, so encode-parity is exact by
    construction (deterministic (cnt DESC, symbol ASC) boundary
    tiebreak)."""
    merges = sorted(
        ((r["round"], r["pair"]) for r in bpe_train_merges(spark, d).collect())
    )
    vocab = _bpe_vocab(spark, d)
    for _, pair in merges:
        a_sym, b_sym = pair.split(" ")
        vocab = vocab.select(
            _bpe_apply_merge(F.col("syms"), a_sym, b_sym).alias("syms"),
            "freq",
        ).localCheckpoint(eager=False)
    return (
        vocab.select(F.explode("syms").alias("symbol"), "freq")
        .groupBy("symbol")
        .agg(F.sum("freq").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "symbol")
        .limit(BPE_ENCODE_TOP)
    )


NGRAM_TOP_K = 100


@register(
    "corpus_ngrams",
    oracle=r"""
    WITH t AS (
      SELECT regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), g AS (
      SELECT unnest(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
               AS gram
      FROM t WHERE len(toks) >= 3
    )
    SELECT gram, COUNT(*) AS n_occurrences
    FROM g GROUP BY gram
    ORDER BY n_occurrences DESC, gram
    LIMIT 100
    """,
)
def corpus_ngrams(spark: SparkSession, d: str) -> DataFrame:
    """Corpus-wide word-trigram frequency table (top 100) — the n-gram
    census behind LM smoothing tables, contamination indexes, and
    tokenizer evaluation. Trigrams fan out IN-ROW via a higher-order
    transform (≤ n_tokens − 2 per doc, no self-join), then one
    map-side-combinable count keyed by gram; the top-k rides
    TakeOrderedAndProject (never a global sort). At 100 TB the only
    shuffle is the gram-keyed partial-count exchange — the same shape
    as the word-count factorization in ``bpe_pair_counts``, one level
    up (sequence guarded: Spark's sequence() DESCENDS when start >
    stop, so sub-3-token docs need the explicit filter)."""
    docs = load(spark, d, "documents").select(TOKENS().alias("toks"))
    grams = docs.where(F.size("toks") >= 3).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 2),"
                " i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1]))"
            )
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "gram")
        .limit(NGRAM_TOP_K)
    )


#: co-occurrence window (tokens to the RIGHT of each position) and the
#: min pair count kept — bounds the pair table like GloVe's min-count
COOC_WINDOW = 2
COOC_MIN_COUNT = 3


@register(
    "text_cooccurrence",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), pairs AS (
      SELECT unnest(flatten(list_transform(
               range(1, len(toks) + 1),
               i -> list_transform(
                      list_slice(toks, i + 1, i + {COOC_WINDOW}),
                      y -> [toks[i], y])))) AS p
      FROM t
    ), cnt AS (
      SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS pair_n
      FROM pairs GROUP BY 1, 2
    ), tot AS (SELECT SUM(pair_n) AS total FROM cnt),
    marg AS (
      SELECT w, SUM(n) AS m FROM (
        SELECT w1 AS w, pair_n AS n FROM cnt
        UNION ALL SELECT w2, pair_n FROM cnt
      ) GROUP BY w
    )
    SELECT w1, w2, CAST(pair_n AS BIGINT) AS pair_n,
           CAST(pair_n AS DOUBLE) * tot.total / (a.m * b.m) AS pmi_ratio
    FROM cnt, tot
    JOIN marg a ON a.w = w1
    JOIN marg b ON b.w = w2
    WHERE pair_n >= {COOC_MIN_COUNT}
    """,
)
def text_cooccurrence(spark: SparkSession, d: str) -> DataFrame:
    """GloVe-style windowed co-occurrence statistics: ordered (w1, w2)
    pairs within a {COOC_WINDOW}-token right-context window, their
    corpus counts, and the PMI *ratio* P(w1,w2)/(P(w1)P(w2)) — kept in
    rational form (integer counts, one IEEE multiply/divide chain)
    instead of log-PMI so the value oracle is bit-exact cross-engine;
    log is monotone, so ranking by the ratio IS ranking by PMI.

    Scale: pair expansion is IN-ROW (the same flatten/slice trick as
    the LSH bucket pairs — never a positional self-join), so the map
    side fans out O(tokens × window) locally; the only shuffles are
    the (w1, w2) count and the tiny marginal join, both map-side
    combinable. This is the word2vec/GloVe preprocessing stage a
    100 TB corpus runs as one map + one combine-heavy reduce.

    The token array is ``_let``-bound (round 10): referencing
    ``TOKENS()`` directly inside the per-token context lambda re-ran
    the regex split ONCE PER TOKEN in the interpreted HOF evaluator —
    O(n²) re-tokenization per doc, the text_rouge2/text_winnow hazard
    (39.7 s at the 10× probe for what is an O(n·window) expansion)."""
    from pro_etl_spark.ops.multimodal import _let

    pairs = _let(
        TOKENS(),
        lambda toks: F.flatten(
            F.transform(
                toks,
                lambda x, i: F.transform(
                    F.slice(toks, i + 2, COOC_WINDOW),
                    lambda y: F.struct(x.alias("w1"), y.alias("w2")),
                ),
            )
        ),
    )
    cnt = (
        load(spark, d, "documents")
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count("*").alias("pair_n"))
    )
    cnt = cnt.cache()  # read three times: marginals (×2) + the join spine
    marg = (
        cnt.select(F.col("w1").alias("w"), F.col("pair_n").alias("n"))
        .unionAll(cnt.select(F.col("w2").alias("w"), F.col("pair_n").alias("n")))
        .groupBy("w")
        .agg(F.sum("n").alias("m"))
    )
    total = cnt.agg(F.sum("pair_n").alias("total"))
    a = marg.select(F.col("w").alias("w1"), F.col("m").alias("m1"))
    b = marg.select(F.col("w").alias("w2"), F.col("m").alias("m2"))
    return (
        cnt.where(F.col("pair_n") >= COOC_MIN_COUNT)
        .join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "pair_n",
            (
                F.col("pair_n").cast("double")
                * F.col("total")
                / (F.col("m1") * F.col("m2"))
            ).alias("pmi_ratio"),
        )
    )


#: importance-sampling acceptance scale: acceptance probability is
#: min(1, TTR / IMP_TARGET_TTR) where TTR = distinct/total tokens —
#: docs at or above the target diversity are always kept, repetitive
#: docs keep a proportional slice (DSIR-style quality reweighting with
#: a rational, cross-engine-exact proxy score)
IMP_TARGET_TTR_BP = 6000  # target type-token ratio, basis points


@register(
    "sample_importance",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, source,
             len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
               AS n_distinct,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
             ('0x' || substr(md5(doc_id::VARCHAR || ':imp'), 1, 15))::BIGINT
               % 1048576 AS h
      FROM documents
    )
    SELECT doc_id, source,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_distinct AS DOUBLE) / n_tokens AS ttr
    FROM t
    WHERE h * CAST({IMP_TARGET_TTR_BP} AS BIGINT) * n_tokens
          < 1048576 * CAST(10000 AS BIGINT) * n_distinct
    """,
)
def sample_importance(spark: SparkSession, d: str) -> DataFrame:
    """DSIR-style importance sampling: each document is accepted with
    probability proportional to a per-DOCUMENT quality score — here
    the type-token ratio against a target diversity — rather than
    ``sample_mix``'s per-source constant. The acceptance test
    ``h/2²⁰ < min(1, ttr/target)`` is evaluated as one INTEGER
    cross-multiplication (h·target·n_tokens < 2²⁰·10⁴·n_distinct), so
    the decision is bit-exact on every engine — no float threshold, no
    rand(): re-runs and backfills select the identical subset, and
    raising the target only shrinks the sample monotonically.

    Scale: one narrow, shuffle-free pass (tokenize, two counts, one
    60-bit hash, one integer predicate) — the mixer shape in front of
    LLM pre-training, at any corpus size. Products stay < 2⁶³:
    h < 2²⁰, target ≤ 10⁴ < 2¹⁴, n_tokens < 2²⁰ for any real doc."""
    toks = TOKENS()
    t = load(spark, d, "documents").select(
        "doc_id",
        "source",
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.size(toks).cast("long").alias("n_tokens"),
        (
            hash60(F.concat(F.col("doc_id").cast("string"), F.lit(":imp")))
            % 1_048_576
        ).alias("h"),
    )
    return t.where(
        F.col("h") * F.lit(IMP_TARGET_TTR_BP).cast("long") * F.col("n_tokens")
        < F.lit(1_048_576).cast("long")
        * F.lit(10_000).cast("long")
        * F.col("n_distinct")
    ).select(
        "doc_id",
        "source",
        "n_distinct",
        "n_tokens",
        (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias("ttr"),
    )


@register(
    "text_rouge2",
    oracle=_LSH_PAIRS_CTE + r"""
    , bg AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(regexp_split_to_array(trim(text), '\s+'))),
               i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
                    regexp_split_to_array(trim(text), '\s+')[i + 1])) AS bgs
      FROM documents
    )
    SELECT p.doc_a, p.doc_b,
           CAST(len(list_intersect(a.bgs, b.bgs)) AS BIGINT) AS n_common,
           CAST(len(list_intersect(a.bgs, b.bgs)) AS DOUBLE)
             / NULLIF(len(b.bgs), 0) AS rouge2_precision,
           CAST(len(list_intersect(a.bgs, b.bgs)) AS DOUBLE)
             / NULLIF(len(a.bgs), 0) AS rouge2_recall
    FROM pairs p
    JOIN bg a ON a.doc_id = p.doc_a
    JOIN bg b ON b.doc_id = p.doc_b
    """,
)
def text_rouge2(spark: SparkSession, d: str) -> DataFrame:
    """ROUGE-2 overlap scoring for the verified near-dup pairs —
    the summarization-eval metric repurposed as a dedup second
    opinion: token-set Jaccard (what LSH verified) is order-blind,
    while bigram overlap is order-SENSITIVE, so a pair with high
    Jaccard but low ROUGE-2 is a shuffled/templated rewrite rather
    than a true near-copy — a distinction that matters when deciding
    keep-one vs keep-both. Distinct-bigram precision (vs the
    candidate) and recall (vs the reference = doc_a) are rationals of
    set sizes — exact cross-engine; empty-bigram docs null out via
    NULLIF rather than erroring under ANSI.

    Scale: bigram sets build narrow per doc; the pair table (LSH
    output, already cached) drives two doc-keyed joins — candidates ×
    2 lookups, never all-pairs. The token array is ``_let``-bound
    (round-10 fix): inlining ``TOKENS()`` into the bigram transform
    re-ran the regex split TWICE PER BIGRAM in the interpreted HOF
    evaluator — O(n²) re-tokenization per doc, 77 s at the 10× probe
    for what is an O(n) build."""
    from pro_etl_spark.ops.multimodal import _let

    bgs = _let(TOKENS(), distinct_bigrams)
    bg = load(spark, d, "documents").select("doc_id", bgs.alias("bgs"))
    from pro_etl_spark.ops.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, d).select("doc_a", "doc_b")
    a = bg.select(F.col("doc_id").alias("doc_a"), F.col("bgs").alias("bgs_a"))
    b = bg.select(F.col("doc_id").alias("doc_b"), F.col("bgs").alias("bgs_b"))
    n_common = F.size(F.array_intersect(F.col("bgs_a"), F.col("bgs_b")))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_common.cast("long").alias("n_common"),
            (
                n_common.cast("double")
                / F.nullif(F.size("bgs_b"), F.lit(0))
            ).alias("rouge2_precision"),
            (
                n_common.cast("double")
                / F.nullif(F.size("bgs_a"), F.lit(0))
            ).alias("rouge2_recall"),
        )
    )


@register(
    "text_rake_keyphrases",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id,
             CAST(generate_subscripts(
               regexp_split_to_array(trim(text), '\s+'), 1) AS BIGINT) AS pos,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      FROM documents
    ), seg AS (
      SELECT doc_id, pos, word,
             word IN ({_SW_IN}) AS is_stop,
             SUM(CASE WHEN word IN ({_SW_IN}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM tok
    ), content AS (
      SELECT doc_id, pos, word, sid FROM seg WHERE NOT is_stop
    ), plen AS (
      SELECT doc_id, sid, COUNT(*) AS phrase_len FROM content GROUP BY 1, 2
    ), wstat AS (
      SELECT c.doc_id, c.word,
             COUNT(*) AS freq, SUM(p.phrase_len) AS degree
      FROM content c JOIN plen p
        ON p.doc_id = c.doc_id AND p.sid = c.sid
      GROUP BY 1, 2
    ), scored AS (
      SELECT c.doc_id, c.sid,
             string_agg(c.word, ' ' ORDER BY c.pos) AS keyphrase,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(CAST(FLOOR(CAST(w.degree AS DOUBLE) * 1000000
                                 / w.freq + 0.5) AS BIGINT)) AS BIGINT)
               AS score_micro
      FROM content c JOIN wstat w
        ON w.doc_id = c.doc_id AND w.word = c.word
      GROUP BY 1, 2
    )
    SELECT doc_id, keyphrase, n_words, score_micro
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score_micro DESC, keyphrase) = 1
    """,
)
def text_rake_keyphrases(spark: SparkSession, d: str) -> DataFrame:
    """RAKE keyphrase extraction: token runs between stopwords are
    candidate phrases; each word scores degree/frequency (degree = Σ
    lengths of the phrases it appears in), and a phrase scores the sum
    of its member words — the classic unsupervised keyword miner, per
    document. The per-word ratio floor-quantizes to a 10⁻⁶ grid and
    phrase scores sum as INTEGERS, so the result is order-independent
    and bit-exact cross-engine (a raw float Σ degree/freq would depend
    on addition order). Top-1 phrase per doc with a lexicographic
    tiebreak.

    Scale: every stage — segment ids (running stopword count), phrase
    lengths, word stats, phrase scores, top-1 — keys on doc_id, so the
    whole pipeline reuses ONE doc-keyed partitioning; nothing global,
    no joins beyond doc-local ones."""
    toks = TOKENS()
    tok = load(spark, d, "documents").select(
        "doc_id", F.posexplode(toks).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    is_stop = F.col("word").isin(*STOPWORDS)
    wseg = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    content = (
        tok.withColumn("sid", F.sum(is_stop.cast("long")).over(wseg))
        .where(~is_stop)
    )
    plen = content.groupBy("doc_id", "sid").agg(
        F.count("*").alias("phrase_len")
    )
    wstat = (
        content.join(plen, ["doc_id", "sid"])
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("freq"), F.sum("phrase_len").alias("degree"))
    )
    scored = (
        content.join(wstat, ["doc_id", "word"])
        .groupBy("doc_id", "sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s.word,
                ),
                " ",
            ).alias("keyphrase"),
            F.count("*").alias("n_words"),
            F.sum(
                F.floor(
                    F.col("degree").cast("double") * F.lit(1_000_000)
                    / F.col("freq")
                    + F.lit(0.5)
                ).cast("long")
            ).cast("long").alias("score_micro"),
        )
    )
    # top-1 phrase per doc: MIN(STRUCT(-score_micro, keyphrase, ...))
    # is the identical (score DESC, keyphrase ASC) pick as a hash
    # aggregate with map-side partials on the doc-keyed exchange the
    # phrase-score groupBy already established — the former row_number
    # window re-sorted every candidate phrase per doc (guide §2.3).
    # Two phrases tying on (score, keyphrase) are the same word
    # sequence, so n_words (carried in the struct) is determined.
    return (
        scored.groupBy("doc_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("score_micro")).alias("ns"),
                    F.col("keyphrase").alias("keyphrase"),
                    F.col("n_words").alias("n_words"),
                    F.col("score_micro").alias("score_micro"),
                )
            ).alias("m")
        )
        .select(
            "doc_id", "m.keyphrase", "m.n_words", F.col("m.score_micro").alias("score_micro")
        )
    )


def _zlib_pins_values() -> str:
    """VALUES body for text_compression_ratio's oracle — independent
    zlib-size pins generated by scripts/gen_compression_pins.py (plain
    Python + DuckDB over the parquet, no Spark and no operator code)."""
    from pro_etl_spark.ops._zlib_pins import PINS

    return ",".join(f"({d},'{m}',{n})" for d, m, n in PINS)


@register(
    "text_compression_ratio",
    oracle=f"""
    WITH pins(doc_id, text_md5, pin_compressed) AS (
      VALUES {_zlib_pins_values()}
    )
    SELECT d.doc_id,
           CAST(octet_length(CAST(d.text AS BLOB)) AS BIGINT) AS n_bytes,
           CAST(p.pin_compressed AS BIGINT) AS n_compressed,
           CAST(p.pin_compressed AS DOUBLE)
             / octet_length(CAST(d.text AS BLOB)) AS ratio
    FROM documents d
    JOIN pins p ON p.doc_id = d.doc_id
               AND p.text_md5 = substr(md5(d.text), 1, 16)
    """,
)
def text_compression_ratio(spark: SparkSession, d: str) -> DataFrame:
    """Compression-ratio quality signal: deflate the utf-8 payload at
    level 6 and report compressed/original bytes — the cheap
    whole-document repetition detector the CCNet/Gopher lineage uses
    alongside n-gram ratios (template spam and keyword stuffing
    compress dramatically better than prose). Arrow-batched pandas
    UDF over bytes (zlib is per-row CPU, no Python-loop-per-row:
    the batch loop is in C), emitting integer byte counts plus the
    one-division ratio.

    DEFLATE output size has no closed-form SQL twin, so the value
    oracle (since round 11) is a PINNED independent expectation:
    scripts/gen_compression_pins.py computes every document's
    compressed size in plain Python over the parquet (no Spark, no
    operator code) at the official correctness SFs, and the oracle
    joins those pins on doc_id + md5(text) — n_bytes and the ratio are
    recomputed live in SQL, only the zlib integer is pinned. The md5
    join key makes staleness fail LOUDLY (zero matches → row-count
    mismatch), never false-pass. Property tests additionally pin ratio
    bounds, the monotone relationship to the exact repetition census,
    and determinism across runs (zlib level pinned; same bytes → same
    size on any worker).

    Scale: map-only; at 100 TB this is the same narrow pass the other
    quality signals ride, and the ratio column feeds
    ``pipeline_gopher_filter``-style gates."""

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # NOTE: no type annotations on purpose — this module uses
    # `from __future__ import annotations`, which turns them into
    # strings pandas_udf cannot resolve; the legacy (returnType-only)
    # signature is the supported spelling here
    @pandas_udf("struct<n_bytes: long, n_compressed: long, ratio: double>")
    def comp(text):
        import zlib

        raw = text.str.encode("utf-8")
        n = raw.str.len().astype("int64")
        nc = raw.map(lambda b: len(zlib.compress(b, 6))).astype("int64")
        return pd.DataFrame(
            {"n_bytes": n, "n_compressed": nc, "ratio": nc / n}
        )

    return (
        load(spark, d, "documents")
        .select("doc_id", comp(F.col("text")).alias("c"))
        .select(
            "doc_id",
            F.col("c.n_bytes").alias("n_bytes"),
            F.col("c.n_compressed").alias("n_compressed"),
            F.col("c.ratio").alias("ratio"),
        )
    )


@register(
    "text_readability",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                             t -> t <> '')) AS n_words,
             GREATEST(len(list_filter(
               regexp_split_to_array(text, '[.!?]+'),
               p -> trim(p) <> '')), 1) AS n_sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
      FROM documents
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           CASE WHEN n_words > 0 THEN
             ROUND(206.835
                   - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                   - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
           END AS flesch_score
    FROM s
    """,
)
def text_readability(spark: SparkSession, d: str) -> DataFrame:
    """Flesch reading-ease scoring — the readability heuristic a
    pre-train quality stack runs next to the Gopher rules: words per
    sentence and (vowel-group-estimated) syllables per word folded
    into the classic 206.835 − 1.015·ASL − 84.6·ASW formula. The
    syllable count is the standard regex estimate (runs of vowels
    incl. y), deterministic and identical cross-engine; sentence
    count is clamped to ≥1 so fragment-only docs score rather than
    divide by zero. ``flesch_score`` is NULL for word-free docs —
    kept DOUBLE on both sides (nullable) for the grading dtype
    contract.

    Scale: pure narrow map pass — three regex counts and one
    arithmetic projection per document, no shuffle, whole-stage
    codegen end to end."""
    toks = TOKENS()
    n_words = F.size(F.filter(toks, lambda t: t != F.lit("")))
    n_sentences = F.greatest(
        F.size(
            F.filter(
                F.split(F.col("text"), r"[.!?]+"),
                lambda p: F.trim(p) != F.lit(""),
            )
        ),
        F.lit(1),
    )
    n_syllables = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    )
    return (
        load(spark, d, "documents")
        .select(
            "doc_id",
            n_words.cast("long").alias("n_words"),
            n_sentences.cast("long").alias("n_sentences"),
            n_syllables.cast("long").alias("n_syllables"),
        )
        .withColumn(
            "flesch_score",
            F.when(
                F.col("n_words") > 0,
                F.round(
                    F.lit(206.835)
                    - F.lit(1.015)
                    * (
                        F.col("n_words").cast("double")
                        / F.col("n_sentences")
                    )
                    - F.lit(84.6)
                    * (
                        F.col("n_syllables").cast("double")
                        / F.col("n_words")
                    ),
                    4,
                ),
            ),
        )
    )


SYS_SAMPLE_K = 5

_SYS_F = (
    "CASE WHEN 2 * {k} * {x} <= _w THEN CAST(0 AS BIGINT) "
    "ELSE LEAST(CAST({k} AS BIGINT), (2 * {k} * {x} + _w - 1) DIV (2 * _w)) END"
)


@register(
    "sample_weighted_systematic",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
             ('0x' || substr(md5('swsys|' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT AS h
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY h, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS hi,
             SUM(n_chars) OVER (PARTITION BY source) AS _w
      FROM d
    ), p AS (
      SELECT source, doc_id, n_chars,
        CASE WHEN 2 * {SYS_SAMPLE_K} * hi <= _w THEN 0
             ELSE LEAST({SYS_SAMPLE_K},
                        (2 * {SYS_SAMPLE_K} * hi + _w - 1) // (2 * _w)) END
          AS f_hi,
        CASE WHEN 2 * {SYS_SAMPLE_K} * (hi - n_chars) <= _w THEN 0
             ELSE LEAST({SYS_SAMPLE_K},
                        (2 * {SYS_SAMPLE_K} * (hi - n_chars) + _w - 1)
                        // (2 * _w)) END
          AS f_lo
      FROM c
    )
    SELECT source, doc_id, n_chars, CAST(f_hi - f_lo AS BIGINT) AS n_picks
    FROM p WHERE f_hi > f_lo
    """,
)
def sample_weighted_systematic(spark: SparkSession, d: str) -> DataFrame:
    """Weighted (probability-proportional-to-size) sampling by
    SYSTEMATIC selection — K docs per source with inclusion
    probability proportional to n_chars, the PPS scheme survey
    statisticians use and the one weighted scheme that needs ZERO
    transcendentals: lay each group's docs on a line in salted-hash
    order, cumulate integer weights, and select the doc whose interval
    covers each of K evenly spaced probe points ((2i+1)·W/2K). A doc
    heavier than W/K can win multiple probes — reported as n_picks
    multiplicity (Σ n_picks = K per non-empty group, pinned in
    tests). Unlike exponential-key A-ES (-ln(u)/w), every comparison
    here is integer arithmetic, so selection is bit-exact
    cross-engine rather than 1-ulp-boundary-lucky.

    Scale: the per-group cumulative sums run through
    ``_grouped_running_sums`` (range shuffle + per-(partition, group)
    local windows + broadcast offset join) because source is
    LOW-cardinality — a plain partitionBy(source) window would
    single-task each source; group totals broadcast back; probe
    counting is a narrow integer map."""
    from pro_etl_spark.ops.analytics import _grouped_running_sums

    k = SYS_SAMPLE_K
    docs = load(spark, d, "documents").select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        hash60(
            F.concat(F.lit("swsys|"), F.col("doc_id").cast("string"))
        ).alias("_h"),
    )
    cum = _grouped_running_sums(docs, ["source"], ["_h", "doc_id"], ["n_chars"])
    tot = docs.groupBy("source").agg(F.sum("n_chars").alias("_w"))
    j = (
        cum.join(F.broadcast(tot), "source")
        .withColumn("_hi", F.col("run_n_chars"))
        .withColumn("_lo", F.col("run_n_chars") - F.col("n_chars"))
    )
    f_hi = F.expr(_SYS_F.format(k=k, x="_hi"))
    f_lo = F.expr(_SYS_F.format(k=k, x="_lo"))
    return (
        j.withColumn("_n_picks", f_hi - f_lo)
        .where(F.col("_n_picks") > 0)
        .select(
            "source",
            "doc_id",
            "n_chars",
            F.col("_n_picks").cast("long").alias("n_picks"),
        )
    )


OOV_TOPK = 12  # closed-vocab size; ~10^5 in production — sized to the
# synthetic corpus (31 distinct words) so coverage actually splits


@register(
    "corpus_oov_rate",
    oracle=rf"""
    WITH tok AS (
      SELECT source,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents
    ), cnt AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY 1
    ), vocab AS (
      SELECT token FROM (
        SELECT token, row_number() OVER (ORDER BY c DESC, token) AS rn
        FROM cnt
      ) WHERE rn <= {OOV_TOPK}
    )
    SELECT t.source,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           ROUND(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.source
    """,
)
def corpus_oov_rate(spark: SparkSession, d: str) -> DataFrame:
    """Tokenizer-coverage audit: the fraction of each source's token
    OCCURRENCES not covered by the top-OOV_TOPK closed vocabulary
    (frequency-ranked, (count desc, token) deterministic tiebreak) —
    the go/no-go number before freezing a vocab: a source whose OOV
    rate spikes will shatter into <unk>/byte-fallback at training
    time. Occurrence-weighted (not type-weighted) because the loss
    sees occurrences; complements ``corpus_vocab`` (df-thresholded
    construction) and ``text_tokens``.

    Scale: one corpus-wide token census (map-side combined), a
    vocab-sized top-K sort (legitimately single-partition — the vocab
    table is ~10⁵ rows no matter the corpus, same posture as
    ``corpus_vocab``), then the vocab BROADCASTS back over the token
    stream for the left-anti coverage count — the corpus shuffles once
    on token for the census and never again."""
    tok = load(spark, d, "documents").select(
        "source", F.explode(TOKENS()).alias("token")
    )
    cnt = tok.groupBy("token").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.desc("c"), "token")
    vocab = (
        cnt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= OOV_TOPK)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


@register(
    "sample_balanced",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {DUCK_HASH60.format(x="doc_id::VARCHAR || ':bal'")},
                        doc_id) AS rn
      FROM documents
    ), m AS (
      SELECT MIN(cnt) AS m FROM (
        SELECT COUNT(*) AS cnt FROM documents GROUP BY lang
      )
    )
    SELECT doc_id, lang, source, CAST(rn AS BIGINT) AS class_rank
    FROM ranked, m WHERE rn <= m.m
    """,
)
def sample_balanced(spark: SparkSession, d: str) -> DataFrame:
    """Class-balanced downsampling to the minority class — every lang
    keeps exactly min-class-count documents, the rebalancing step
    before training a classifier on skewed labels (complement of
    ``sample_stratified``'s fixed per-class rates: here the rate is
    DERIVED from the data so classes come out exactly equal). Which
    rows survive is decided by a salted-hash ranking (never rand()):
    the same document wins or loses its slot on every engine, rerun,
    and partitioning, and the kept set is a uniform draw because the
    hash order is independent of any data column.

    Scale: one window pass keyed by the class column ranks each class;
    the minority count is an O(|classes|) aggregate broadcast into the
    filter. Skewed class sizes are exactly what the operator exists
    for; a single giant class is one window partition — salt the rank
    by hash-prefix buckets and take per-bucket quotas if a class
    outgrows an executor (documented trade, same family as
    agg_salted_twophase)."""
    docs = load(spark, d, "documents")
    h = hash60(F.concat(F.col("doc_id").cast("string"), F.lit(":bal")))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    ranked = docs.select(
        "doc_id", "lang", "source", F.row_number().over(w).alias("rn")
    )
    m = docs.groupBy("lang").count().agg(F.min("count").alias("m"))
    return (
        ranked.crossJoin(F.broadcast(m))
        .where(F.col("rn") <= F.col("m"))
        .select(
            "doc_id", "lang", "source", F.col("rn").cast("long").alias("class_rank")
        )
    )


@register(
    "corpus_len_histogram",
    oracle=r"""
    WITH n AS (
      SELECT CAST(floor(log2(len(regexp_split_to_array(trim(text), '\s+'))))
                  AS BIGINT) AS bucket_log2
      FROM documents
    )
    SELECT bucket_log2,
           CAST(POWER(2, bucket_log2) AS BIGINT) AS bucket_min_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM n GROUP BY bucket_log2
    """,
)
def corpus_len_histogram(spark: SparkSession, d: str) -> DataFrame:
    """Sequence-length histogram in power-of-two buckets — the
    distribution every training run consults before choosing a context
    length and a packing strategy (what fraction of docs exceed 2^k
    tokens decides truncation loss vs padding waste; feeds
    ``seq_pack``/``pack_bestfit``). log2 bucketing via FLOOR(log2(n))
    on integer token counts: n is exact, log2 of an integer only sits
    ON a bucket boundary when n is a power of two, where log2 is exact
    in both engines — so the floor is deterministic cross-engine.

    Scale: narrow token count per doc, one tiny grouped aggregate
    (≤ ~40 buckets at any corpus size)."""
    n = F.size(TOKENS()).cast("long")
    return (
        load(spark, d, "documents")
        .select(F.floor(F.log2(n)).cast("long").alias("bucket_log2"))
        .groupBy("bucket_log2")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .select(
            "bucket_log2",
            F.pow(F.lit(2.0), F.col("bucket_log2"))
            .cast("long")
            .alias("bucket_min_tokens"),
            "n_docs",
        )
    )


@register(
    "text_zipf_fit",
    oracle=r"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents
    ), cnt AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY 1
    ), ranked AS (
      SELECT CAST(floor(ln(row_number() OVER (ORDER BY c DESC, token))
                        * 1000000) AS BIGINT) AS lx,
             CAST(floor(ln(c) * 1000000) AS BIGINT) AS ly
      FROM cnt
    ), s AS (
      SELECT COUNT(*) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
             SUM(lx * lx) AS sxx, SUM(lx * ly) AS sxy
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_types,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),
                 6) AS zipf_slope,
           ROUND((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx)) * sx)
                 / n / 1000000.0, 6) AS log_c_intercept
    FROM s
    """,
)
def text_zipf_fit(spark: SparkSession, d: str) -> DataFrame:
    """Zipf-law fit of the corpus frequency spectrum: OLS slope of
    log(frequency) against log(rank) over the full vocabulary —
    natural text sits near slope −1; a corpus that drifts far from it
    is the classic symptom of template spam (too flat) or synthetic
    repetition (too steep), which makes this the one-number
    "does this crawl read like language" audit. Both logs are
    floor-quantized to integer micros BEFORE the OLS sums (the repo's
    order-independence recipe), so the moments are bit-exact
    cross-engine; rank ties break on (count desc, token).

    Scale: one corpus token census (map-side combined), then the OLS
    moments over the VOCAB-sized ranked table; the ranking window is
    vocab-sized (same legitimate single-partition posture as
    ``corpus_vocab``, allowlisted in the plan audit). The slope
    itself aggregates to one row."""
    tok = load(spark, d, "documents").select(
        F.explode(TOKENS()).alias("token")
    )
    cnt = tok.groupBy("token").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.desc("c"), "token")
    ranked = cnt.select(
        F.floor(F.log(F.row_number().over(w).cast("double")) * 1000000)
        .cast("long")
        .alias("lx"),
        F.floor(F.log(F.col("c").cast("double")) * 1000000)
        .cast("long")
        .alias("ly"),
    )
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    return s.select(
        F.col("n").cast("long").alias("n_types"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / nd / 1000000.0, 6).alias(
            "log_c_intercept"
        ),
    )


@register(
    "text_code_detection",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[{}();=\[\]<>]')
                ) AS BIGINT) AS n_code_chars,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
             AS n_words,
           ROUND(CAST(len(regexp_extract_all(text, '[{}();=\[\]<>]'))
                      AS DOUBLE)
                 / GREATEST(length(text), 1), 6) AS symbol_density,
           len(regexp_extract_all(text, '[{}();=\[\]<>]'))
             > 0.05 * length(text) AS looks_like_code
    FROM documents
    """,
)
def text_code_detection(spark: SparkSession, d: str) -> DataFrame:
    """Code-vs-prose routing signal — the corpus-splitting heuristic a
    pre-train pipeline runs before anything language-specific (code
    goes to the code tokenizer/quality stack, prose to Gopher-style
    gates; mixing them poisons both): density of code-ish punctuation
    ({}();=[]<>) against document length, thresholded. The synthetic
    corpus is prose, so the flag is uniformly false HERE — the oracle
    still proves the counting arithmetic exactly, and the test pins
    positive detection on a code fixture. Pure regexp counts in
    whole-stage codegen.

    Scale: narrow map pass, no UDF, no shuffle — router signals must
    cost nothing because every document pays them."""
    t = F.col("text")
    code_chars = F.size(
        F.regexp_extract_all(t, F.lit(r"[{}();=\[\]<>]"), F.lit(0))
    ).cast("long")
    words = F.size(
        F.regexp_extract_all(t, F.lit("[A-Za-z]+"), F.lit(0))
    ).cast("long")
    return load(spark, d, "documents").select(
        "doc_id",
        code_chars.alias("n_code_chars"),
        words.alias("n_words"),
        F.round(
            code_chars.cast("double")
            / F.greatest(F.length(t), F.lit(1)),
            6,
        ).alias("symbol_density"),
        (code_chars > 0.05 * F.length(t)).alias("looks_like_code"),
    )


COVERAGE_THRESHOLDS = (50, 90, 99)  # percent of occurrence mass


@register(
    "corpus_ngram_coverage",
    oracle=rf"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents
    ), cnt AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY 1
    ), ranked AS (
      SELECT c,
             row_number() OVER (ORDER BY c DESC, token) AS rn,
             SUM(c) OVER (ORDER BY c DESC, token
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(c) OVER () AS total
      FROM cnt
    )
    SELECT t.thr AS pct_mass,
           CAST(MIN(r.rn) AS BIGINT) AS k_tokens,
           ROUND(CAST(MIN(r.cum) AS DOUBLE) / MAX(r.total), 6)
             AS mass_share
    FROM (VALUES {", ".join(f"({t})" for t in COVERAGE_THRESHOLDS)})
         AS t(thr)
    JOIN ranked r ON 100 * r.cum >= t.thr * r.total
    GROUP BY t.thr
    """,
)
def corpus_ngram_coverage(spark: SparkSession, d: str) -> DataFrame:
    """Vocabulary coverage curve: the smallest K such that the top-K
    tokens (by frequency) cover 50 / 90 / 99 % of all token
    OCCURRENCES — the tokenizer-sizing number (a vocab past the 99 %
    knee buys only byte-fallback relief) and the companion of
    ``text_zipf_fit`` (the slope predicts this curve; this measures
    it) and ``corpus_oov_rate`` (coverage of ONE chosen K). The mass
    comparison is all-integer (100·cum ≥ thr·total — no float
    threshold), and MIN(rn)/MIN(cum) per threshold are exact.

    Scale: one corpus census (map-side combined); the ranked
    cumulative sum runs over the VOCAB-sized count table
    (single-partition legitimately, same posture as ``corpus_vocab``);
    the threshold join is 3 literals against that table."""
    tok = load(spark, d, "documents").select(
        F.explode(TOKENS()).alias("token")
    )
    cnt = tok.groupBy("token").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.desc("c"), "token")
    ranked = cnt.select(
        "c",
        F.row_number().over(w).alias("rn"),
        F.sum("c")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
    )
    thr = spark.createDataFrame(
        [(t,) for t in COVERAGE_THRESHOLDS], "thr int"
    )
    return (
        ranked.join(
            F.broadcast(thr),
            100 * F.col("cum") >= F.col("thr") * F.col("total"),
        )
        .groupBy(F.col("thr").alias("pct_mass"))
        .agg(
            F.min("rn").cast("long").alias("k_tokens"),
            F.round(
                F.min("cum").cast("double") / F.max("total"), 6
            ).alias("mass_share"),
        )
    )


@register(
    "text_freq_spectrum",
    oracle=r"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents
    ), cnt AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY 1
    )
    SELECT CAST(c AS BIGINT) AS occurrences,
           CAST(COUNT(*) AS BIGINT) AS n_types
    FROM cnt GROUP BY c
    """,
)
def text_freq_spectrum(spark: SparkSession, d: str) -> DataFrame:
    """Frequency-of-frequency spectrum (how many token TYPES occur
    exactly k times) — the raw input of Good-Turing smoothing (N_1/N
    estimates unseen-token mass) and the other lens on the Zipf fit:
    a healthy corpus has a long N_1 hapax tail, a deduplicated dump of
    templates collapses the spectrum into spikes. Two map-side-
    combinable aggregations, all-integer, no quantization anywhere.

    Scale: token census (one shuffle on token), then a |distinct
    counts|-key aggregate of the vocab table — nothing touches the
    corpus twice."""
    tok = load(spark, d, "documents").select(
        F.explode(TOKENS()).alias("token")
    )
    cnt = tok.groupBy("token").agg(F.count("*").alias("c"))
    return cnt.groupBy(F.col("c").cast("long").alias("occurrences")).agg(
        F.count("*").cast("long").alias("n_types")
    )


def _langid_confusion_oracle() -> str:
    from pro_etl_spark.registry import ORACLES

    return f"""
    WITH pred AS ({ORACLES["text_langid"]}),
    j AS (
      SELECT d.lang AS true_lang, p.pred_lang
      FROM documents d JOIN pred p ON d.doc_id = p.doc_id
    ), tot AS (
      SELECT true_lang, COUNT(*) AS n_true FROM j GROUP BY 1
    )
    SELECT j.true_lang, j.pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(t.n_true), 6) AS share
    FROM j JOIN tot t ON t.true_lang = j.true_lang
    GROUP BY j.true_lang, j.pred_lang
    """


@register("text_langid_confusion", oracle=_langid_confusion_oracle())
def text_langid_confusion(spark: SparkSession, d: str) -> DataFrame:
    """Language-ID CONFUSION MATRIX — the eval loop closed over
    ``text_langid``: detected language vs the corpus's labeled
    ``lang`` column, with per-true-language recall shares (the
    diagonal is recall; a hot off-diagonal cell names the exact
    confusion to fix before the router mis-shards a whole language).
    Model-eval-as-a-query: the same pattern
    ``ann_recall_eval``/``ann_mrr_eval`` apply to retrieval, here for
    a classifier — detector and truth never leave the engine.

    Scale: the detector is a narrow map pass; the matrix is a
    |langs|²-key aggregate with a broadcast row-total join."""
    pred = text_langid(spark, d).select("doc_id", "pred_lang")
    truth = load(spark, d, "documents").select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    j = truth.join(pred, "doc_id")
    tot = j.groupBy("true_lang").agg(F.count("*").alias("n_true"))
    return (
        j.groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n"))
        .join(F.broadcast(tot), "true_lang")
        .select(
            "true_lang",
            "pred_lang",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_true"), 6).alias(
                "share"
            ),
        )
    )


#: intra-document span dedup: repeated n-gram width (3 fires on ~5%
#: of this corpus's docs; 5+ never repeats inside these short docs)
INTRA_SPAN_N = 3


@register(
    "text_dedup_intra_span",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), sp AS (
      SELECT doc_id, toks, len(toks) AS m,
             CASE WHEN len(toks) >= {INTRA_SPAN_N}
                  THEN list_transform(
                         range(1, len(toks) - {INTRA_SPAN_N - 2}),
                         i -> array_to_string(
                                list_slice(toks, i, i + {INTRA_SPAN_N - 1}),
                                ' '))
                  ELSE [] END AS spans
      FROM t
    ), dup AS (
      SELECT doc_id, toks, m,
             list_transform(range(1, len(spans) + 1),
               i -> i > 1 AND list_contains(list_slice(spans, 1, i - 1),
                                            spans[i])) AS dupf
      FROM sp
    ), marked AS (
      SELECT doc_id, toks, m,
             list_filter(range(1, m + 1),
               k -> len(dupf) = 0 OR NOT len(list_filter(
                      range(greatest(1, k - {INTRA_SPAN_N - 1}),
                            least(k, len(dupf)) + 1),
                      i -> dupf[i])) > 0) AS kept
      FROM dup
    )
    SELECT doc_id,
           CAST(m AS BIGINT) AS n_tokens,
           CAST(m - len(kept) AS BIGINT) AS n_removed,
           array_to_string(list_transform(kept, k -> toks[k]), ' ')
             AS cleaned_text
    FROM marked
    """,
)
def text_dedup_intra_span(spark: SparkSession, d: str) -> DataFrame:
    """IN-DOCUMENT repeated-span removal — the intra-doc half of
    dedup that corpus-level MinHash can't see (MassiveText /
    RefinedWeb "repetitious content" rule): any {INTRA_SPAN_N}-token
    span that already occurred VERBATIM earlier in the same document
    marks all its tokens for removal; the document is re-emitted with
    only the kept tokens (first occurrence always survives). Catches
    boilerplate echoes, scraper stutter, and navigation loops that
    inflate token counts and teach models to repeat themselves.

    Arrow-vectorized (round 10, the mm_phash recipe): the in-row HOF
    form did O(spans²) interpreted string compares per document
    (array_contains over the growing prefix — 59.8 s at the 10×
    probe); one pandas UDF now builds a per-doc hash SET of spans
    (O(spans)), flags earlier-duplicates, and takes the sliding-window
    coverage test over a prefix-sum of the flags — per-doc linear.
    The codegen'd JVM split feeds it the token array (shared \\s+
    contract); span keys are the same space-joined strings the oracle
    compares, so the reconstructed text stays value-exact. Still zero
    shuffles — a narrow map over documents; at 100 TB this runs as a
    scan-attached projection in the ingest pass, before any
    corpus-level dedup shuffles."""
    import numpy as np

    n = INTRA_SPAN_N

    @pandas_udf("struct<n_tokens: long, n_removed: long, cleaned_text: string>")
    def intra(toks: pd.Series) -> pd.DataFrame:
        nt, nr, cl = [], [], []
        for lst in toks:
            if lst is None:
                nt.append(None)
                nr.append(None)
                cl.append(None)
                continue
            m = len(lst)
            nspan = m - n + 1
            if nspan < 1:
                nt.append(m)
                nr.append(0)
                cl.append(" ".join(lst))
                continue
            seen: set = set()
            dup = np.zeros(nspan, dtype=np.int64)
            for i in range(nspan):
                key = " ".join(lst[i : i + n])
                if key in seen:
                    dup[i] = 1
                else:
                    seen.add(key)
            cs = np.concatenate(([0], np.cumsum(dup)))
            kept = [
                t
                for k, t in enumerate(lst)
                if cs[min(k, nspan - 1) + 1] - cs[max(0, k - (n - 1))] == 0
            ]
            nt.append(m)
            nr.append(m - len(kept))
            cl.append(" ".join(kept))
        return pd.DataFrame(
            {"n_tokens": nt, "n_removed": nr, "cleaned_text": cl}
        )

    docs = load(spark, d, "documents").select(
        "doc_id", intra(TOKENS()).alias("r")
    )
    return docs.select(
        "doc_id",
        F.col("r")["n_tokens"].alias("n_tokens"),
        F.col("r")["n_removed"].alias("n_removed"),
        F.col("r")["cleaned_text"].alias("cleaned_text"),
    )


#: fragment stitching: suffix/prefix bridge width in tokens
STITCH_K = 2


@register(
    "text_fragment_stitch",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), ends AS (
      SELECT doc_id,
             array_to_string(list_slice(toks, 1, {STITCH_K}), ' ')
               AS head_gram,
             array_to_string(list_slice(toks, len(toks) - {STITCH_K - 1},
                                        len(toks)), ' ') AS tail_gram
      FROM t WHERE len(toks) >= {STITCH_K * 2}
    )
    SELECT a.doc_id AS doc_tail, b.doc_id AS doc_head,
           a.tail_gram AS bridge
    FROM ends a JOIN ends b
      ON a.tail_gram = b.head_gram AND a.doc_id <> b.doc_id
    """,
)
def text_fragment_stitch(spark: SparkSession, d: str) -> DataFrame:
    """FRAGMENT-STITCH detection — find document pairs where one
    page's closing {STITCH_K}-gram is another's opening {STITCH_K}-
    gram: the signature of pagination splits, "continued on next
    page" crawl fragments, and chunked uploads that entered the
    corpus as separate records. Corpus-level near-dup (MinHash) can't
    see these — the fragments OVERLAP only at the seam, so their
    Jaccard is tiny — yet training on them teaches truncation
    artifacts; stitch candidates feed a merge-or-drop review queue.
    Join keys are the literal boundary grams (head_gram = first
    {STITCH_K} tokens, tail_gram = last {STITCH_K}), so the match is
    byte-exact and order matters (A ends where B begins, directed
    pair).

    Scale: one narrow pass computes two boundary grams per doc; the
    candidate join is an EQUI-join on the gram string (shuffle keyed
    by gram) — never a similarity product; hot boilerplate grams
    (every page ending 'click next') are the MAX_BUCKET/stop-gram
    case and get the same frequency cap as the LSH family before the
    join at crawl scale."""
    t = load(spark, d, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    ends = t.where(F.size("toks") >= STITCH_K * 2).select(
        "doc_id",
        F.array_join(F.slice(F.col("toks"), 1, STITCH_K), " ").alias(
            "head_gram"
        ),
        F.array_join(
            F.slice(F.col("toks"), -STITCH_K, STITCH_K), " "
        ).alias("tail_gram"),
    )
    a, b = ends.alias("a"), ends.alias("b")
    return a.join(
        b,
        (F.col("a.tail_gram") == F.col("b.head_gram"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_tail"),
        F.col("b.doc_id").alias("doc_head"),
        F.col("a.tail_gram").alias("bridge"),
    )


#: KWIC concordance: probe token and context width (tokens per side)
KWIC_PROBE = "spark"
KWIC_WIDTH = 3


@register(
    "text_kwic",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents WHERE doc_id % 7 = 0
    ), hits AS (
      SELECT doc_id, toks, i
      FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)
      WHERE toks[i] = '{KWIC_PROBE}'
    )
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           COALESCE(array_to_string(list_slice(toks,
             greatest(1, i - {KWIC_WIDTH}), i - 1), ' '), '') AS left_ctx,
           COALESCE(array_to_string(list_slice(toks, i + 1,
             least(len(toks), i + {KWIC_WIDTH})), ' '), '') AS right_ctx
    FROM hits
    """,
)
def text_kwic(spark: SparkSession, d: str) -> DataFrame:
    """KWIC (KeyWord In Context) concordance — every occurrence of a
    probe token with {KWIC_WIDTH} tokens of context each side: the
    corpus-linguistics tool annotation teams use to audit how a term
    is actually used before writing filter rules (and the
    window-extraction primitive under ``text_cooccurrence``'s
    statistics, here surfaced per occurrence instead of aggregated).
    Occurrence positions fan out IN-ROW (indexed filter over the
    token list), context slices clamp at document edges — all HOF
    algebra, value-exact in both engines including the reassembled
    context strings.

    Scale: narrow in-row transform, pushed filter, no shuffle; at
    100 TB this is a scan-attached projection whose output is
    bounded by probe frequency."""
    t = (
        load(spark, d, "documents")
        .where(F.col("doc_id") % 7 == 0)
        .select(
            "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
        )
    )
    hits = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.filter(
                F.sequence(F.lit(1), F.size("toks")),
                lambda i: F.element_at(F.col("toks"), i) == KWIC_PROBE,
            )
        ).alias("i"),
    )
    i = F.col("i")
    left = F.array_join(
        F.slice(
            F.col("toks"),
            F.greatest(F.lit(1), i - KWIC_WIDTH),
            i - F.greatest(F.lit(1), i - KWIC_WIDTH),
        ),
        " ",
    )
    right = F.array_join(
        F.slice(
            F.col("toks"),
            i + 1,
            F.least(F.size("toks"), i + KWIC_WIDTH) - i,
        ),
        " ",
    )
    return hits.select(
        "doc_id",
        i.cast("long").alias("pos"),
        left.alias("left_ctx"),
        right.alias("right_ctx"),
    )


@register(
    "corpus_ccnet_buckets",
    oracle=f"""
    WITH base AS ({_LM_SCORE_SQL}
    ), langd AS (
      SELECT base.doc_id, d.lang, base.avg_p_micro
      FROM base JOIN documents d ON d.doc_id = base.doc_id
    ), bucketed AS (
      SELECT lang, avg_p_micro,
             NTILE(3) OVER (PARTITION BY lang
                            ORDER BY avg_p_micro DESC, doc_id) AS tert
      FROM langd
    )
    SELECT lang,
           CASE tert WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(avg_p_micro) AS min_score,
           MAX(avg_p_micro) AS max_score
    FROM bucketed GROUP BY lang, tert
    """,
)
def corpus_ccnet_buckets(spark: SparkSession, d: str) -> DataFrame:
    """CCNet-style QUALITY BUCKETING — split each language's documents
    into head/middle/tail terciles by LM familiarity
    (``text_lm_score``'s add-1 bigram score standing in for KenLM
    perplexity, exactly CCNet's recipe): 'head' trains as-is, 'middle'
    gets sampled, 'tail' is reviewed or dropped — per LANGUAGE, so a
    low-resource language's best third isn't crushed by a
    high-resource language's distribution. Tercile assignment is
    NTILE(3) over a deterministic total order (score desc, doc_id) —
    both engines implement the standard remainder-to-leading-buckets
    NTILE, so membership is exact. Output is the per-(lang, bucket)
    census with score ranges — the cut table a sampler consumes.

    Scale: scoring is the lm_score plan (corpus bigram join against
    the LM state); ranking partitions by lang — a handful of hot
    partitions at corpus scale, where the production form swaps in
    the distributed-NTILE helper (`_global_ntile`, rfm_segmentation's
    machinery) keyed (lang, range-pid). The census is |langs| x 3."""
    scores = text_lm_score(spark, d).select("doc_id", "avg_p_micro")
    langd = scores.join(
        load(spark, d, "documents").select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("avg_p_micro"), F.asc("doc_id")
    )
    bucketed = langd.withColumn("tert", F.ntile(3).over(w))
    bucket = (
        F.when(F.col("tert") == 1, "head")
        .when(F.col("tert") == 2, "middle")
        .otherwise("tail")
    )
    return bucketed.groupBy("lang", bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("avg_p_micro").alias("min_score"),
        F.max("avg_p_micro").alias("max_score"),
    )


#: blocklist categories (stand-in terms drawn from the corpus vocab;
#: a real deployment loads curated lists — the machinery is the op)
BLOCKLIST = {
    "infra_leak": ["spark", "hash"],
    "ops_noise": ["error", "retry"],
}
#: docs with flagged-token density above this fail the gate
BLOCK_DENSITY = 0.08


def _blocklist_sql() -> str:
    cats = []
    for cat, words in BLOCKLIST.items():
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        cats.append(
            f"len(list_filter(toks, x -> list_contains({lst}, x)))"
            f" AS n_{cat}"
        )
    return ", ".join(cats)


@register(
    "text_blocklist_gate",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, len(toks) AS n_tokens, {_blocklist_sql()}
      FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_infra_leak AS BIGINT) AS n_infra_leak,
           CAST(n_ops_noise AS BIGINT) AS n_ops_noise,
           ROUND(CAST(n_infra_leak + n_ops_noise AS DOUBLE)
                 / greatest(n_tokens, 1), 6) AS flagged_density,
           CAST(n_infra_leak + n_ops_noise AS DOUBLE)
             / greatest(n_tokens, 1) <= {BLOCK_DENSITY} AS keep
    FROM c
    """,
)
def text_blocklist_gate(spark: SparkSession, d: str) -> DataFrame:
    """WORDLIST safety gate with CATEGORY ATTRIBUTION — the
    blocklist-density filter every corpus pipeline runs before the
    statistical gates (and the transparent complement of
    ``text_quality_classifier``'s learned score): per document, hit
    counts PER CATEGORY, total flagged density, and the keep verdict
    at the {BLOCK_DENSITY} threshold. Per-category counts matter
    operationally — a "drop" with no attribution can't be appealed or
    audited, and category mixes tune differently (one slur vs dense
    profanity vs medical terms). Lists here are corpus-vocab
    stand-ins; production swaps curated lists into the same literal
    arrays without touching the plan shape.

    Scale: category counting is an in-row list_filter against
    broadcast-literal arrays — narrow, no shuffle, no UDF; realistic
    multi-thousand-term lists move from literal arrays into a
    broadcast join on exploded tokens (same answer, same shape as
    ``decontaminate_ngrams``)."""
    t = load(spark, d, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    cat_cols = [
        F.size(
            F.filter(
                F.col("toks"),
                lambda x: x.isin(*words),
            )
        ).alias(f"n_{cat}")
        for cat, words in BLOCKLIST.items()
    ]
    c = t.select("doc_id", F.size("toks").alias("n_tokens"), *cat_cols)
    total = sum(F.col(f"n_{cat}") for cat in BLOCKLIST)
    density = total.cast("double") / F.greatest(
        F.col("n_tokens"), F.lit(1)
    )
    return c.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        *[
            F.col(f"n_{cat}").cast("long").alias(f"n_{cat}")
            for cat in BLOCKLIST
        ],
        F.round(density, 6).alias("flagged_density"),
        (density <= BLOCK_DENSITY).alias("keep"),
    )


@register(
    "corpus_fertility_by_lang",
    oracle=r"""
    WITH t AS (
      SELECT lang,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
             len(regexp_extract_all(text, '[a-z]+|[0-9]+'))
               + len(regexp_extract_all(text, '[^a-z0-9\s]')) AS n_tokens,
             n_chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           ROUND(CAST(SUM(n_tokens) AS DOUBLE) / SUM(n_words), 6)
             AS fertility,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens), 6)
             AS chars_per_token
    FROM t GROUP BY lang
    """,
)
def corpus_fertility_by_lang(spark: SparkSession, d: str) -> DataFrame:
    """TOKENIZER FERTILITY by language — tokens-per-word and
    chars-per-token under the BPE-ish lexer (word/number runs plus one
    token per residual symbol), grouped by language. THE budgeting
    metric for multilingual training mixes: a language whose fertility
    is 2× pays 2× the context window for the same text, which skews
    both the effective mix (``corpus_mix_weights`` operates on docs,
    training cost operates on tokens) and per-language loss weighting.

    Exactness: all counts are integers from identical regexes; the two
    closing divisions are single IEEE ops rounded at 1e-6.

    Scale: one narrow regex pass + one grouped rollup keyed by lang —
    map-side combinable, no joins."""
    t = load(spark, d, "documents").select(
        "lang",
        F.size(TOKENS()).alias("n_words"),
        (
            F.size(
                F.regexp_extract_all(
                    F.col("text"), F.lit("[a-z]+|[0-9]+"), 0
                )
            )
            + F.size(
                F.regexp_extract_all(F.col("text"), F.lit(r"[^a-z0-9\s]"), 0)
            )
        ).alias("n_tokens"),
        "n_chars",
    )
    return t.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.round(
            F.sum("n_tokens").cast("double") / F.sum("n_words"), 6
        ).alias("fertility"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_tokens"), 6
        ).alias("chars_per_token"),
    )


@register(
    "split_kfold",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, lang,
             {DUCK_HASH60.format(x="(CAST(doc_id AS VARCHAR) || ':fold')")}
               % 5 AS fold
      FROM documents
    ), g AS (
      SELECT fold, lang, COUNT(*) AS n FROM f GROUP BY 1, 2
    ), t AS (
      SELECT fold, SUM(n) AS fn FROM g GROUP BY fold
    )
    SELECT CAST(g.fold AS BIGINT) AS fold, g.lang,
           CAST(g.n AS BIGINT) AS n_docs,
           ROUND(CAST(g.n AS DOUBLE) / t.fn, 6) AS lang_share
    FROM g JOIN t USING (fold)
    """,
)
def split_kfold(spark: SparkSession, d: str) -> DataFrame:
    """K-FOLD assignment + balance audit — deterministic 5-fold split
    by salted content-key hash (the ``split_train_test`` discipline:
    never rand(), reproducible across engines/reruns/partitionings,
    late-arriving docs never reshuffle existing folds) reported as the
    per-fold language composition a cross-validation harness checks
    before training: a fold whose lang_share deviates materially from
    the corpus share means the folds aren't exchangeable and CV
    variance estimates are biased. Pair with ``split_leakage_safe``
    when near-dup clusters must not straddle folds.

    Exactness: the fold id is the shared 60-bit md5 hash mod 5;
    counts are integers; one division per output row at 1e-6.

    Scale: narrow hash pass + two map-side-combinable rollups keyed
    (fold, lang) then fold — no joins against the corpus."""
    f = load(spark, d, "documents").select(
        "lang",
        (
            hash60(F.concat(F.col("doc_id").cast("string"), F.lit(":fold")))
            % 5
        ).alias("fold"),
    )
    g = f.groupBy("fold", "lang").agg(F.count("*").alias("n"))
    t = g.groupBy(F.col("fold").alias("tf")).agg(F.sum("n").alias("fn"))
    return (
        g.join(F.broadcast(t), F.col("fold") == F.col("tf"))
        .select(
            F.col("fold").cast("long").alias("fold"),
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            F.round(F.col("n").cast("double") / F.col("fn"), 6).alias(
                "lang_share"
            ),
        )
    )


SAMPLE_WOR_N = 100  # weighted-without-replacement sample size


@register(
    "sample_weighted_wor",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, n_chars AS w,
             ({DUCK_HASH60.format(
                 x="(CAST(doc_id AS VARCHAR) || ':wor')")} % 999999999) + 1
               AS u_nanos
      FROM documents WHERE n_chars > 0
    ), k AS (
      SELECT doc_id, w, u_nanos,
             CAST(FLOOR(LN(u_nanos / 1000000000.0) / w * 1000000000000.0)
               AS BIGINT) AS key_picos
      FROM u
    )
    SELECT doc_id, CAST(w AS BIGINT) AS weight,
           CAST(u_nanos AS BIGINT) AS u_nanos, key_picos
    FROM k ORDER BY key_picos DESC, doc_id LIMIT {SAMPLE_WOR_N}
    """,
)
def sample_weighted_wor(spark: SparkSession, d: str) -> DataFrame:
    """WEIGHTED sampling WITHOUT replacement (Efraimidis–Spirakis
    A-Res): each row draws a deterministic uniform u from the salted
    content hash and is ranked by ln(u)/w — the top-n by that key is
    EXACTLY a weight-proportional WOR sample, the one-pass distributed
    answer to "give me 100 documents, long ones proportionally more
    likely, no duplicates, reproducible". Complements the PPS
    WITH-replacement sampler (``sample_weighted_systematic``): WOR is
    what eval-set construction needs, where a duplicate pick is a
    wasted slot.

    Exactness: u is an integer-nanos hash draw (never rand()); the
    E-S key quantizes ln(u)/w to integer picos (the transcendental
    discipline) with a doc-id tie-break, so the selected SET is
    identical cross-engine; the top-n is sort+limit — Spark's
    TakeOrdered (per-partition heaps + driver merge of n), never a
    global sort.

    Scale: one narrow hash/ln pass and a size-n heap per partition —
    no shuffle of the corpus at all; n rows move to the driver-side
    merge exactly once."""
    u = (
        load(spark, d, "documents")
        .where(F.col("n_chars") > 0)
        .select(
            "doc_id",
            F.col("n_chars").alias("w"),
            (
                hash60(
                    F.concat(F.col("doc_id").cast("string"), F.lit(":wor"))
                )
                % 999999999
                + 1
            ).alias("u_nanos"),
        )
    )
    k = u.select(
        "doc_id",
        F.col("w").cast("long").alias("weight"),
        F.col("u_nanos").cast("long").alias("u_nanos"),
        F.floor(
            F.log(F.col("u_nanos") / 1000000000.0)
            / F.col("w")
            * 1000000000000.0
        )
        .cast("long")
        .alias("key_picos"),
    )
    return k.orderBy(F.desc("key_picos"), F.asc("doc_id")).limit(
        SAMPLE_WOR_N
    )
