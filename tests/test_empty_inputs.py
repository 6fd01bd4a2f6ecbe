"""Empty-input robustness: every operator family must handle 0-row
tables without raising (ANSI mode makes this non-trivial: element_at /
array_min / division / sequence() all have empty-input edge cases).

A 100 TB pipeline sees empty slices constantly — an empty date
partition, a source with no documents today, a dimension refresh that
matched nothing. The oracle suite never exercises that regime because
the test tables are always populated; this one does.
"""

from __future__ import annotations

import pytest

import pro_etl_spark
from pro_etl_spark.io import load

SF = "/root/testdata/sf0.001"

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

#: one representative per family (scan, filter, agg, window, join,
#: set, scalar, nested, streaming-batch, dedup, ANN, text, CDC, SQL,
#: sampling). dedup_clusters is excluded: its driver loop is memoized
#: per dataset and costs a round trip per probe — the LSH generator it
#: consumes is covered.
REPRESENTATIVES = [
    "filter_eq",
    "case_when_status",
    "agg_multi_measure",
    "agg_groupby_count",
    "window_rank",
    "join_broadcast_inner",
    "join_asof",
    "join_asof_tolerance",
    "set_union",
    "fn_json",
    "explode_attrs",
    "stream_tumbling",
    "stream_join_static",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash_lsh",
    "dedup_embedding_kmeans",
    "ann_cosine_topk",
    "ann_ivf_kmeans_topk",
    "ivf_kmeans_assign",
    "text_quality",
    "text_repetition",
    "text_pii_scrub",
    "pipeline_gopher_filter",
    "sample_mix",
    "split_train_test",
    "merge_scd1",
    "scd2_intervals",
    "sessionize",
    "scan_schema_drift",
    "funnel_conversion",
    "window_rolling_24h",
    "agg_histogram",
    "fn_winsorize",
    "ann_ivf_kmeans_multiprobe",
    "ann_ivfpq_topk",
    "text_quality_classifier",
    "dup_span_profile",
    "mm_chunk_dedup",
    "ann_range_search",
    "stream_late_drop",
    "corpus_mix_weights",
    "funnel_attribution",
    "retention_cohorts",
    "window_ewma",
    "dq_expectations",
    "dedup_minhash_estimate",
    "join_asof_forward",
    "udtf_bigrams",
    "graph_pagerank",
    "text_winnow",
    "sql_shipping_priority",
    "sql_local_supplier_volume",
    # round-5 additions, one per new family
    "events_ohlc",
    "agg_argminmax",
    "text_cooccurrence",
    "ann_hybrid_rrf",
    "ann_recall_eval",
    "mm_audio_energy",
    "mm_scene_cuts",
    "sample_importance",
    "set_except_all",
    "window_rolling_median",
    "interval_concurrency",
    "anomaly_cusum",
    "ab_ttest",
    "window_drawdown",
    "agg_hll_merge",
    "pack_bestfit",
    "graph_jaccard_suggest",
    "ann_matryoshka_eval",
    "dedup_lsh_eval",
    "fn_regexp_extract_all",
    "sql_group_order_all",
    "sql_with_ties",
    "basket_affinity",
    "text_rouge2",
    "rfm_segmentation",
    "text_rake_keyphrases",
    "events_peaks",
    "window_hampel",
    "fn_luhn",
    "text_embed_hash",
    "graph_kcore",
    "survival_km",
    # round-6 additions
    "bpe_train_merges",
    "skew_key_profile",
    "text_readability",
    "pipeline_data_funnel",
    "events_ks_test",
    "events_chi_square",
    "window_holt",
    # round-7 additions: the shingle-LSH production path, SemDeDup
    # survivors, the grid-blocked spatial join, and the sharded sink
    "dedup_minhash_shingle",
    "dedup_minhash_shingle_lsh",
    "dedup_shingle_lsh_eval",
    "dedup_semantic_keep",
    "join_spatial_grid",
    "dedup_exact_normalized",
    "agg_histogram_equidepth",
    "scan_binary_files",
    "events_mannwhitney",
    # round-7 batch 2+: tokenizer apply, LPA, PPS sampler, imputation,
    # info-theoretic drift, spatial kNN, islands, Bollinger, grouping
    "bpe_encode",
    "graph_label_propagation",
    "sample_weighted_systematic",
    "impute_group_median",
    "corpus_lang_entropy",
    "corpus_js_divergence",
    "join_spatial_knn",
    "fn_ip_parse",
    "interval_merge",
    "window_bollinger",
    "events_seasonal_dow",
    "sql_grouping_sets",
    "graph_bfs_distances",
    "agg_listagg",
    "ann_filtered_topk",
    "sql_national_market_share",
    "window_rolling_corr",
    "anomaly_iqr",
    "corpus_oov_rate",
    "fn_xpath",
    "agg_weighted_median",
    "sample_balanced",
    "events_forecast_backtest",
    "graph_degree_distribution",
    "mm_image_tiles",
    "udf_iter_series",
    "join_shuffle_hash_hint",
    "set_intersect_all",
    "fn_aes_roundtrip",
    "agg_geomean",
    "ann_hard_negatives",
    "merge_scd2_apply",
    "sql_pivot_syntax",
    "agg_boolean_family",
    "corpus_len_histogram",
    "dedup_pair_similarity_histogram",
    "shard_rendezvous",
    "embed_class_separation",
    "dq_referential_integrity",
    "events_time_to_convert",
    "dedup_minhash_bbit",
    "fn_try_arithmetic",
    "udf_arrow_scalar",
    "fn_url_params",
    "agg_conditional_distinct",
    "mm_chunk_cdc",
    "sql_unpivot_syntax",
    "sql_values_inline_table",
    "corpus_shard_balance",
    "scan_agg_pushdown",
    "text_zipf_fit",
    "events_markov_stationary",
    "sample_poisson_bootstrap",
    "corpus_cross_dedup_matrix",
    "fn_json_struct",
    "events_seasonal_residual",
    "window_vwap",
    "events_burstiness",
    "graph_personalized_pagerank",
    "corpus_dup_inflation",
    "text_code_detection",
    "embed_norm_outliers",
    "fn_width_bucket",
    "corpus_ngram_coverage",
    "graph_modularity",
    "sql_join_using",
    "sql_pagination_offset",
    "scan_pagination_keyset",
    "text_freq_spectrum",
    "cdc_late_dimension",
    "text_langid_confusion",
    "agg_distinct_arithmetic",
    "events_top_movers",
    "corpus_template_prefix",
    "sql_scalar_subquery_select",
    # round-7 session 2: every operator added this session
    "ab_cuped",
    "graph_assortativity",
    "decontaminate_substring",
    "sql_star_except",
    "dedup_embedding_srp",
    "events_stickiness",
    "funnel_attribution_position",
    "survival_nelson_aalen",
    "skyline_pareto_front",
    "events_rate_limit",
    "dedup_ppjoin_prefix",
    "merge_scd3",
    "sample_neyman_alloc",
    "events_path_trigrams",
    "events_twap",
    "fn_pad_split",
    "text_dedup_intra_span",
    "sql_named_window",
    "fn_char_codes",
    "events_bot_score",
    "sink_csv_quoted",
    "agg_percentile_cont",
    "agg_bitmap_rollup",
    "window_ignore_nulls",
    "interval_allen_census",
    "dq_freshness",
    "sink_text_roundtrip",
    "fn_make_datetime",
    "join_range_binned",
    "agg_herfindahl",
    "arr_ops_family",
    "text_fragment_stitch",
    "scan_nested_pruning",
    "ab_power_mde",
    "mm_header_parse",
    "features_user_velocity",
    "agg_trimmed_mean",
    "corpus_contamination_report",
    "dedup_cluster_size_histogram",
    "embed_dim_stats",
    "udf_cogrouped_map",
    "split_leakage_safe",
    "text_kwic",
    "corpus_ccnet_buckets",
    "features_future_label",
    "dq_primary_key",
    "interval_gaps",
    "shard_consistent_hash",
    "agg_corr_matrix",
    "features_target_encoding",
    "dq_hash_uniformity",
    "features_decay_score",
    "events_theil_sen",
    "fiscal_445_rollup",
    "dedup_cascade_census",
    "events_control_chart",
    "ab_effect_size",
    "sample_neyman_apply",
    "ab_ratio_delta_ci",
    "fn_uuid5",
    "corpus_quality_dup_crosstab",
    "events_macd",
    "basket_reorder_rate",
    "orders_ship_latency",
    "events_interrupted_ts",
    "sink_parquet_zstd",
    "sql_parameterized",
    "set_union_by_name",
    "events_cooks_distance",
    "events_mann_kendall",
    "text_blocklist_gate",
    "corpus_vocab_overlap",
    "orders_price_volume_mix",
    "corpus_drift_top_tokens",
    "embed_centroid_drift",
    "ab_wilson_ci",
    "features_behavior_entropy",
    "agg_bayes_smoothed_rate",
    "funnel_attribution_shapley",
    # round-8 additions
    "graph_hits",
    "corpus_psi",
    "ann_ndcg_eval",
    "retention_rolling_actives",
    "features_woe_iv",
    "events_changepoint_binseg",
    "events_holt_winters",
    "shard_range_splits",
    "interval_difference",
    "mm_phash",
    "agg_count_min_sketch",
    "orders_cohort_ltv",
    "orders_backlog_aging",
    "funnel_time_constrained",
    "window_rolling_zscore",
    "embed_standardize",
    "scan_fixed_width",
    "orders_abc_xyz",
    "dedup_lsh_tuning_curves",
    "features_session_profile",
    "mm_audio_vad_segments",
    "supplier_scorecard",
    "events_poisson_rate_ci",
    # the two graph keys not covered above, so every graph operator
    # runs on an empty pair graph
    "graph_triangles",
    "graph_closeness_landmarks",
]


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    """A dataset directory with every table present but 0 rows
    (schemas preserved from sf0.001)."""
    import pyspark.sql.functions as F

    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        df = load(spark, SF, t)
        if t == "events":
            # mimic the raw file layout: ts stored as nanos-since-epoch
            # (io.load expects to truncate `ts div 1000` itself)
            df = df.withColumn("ts", F.unix_micros("ts") * 1000)
        df.limit(0).coalesce(1).write.mode("overwrite").parquet(
            str(d / f"{t}.parquet")
        )
    return str(d)


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_runs_on_empty_tables(spark, empty_sf, name):
    rows = pro_etl_spark.get_queries()[name](spark, empty_sf).collect()
    assert rows == [] or len(rows) >= 0  # must not raise; row count free


#: global-aggregate operators that emit a NON-EMPTY frame even on a
#: 0-row input (a total row, a test statistic, a fitted parameter) —
#: the class where Spark and the oracle can silently disagree on the
#: empty slice (one emits a NULL-stat row, the other emits nothing).
#: The round-6 KS fix (oracle `FROM tot LEFT JOIN cum ON TRUE`,
#: events_ks_test) established the parity discipline; this asserts it
#: as an EQUALITY check — Spark rows == oracle rows on empty input —
#: for the whole family, not just no-exception.
GLOBAL_AGG_PARITY = [
    "events_ks_test",
    "ab_ttest",
    "ab_effect_size",
    "ab_power_mde",
    "ab_wilson_ci",
    "ab_ratio_delta_ci",
    "agg_moments",
    "agg_linear_fit",
    "agg_variance_merge",
    "agg_count",
    "events_mann_kendall",
    "events_mannwhitney",
    "events_chi_square",
    "dq_hash_uniformity",
    "dq_primary_key",
    "migration_summary",
]


@pytest.fixture(scope="module")
def empty_duck(empty_sf):
    """DuckDB views over the SAME empty dataset the Spark side reads.
    events.ts is stored as raw nanos in the empty fixture (io.load
    truncates it Spark-side), so the view applies the identical
    nanos → micros timestamp normalization."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        # Spark writes a DIRECTORY <table>.parquet/part-*.parquet
        glob = f"{empty_sf}/{t}.parquet/*.parquet"
        if t == "events":
            con.execute(
                f"CREATE VIEW events AS SELECT * REPLACE ("
                f"make_timestamp(CAST(ts / 1000 AS BIGINT)) AS ts) "
                f"FROM read_parquet('{glob}')"
            )
        else:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')"
            )
    yield con
    con.close()


def _norm_empty(v):
    import datetime
    import math

    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm_empty(x) for x in v)
    return v


@pytest.mark.parametrize("name", GLOBAL_AGG_PARITY)
def test_global_agg_empty_parity(spark, empty_sf, empty_duck, name):
    qs = pro_etl_spark.get_queries()
    oracles = pro_etl_spark.get_oracles()
    sdf = qs[name](spark, empty_sf)
    srows = sdf.collect()
    res = empty_duck.execute(oracles[name])
    dcols = [c[0] for c in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows), (
        f"{name}: empty-slice row-count split spark={len(srows)} "
        f"oracle={len(drows)} — one engine emits a stat row, the "
        f"other emits nothing"
    )
    order = sorted(range(len(sdf.columns)), key=lambda i: sdf.columns[i])
    dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
    s = sorted(
        tuple(_norm_empty(r[i]) for i in order) for r in srows
    )
    o = sorted(
        tuple(_norm_empty(r[i]) for i in dorder) for r in drows
    )
    mismatches = [(a, b) for a, b in zip(s, o) if a != b]
    assert not mismatches, f"{name}: empty-slice values: {mismatches}"


def test_distinct_bigrams_degenerate_docs(spark):
    """Regression: 0- and 1-token docs must yield an empty bigram set,
    not a runtime 'SQL array indices start at 1' error (sequence(1, 0)
    is the DESCENDING [1, 0] in Spark, so the unguarded transform
    indexes position 0)."""
    import pyspark.sql.functions as F

    from pro_etl_spark.ops.text import TOKENS, distinct_bigrams

    df = spark.createDataFrame(
        [("", ), ("one", ), ("  spaced  ", ), ("two tokens", ),
         ("a b a b", )],
        "text string",
    )
    rows = {r.text: r.bgs for r in df.select(
        "text", distinct_bigrams(TOKENS()).alias("bgs")
    ).collect()}
    assert rows[""] == []
    assert rows["one"] == []
    assert rows["  spaced  "] == []
    assert rows["two tokens"] == ["two tokens"]
    assert sorted(rows["a b a b"]) == ["a b", "b a"]


def test_mm_phash_null_text_propagates_null(spark, tmp_path):
    """NULL propagation through the Arrow pHash packer (ADVICE r9): a
    NULL documents.text row reaches the pandas UDF as all-NaN grid
    cells; the packer must emit NULL phash / n_bits_set (what the
    oracle and the old HOF plan produce), never NaN-cast int64
    garbage. The shipped testdata has no null text, so this fixture
    plants one."""
    import pyspark.sql.functions as F

    d = str(tmp_path)
    docs = load(spark, SF, "documents").orderBy("doc_id").limit(4)
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    nulled = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == ids[0], F.lit(None).cast("string"))
        .otherwise(F.col("text")),
    )
    nulled.coalesce(1).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    qs = pro_etl_spark.get_queries()
    rows = {
        r.doc_id: (r.phash, r.n_bits_set)
        for r in qs["mm_phash"](spark, d).collect()
    }
    assert rows[ids[0]] == (None, None)
    for k, (ph, nb) in rows.items():
        if k != ids[0]:
            assert ph is not None and nb is not None
