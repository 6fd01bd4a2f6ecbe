"""Readers for the driver-generated parquet tables (TESTDATA.md).

All reads are plain ``spark.read.parquet`` so Catalyst gets full
pushdown/pruning; never ``collect`` here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: every per-dataset artifact memoized by ``dataset_memo``, keyed
#: ``(applicationId, dataset dir, tag)``
_MEMOIZED: dict = {}


def dataset_memo(spark: SparkSession, d, tag, build):
    """Return the artifact memoized under ``(application, d, tag)``,
    calling ``build()`` to make it on the first request only.

    This is the engine's one reuse mechanism for per-dataset state
    within a session: trained model state (corpus counts, k-means
    centroids, PQ codebooks, PCA axes, BPE merges, substring probes),
    analyzed DataFrames shared by several queries, parsed literal-model
    Columns, streaming fixture journals and resolved parquet schemas.
    ``tag`` names the artifact and may be a tuple such as
    ``("pq_arr", s)``; ``d`` is the dataset dir the artifact derives
    from, or None for one that derives from no dataset. ``build`` may
    itself call ``dataset_memo`` for the artifacts it depends on.

    Staleness contract: a memoized artifact never re-checks the
    filesystem — a count() or footer read per plan construction is
    exactly the eager-action class scripts/lazy_audit.py bans. If a
    dataset dir is REWRITTEN within one session, call
    ``invalidate_dataset(spark, d)``; until then every artifact of
    ``d`` stays as it was first built.
    """
    key = (spark.sparkContext.applicationId, d, tag)
    if key not in _MEMOIZED:
        _MEMOIZED[key] = build()
    return _MEMOIZED[key]


def invalidate_dataset(spark: SparkSession, sf_dir: str) -> None:
    """Evict every memoized artifact derived from ``sf_dir`` — call
    this if a dataset directory is REWRITTEN within one session.

    Every ``dataset_memo`` artifact is kept until this is called, so
    overwriting a dataset dir mid-session would otherwise leave the
    Spark side training against the OLD corpus while the SQL oracles
    recompute from the new one. This is the documented invalidation
    point: drop the dataset's memo entries, clear the Spark cache,
    refresh the file listing so subsequent scans re-list, and
    re-register this dataset's temp views (whose pinned schemas would
    otherwise go stale) if ``register_views`` had been called for it.

    Scope note (deliberate coarseness): ``spark.catalog.clearCache()``
    evicts cached frames for EVERY dataset in the session, not just
    ``sf_dir`` — cached plans don't expose their source path, so
    per-dataset eviction isn't reliably possible, and a rewrite is a
    rare maintenance event where re-warming other datasets' caches is
    the cheap, safe cost. The memo eviction, by contrast, is precise:
    only artifacts of ``sf_dir`` drop.
    """
    for key in [k for k in _MEMOIZED if k[1] == sf_dir]:
        del _MEMOIZED[key]
    spark.catalog.clearCache()
    for name in TABLES:
        try:
            spark.catalog.refreshByPath(f"{sf_dir}/{name}.parquet")
        except Exception:  # noqa: BLE001 — path may not exist yet
            pass
    if _REGISTERED_VIEWS.get(spark) == sf_dir:
        register_views(spark, sf_dir)


#: last register_views dataset per SESSION — invalidate_dataset
#: re-registers so temp views never keep a stale pinned schema. Keyed
#: by the SparkSession itself (weakly, so dropped sessions don't pin
#: memory), NOT by applicationId: temp views are session-scoped, and
#: ``spark.newSession()`` shares one application — an app-keyed memo
#: tracked only the last (app, sf_dir) pair and could re-register
#: views into the wrong session or skip a stale one.
import weakref as _weakref  # noqa: E402 — scoped to the memo above

_REGISTERED_VIEWS: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so users can drive
    the engine through plain ``spark.sql`` — the SQL twin of the
    DataFrame surface (same Catalyst plans)."""
    _REGISTERED_VIEWS[spark] = sf_dir
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


# Raw parquet schemas are memoized per (application, dataset, table):
# with an explicit schema, ``spark.read`` skips footer inference,
# which otherwise fires one tiny Spark job per fresh read. That job
# is metadata-sized but it made every plan CONSTRUCTION an action
# (353 of 517 queries showed exactly this 1 job in the round-9
# lazy audit), and at 100 TB re-reading footers per constructed
# query is pure waste.
def _read_memoized(
    spark: SparkSession, sf_dir: str, name: str, read_inferring=None
) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    schema = dataset_memo(
        spark, sf_dir, ("schema", name),
        lambda: (read_inferring or spark.read.parquet)(path).schema,
    )
    return spark.read.schema(schema).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return _read_memoized(spark, sf_dir, name)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events reader that normalizes ``ts`` to a UTC TIMESTAMP no matter
    how the writer encoded it. Generated exports have shipped it as
    TIMESTAMP(NANOS) (which vanilla Spark can only read as BIGINT under
    the ``nanosAsLong`` legacy conf) and as plain TIMESTAMP(MICROS)
    without a UTC flag (which Spark reads as TIMESTAMP_NTZ) — branch on
    the dtype Spark actually resolved rather than assuming one encoding.
    The session timezone is pinned to UTC (registry.py) so the NTZ→LTZ
    cast is a re-tag, not a wall-clock shift, and matches DuckDB's naive
    µs TIMESTAMP read of the same file."""

    def read_inferring(path):
        try:
            return spark.read.parquet(path)
        except Exception as e:
            # Retry ONLY the TIMESTAMP(NANOS)-footer failure under the
            # legacy conf; anything else (missing path, corrupt footer,
            # permissions) re-raises unchanged — retrying those would
            # mask the first error as the retry's and leak the conf
            # session-wide.
            msg = str(e)
            if "nanosAsLong" not in msg and "TIMESTAMP(NANOS" not in msg:
                raise
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            return spark.read.parquet(path)

    # once the schema is memoized, the nanosAsLong conf (if it was
    # needed) is already set and the explicit schema skips re-inference
    return normalize_events_ts(
        _read_memoized(spark, sf_dir, "events", read_inferring)
    )


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Shared ts-normalization for the batch and streaming events
    readers: whatever Spark resolved (BIGINT nanos / TIMESTAMP_NTZ /
    TIMESTAMP), emit a UTC TIMESTAMP truncated to microseconds."""
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":  # nanos-as-long: truncate to µs like DuckDB
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type and ts_type != "timestamp":  # timestamp_ntz → UTC re-tag
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
