"""The flagship migration-reconciliation pipeline (SURVEY §3, §7.4).

This is the reference's essential computation re-expressed set-based:
a mapping table (the CSV of migrate.py:78-85) is deduplicated
first-row-wins (J4), validated (null default + regex domain,
migrate.py:136-150), joined against the customer corpus (the XML of
migrate.py:88-115) and split semi/anti into OK / Not OK / Not-found log
rows (migrate.py:259-266) — one declarative plan instead of an O(M·N)
per-row XPath loop.

The mapping table is derived *deterministically* from the flat
``customer`` table (per FIXTURES.md A1's edge-case inventory: unknown
keys → anti path, duplicate keys → first-wins, NULL/invalid
delivery_day → default/advisory-invalid), so the DuckDB oracle can
reconstruct it exactly.

Scale: mapping ≪ corpus, so the join broadcasts the mapping side —
the 100 TB customer corpus never shuffles; validation and status
derivation are per-row narrow expressions.

``reconcile`` and ``apply_migration`` write those expressions as SQL
text built from the schema (``pro_etl_spark.sqltext`` quotes every
constant and name): each projection is one JVM call, where the Column
DSL paid one py4j round trip per function, alias, field access and
lambda variable (about 1,700 for ``apply_migration``, 540 for
``reconcile``), and Catalyst parses both spellings to the same tree.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, StringType, StructField, StructType

from pro_etl_spark.io import load
from pro_etl_spark.registry import register
from pro_etl_spark.sqltext import ident, quote

DELIVERY_RE = r"^-[1-9]D$"
REASON_OK = "Found in source XML file"
REASON_INVALID = "Invalid value! Please check CSV input file (delivery_day)"
REASON_NOT_FOUND = "Not found in source XML"
REASON_MISSING = "Missing values! Please check CSV input file"


#: CSV contract of the reference (README.md:16-24 of the reference)
CSV_SCHEMA = StructType(
    [
        StructField(name, StringType(), True)
        for name in (
            "current_customer_id",
            "new_customer_id",
            "new_source_id",
            "new_store_id",
            "new_store_name",
            "mandatory_reference",
            "delivery_day",
        )
    ]
)

#: the mapping stand-in's branches as (step, key_offset, ord): every
#: step-th custkey, shifted by key_offset, at first-wins rank ord
MAPPING_SPEC = ((3, 0, 0), (15, 1000000, 0), (9, 0, 1))

#: one mapping row over ``customer``, for ``mapping_df`` (Spark) and
#: ``MAPPING_SQL`` (DuckDB) alike; ``{key_offset}`` and ``{ord}`` stand
#: for the spec row's values
_MAPPING_COLUMNS = (
    "CAST(c_custkey + {key_offset} AS STRING) AS current_customer_id",
    "'X' || CAST(c_custkey + {key_offset} AS STRING) AS new_customer_id",
    "'SRC' || CAST(c_custkey % 3 AS STRING) AS new_source_id",
    "'ST' || CAST(c_custkey % 7 + {ord} AS STRING) AS new_store_id",
    "'Store ' || CAST(c_custkey % 7 + {ord} AS STRING) AS new_store_name",
    "CASE c_custkey % 4 WHEN 0 THEN 'true' WHEN 1 THEN 'false' "
    "WHEN 2 THEN NULL ELSE 'TRUE' END AS mandatory_reference",
    "CASE c_custkey % 7 WHEN 0 THEN NULL WHEN 1 THEN '-12D' "
    "WHEN 2 THEN '-9D' ELSE '-3D' END AS delivery_day",
    "{ord} AS ord",
)


def _mapping_columns(key_offset: int | str, ord_: int | str) -> list[str]:
    return [c.format(key_offset=key_offset, ord=ord_) for c in _MAPPING_COLUMNS]


def mapping_df(spark: SparkSession, d: str) -> DataFrame:
    """Deterministic migration-list stand-in (FIXTURES.md A1), one
    branch per ``MAPPING_SPEC`` row:

    - known keys:    every 3rd custkey
    - unknown keys:  every 15th custkey shifted by +1_000_000 (anti path)
    - duplicate keys: every 9th custkey repeated with ord=1 (first-wins)
    - delivery_day:  NULL (→ default), '-12D' (invalid), '-9D', '-3D'
    - mandatory_reference: 'true' / 'false' / NULL / 'TRUE' (lower-cased later)
    """
    c = load(spark, d, "customer")
    branches = [
        c.where(f"c_custkey % {step} = 0").selectExpr(
            *_mapping_columns(key_offset, ord_)
        )
        for step, key_offset, ord_ in MAPPING_SPEC
    ]
    return reduce(DataFrame.unionByName, branches)


#: the DuckDB twin of ``mapping_df``: the spec joined as VALUES around
#: the same row
_SELECT_SEP = ",\n         "
MAPPING_SQL = f"""
WITH raw_mapping AS (
  SELECT {_SELECT_SEP.join(_mapping_columns("s.key_offset", "s.ord"))}
  FROM customer
  JOIN (VALUES {", ".join(str(r) for r in MAPPING_SPEC)}) AS s(step, key_offset, ord)
    ON c_custkey % s.step = 0
)
"""

#: first-wins order of the mapping stand-in (J4)
MAPPING_ORDER = "ord, new_store_id"

MAPPING_DEDUP_SQL = f"""
, mapping AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY current_customer_id
                                 ORDER BY {MAPPING_ORDER}) AS rn
    FROM raw_mapping
  ) WHERE rn = 1
)
"""


def first_wins(m: DataFrame, order: str = MAPPING_ORDER) -> DataFrame:
    """One mapping row per ``current_customer_id``: the first by the SQL
    ORDER BY list ``order`` (J4). Drops the rank column ``ord``."""
    rank = f"row_number() OVER (PARTITION BY current_customer_id ORDER BY {order})"
    return m.withColumn("rn", F.expr(rank)).where("rn = 1").drop("rn", "ord")


def reconcile(mapping: DataFrame, customers: DataFrame) -> DataFrame:
    """The OK / Not OK / Not-found log (migrate.py:103-104, 259-266) —
    semi side validated, anti side flagged, one broadcast plan."""
    # the CLI's inputs arrive normalized (trimmed) from
    # migrate_cli.read_mapping_csv — one normalization point keeps log,
    # transform, and strict filter in agreement on the same keys/values
    # 100 TB posture: Spark can't broadcast the preserved side of an
    # outer join, so semi-filter the corpus by the broadcast key set
    # first (narrow scan of the big side), then left-join the mapping
    # against the now-small match set.
    keys = mapping.selectExpr("current_customer_id AS _k")
    matched = customers.join(
        F.broadcast(keys), F.expr("id = _k"), "left_semi"
    ).selectExpr("id AS _cid")
    j = mapping.join(F.broadcast(matched), F.expr("current_customer_id = _cid"), "left")
    missing = " OR ".join(
        f"{c} IS NULL"
        for c in ("current_customer_id", "new_customer_id", "new_source_id",
                  "new_store_id", "new_store_name")
    )
    invalid = (
        f"NOT coalesce(nullif(delivery_day, {quote('')}), {quote('-3D')}) "
        f"RLIKE {quote(DELIVERY_RE)}"
    )
    rules = [
        ("_cid IS NULL", REASON_NOT_FOUND),
        (missing, REASON_MISSING),
        (invalid, REASON_INVALID),
    ]
    status = " ".join(f"WHEN {c} THEN {quote('Not OK')}" for c, _ in rules)
    reason = " ".join(f"WHEN {c} THEN {quote(r)}" for c, r in rules)
    return j.selectExpr(
        "current_customer_id AS current_id",
        "new_customer_id AS new_id",
        f"CASE {status} ELSE {quote('OK')} END AS status",
        f"CASE {reason} ELSE {quote(REASON_OK)} END AS reason",
    )


def reconciliation(spark: SparkSession, d: str) -> DataFrame:
    """mapping → dedup first-wins → ``reconcile`` against the customer
    ids (the whole of migrate.py:108-270 as one plan)."""
    corpus = load(spark, d, "customer").selectExpr("CAST(c_custkey AS STRING) AS id")
    return reconcile(first_wins(mapping_df(spark, d)), corpus)


#: the log's status/reason rules over ``mapping m LEFT JOIN customer c``
#: — the oracle twin of ``reconcile``
_MISSING_SQL = """(m.current_customer_id IS NULL OR m.new_customer_id IS NULL
          OR m.new_source_id IS NULL OR m.new_store_id IS NULL
          OR m.new_store_name IS NULL)"""
_LOG_SQL = f"""
    CASE WHEN c.c_custkey IS NULL THEN 'Not OK'
         WHEN {_MISSING_SQL} THEN 'Not OK'
         WHEN NOT regexp_matches(COALESCE(NULLIF(m.delivery_day, ''), '-3D'),
                                 '^-[1-9]D$') THEN 'Not OK'
         ELSE 'OK' END AS status,
    CASE WHEN c.c_custkey IS NULL THEN '{REASON_NOT_FOUND}'
         WHEN {_MISSING_SQL} THEN '{REASON_MISSING}'
         WHEN NOT regexp_matches(COALESCE(NULLIF(m.delivery_day, ''), '-3D'),
                                 '^-[1-9]D$') THEN '{REASON_INVALID}'
         ELSE '{REASON_OK}' END AS reason
"""


@register(
    "migration_reconciliation",
    oracle=MAPPING_SQL
    + MAPPING_DEDUP_SQL
    + f"""
    SELECT m.current_customer_id AS current_id,
           m.new_customer_id AS new_id,
           {_LOG_SQL}
    FROM mapping m
    LEFT JOIN customer c ON m.current_customer_id = CAST(c.c_custkey AS VARCHAR)
    """,
)
def migration_reconciliation(spark: SparkSession, d: str) -> DataFrame:
    """Flagship: the reference's reconciliation log
    (current_id, new_id, status ∈ {OK, Not OK}, reason) —
    migrate.py:103-104/259-270 semantics, advisory-validation policy
    (§2.11.4: invalid rows still flow, only the log flags them)."""
    return reconciliation(spark, d)


#: run timestamp written into profile/creation-date (migrate.py:97 uses
#: now(); pinned here so the oracle is deterministic)
RUN_TS = "2026-08-13T00:00:00+00:00"


#: struct fields of the canonical user shape that serialize as XML
#: *attributes*, not element text — the reference's id-rewrite loop
#: (``for element in user.iter(): if element.text == current_id``,
#: migrate.py:223-225) touches text nodes only, so these are exempt.
#: (``business_partner_no`` is an attribute too, but the reference
#: rewrites it under the same equals-old-id condition, migrate.py:221-222,
#: so it is NOT exempt.)
_XML_ATTR_FIELDS = frozenset({"name", "dt"})
_XML_ATTR_ARRAYS = frozenset({"user_groups"})


def _rewrite_id_nodes(expr: str, dtype: DataType, subst, edits, path=()) -> str:
    """Schema-driven generalized subtree id-rewrite (migrate.py:221-225),
    as SQL text over ``expr``: apply ``subst`` to EVERY string field in
    the user subtree except the fields that serialize as XML attributes
    the reference never id-rewrites (user-group ids, custom-attribute
    name/dt:dt). Works on any user schema — the ops corpus
    (credentials.last_logged_in/last_ip) and the CLI XML shape
    (credentials.login) alike — so a login equal to the old customer id
    is rewritten exactly as the reference does. ``edits`` maps a struct
    field's path to a function of its rewritten text that returns the
    field's final text, or None to drop the field; structs are rebuilt
    field by field."""
    if isinstance(dtype, StringType):
        leaf = path[-1] if path else ""
        parent = path[-2] if len(path) > 1 else ""
        if leaf in _XML_ATTR_FIELDS or parent in _XML_ATTR_ARRAYS:
            return expr
        return subst(expr)
    if isinstance(dtype, StructType):
        fields = []
        for f in dtype.fields:
            p = path + (f.name,)
            text = _rewrite_id_nodes(f"{expr}.{ident(f.name)}", f.dataType, subst, edits, p)
            if p in edits:
                text = edits[p](text)
            if text is not None:
                fields.append(f"{text} AS {ident(f.name)}")
        return f"struct({', '.join(fields)})"
    if isinstance(dtype, ArrayType):
        var = f"_e{len(path)}"
        body = _rewrite_id_nodes(var, dtype.elementType, subst, edits, path + ("[]",))
        return expr if body == var else f"transform({expr}, {var} -> {body})"
    return expr


def apply_migration(
    nested: DataFrame, mapping: DataFrame, run_ts: str = RUN_TS
) -> DataFrame:
    """The reference's whole per-customer transform (migrate.py:116-257)
    as one projection over the nested docs, written as SQL text:

    - id := new_customer_id                        (migrate.py:153)
    - attr rewrites by name: MEK_Store_Id /
      MEK_WarehouseID → new_store_id, MEK_Store_Name → new_store_name,
      MEK_DataAreaID / MEK_SourceID → new_source_id (migrate.py:161-173)
    - upsert MEK_DefaultDeliveryday (dt:dt=string, default '-3D')
                                                   (migrate.py:143-150, 181-200)
    - upsert MEK_CustomerOrderNumberMandatory (dt:dt=boolean,
      lower-cased) only when mapped value is non-null
                                                   (migrate.py:203-216; isNotNull
                                                    per SURVEY §2.11.2, not the
                                                    reference's NaN bug)
    - per user: business-partner-no := new id when it equals the old id
                                                   (migrate.py:221-222)
      · any descendant text field equal to the old id := new id —
        default_customer, credentials.login, custom-attribute values
        (schema-driven, see ``_rewrite_id_nodes``)
                                                   (migrate.py:223-225)
      · add CG_Mekonomen to user-groups if absent  (migrate.py:227-234)
      · delete LastOrderDate attr                  (migrate.py:236-240)
      · delete credentials/last-logged-in          (migrate.py:242-247)
      · profile/creation-date := run date          (migrate.py:249-254)

    Advisory validation (§2.11.4): invalid delivery_day rows still flow
    through this transform — only the reconciliation log flags them.

    Join strategy: mapping ≪ corpus ⇒ broadcast inner join; the corpus
    side stays narrow (no shuffle), the transform is per-row expressions.
    """
    # the export's id is renamed before the join: the projection aliases
    # its output "id", and a bare "id" inside a lambda would resolve to
    # that alias (verified on Spark 4.1)
    j = nested.selectExpr("id AS _old_id", "custom_attributes", "users").join(
        F.broadcast(mapping), F.expr("_old_id = current_customer_id"), "inner"
    )
    from pro_etl_spark.ops.nested import attr_upsert

    delivery = f"coalesce(nullif(delivery_day, {quote('')}), {quote('-3D')})"
    mandatory = "lower(mandatory_reference)"

    def names(*ns: str) -> str:
        return ", ".join(quote(n) for n in ns)

    value = (
        f"CASE WHEN _a.name IN ({names('MEK_Store_Id', 'MEK_WarehouseID')}) THEN new_store_id "
        f"WHEN _a.name = {quote('MEK_Store_Name')} THEN new_store_name "
        f"WHEN _a.name IN ({names('MEK_DataAreaID', 'MEK_SourceID')}) THEN new_source_id "
        "ELSE _a.value END"
    )
    attrs = (
        "transform(custom_attributes, _a -> "
        f"struct(_a.name AS name, _a.dt AS dt, {value} AS value))"
    )
    attrs = attr_upsert(attrs, "MEK_DefaultDeliveryday", "string", delivery, delivery)
    upserted = attr_upsert(
        attrs, "MEK_CustomerOrderNumberMandatory", "boolean", mandatory, mandatory
    )
    attrs = f"CASE WHEN {mandatory} IS NOT NULL THEN {upserted} ELSE {attrs} END"

    mek = quote("CG_Mekonomen")
    edits = {
        ("user_groups",): lambda g: (
            f"CASE WHEN array_contains({g}, {mek}) THEN {g} ELSE concat({g}, array({mek})) END"
        ),
        ("custom_attributes",): lambda a: (
            f"filter({a}, _a -> _a.name != {quote('LastOrderDate')})"
        ),
        ("credentials", "last_logged_in"): lambda _: None,
        ("profile", "creation_date"): lambda _: quote(run_ts),
    }

    def subst(c: str) -> str:
        return f"CASE WHEN {c} = _old_id THEN new_customer_id ELSE {c} END"

    # generalized subtree id-rewrite (migrate.py:221-225): EVERY
    # text-node field equal to the old id becomes the new id —
    # default_customer, credentials.login, custom-attribute values —
    # and business-partner-no under the same condition
    # (migrate.py:221-222: set only when it equals the old id)
    user_type = nested.schema["users"].dataType.elementType
    user = _rewrite_id_nodes("_u", user_type, subst, edits)
    return j.selectExpr(
        "new_customer_id AS id",
        f"{attrs} AS custom_attributes",
        f"transform(users, _u -> {user}) AS users",
    )


@register(
    "migration_transform",
    oracle=MAPPING_SQL
    + MAPPING_DEDUP_SQL
    + f"""
    , matched AS (
      SELECT c.c_custkey AS key, m.*
      FROM mapping m
      JOIN customer c ON m.current_customer_id = CAST(c.c_custkey AS VARCHAR)
    ), users AS (
      SELECT key, 0 AS user_no FROM matched
      UNION ALL
      SELECT key, 1 FROM matched WHERE key % 10 = 0
    )
    SELECT m.new_customer_id AS id,
           2 + 1 + CASE WHEN lower(m.mandatory_reference) IS NOT NULL
                        THEN 1 ELSE 0 END AS n_attrs,
           COALESCE(NULLIF(m.delivery_day, ''), '-3D') AS delivery_value,
           lower(m.mandatory_reference) AS mandatory_value,
           m.new_store_id AS store_id_value,
           -- bp-no is rewritten only when it equals the old id
           -- (migrate.py:221-222); the synthetic corpus prefixes it
           -- 'BP', so it never matches and survives unchanged
           'BP' || CAST(u.key AS VARCHAR) || '-' || CAST(u.user_no AS VARCHAR)
             AS business_partner_no,
           m.new_customer_id AS default_customer,
           TRUE AS in_mek_group,
           FALSE AS has_last_order_date,
           '{RUN_TS}' AS creation_date
    FROM matched m JOIN users u ON m.key = u.key
    """,
)
def migration_transform(spark: SparkSession, d: str) -> DataFrame:
    """The reference's *output document* (the delta XML content,
    migrate.py:256-257), flattened one row per (customer, user) so the
    oracle can verify every transformed field: rewritten id/store attrs,
    delivery-day upsert with default, boolean-typed mandatory flag,
    FK + subtree id rewrite, group insert, attr/credential deletion,
    and creation-date overwrite.

    Note the nested build gives every matched customer (key%3==0) a
    pre-existing MEK_DefaultDeliveryday ('-5D'), so n_attrs counts the
    *update* branch of that upsert; the insert branch is covered by
    ``arr_upsert``.
    """
    from pro_etl_spark.ops.nested import nested_customers

    nested = nested_customers(spark, d).drop("key")
    out = apply_migration(nested, first_wins(mapping_df(spark, d)))
    attr = lambda name: F.get(  # noqa: E731
        F.filter(F.col("custom_attributes"), lambda a: a["name"] == name), 0
    )["value"]
    return out.select(
        "id",
        F.size("custom_attributes").alias("n_attrs"),
        attr("MEK_DefaultDeliveryday").alias("delivery_value"),
        attr("MEK_CustomerOrderNumberMandatory").alias("mandatory_value"),
        attr("MEK_Store_Id").alias("store_id_value"),
        F.explode("users").alias("u"),
    ).select(
        "id",
        "n_attrs",
        "delivery_value",
        "mandatory_value",
        "store_id_value",
        F.col("u.business_partner_no").alias("business_partner_no"),
        F.col("u.default_customer").alias("default_customer"),
        F.array_contains("u.user_groups", "CG_Mekonomen").alias("in_mek_group"),
        F.exists(
            "u.custom_attributes", lambda a: a["name"] == "LastOrderDate"
        ).alias("has_last_order_date"),
        F.col("u.profile.creation_date").alias("creation_date"),
    )


@register(
    "migration_summary",
    oracle=MAPPING_SQL
    + MAPPING_DEDUP_SQL
    + f"""
    , log AS (
      SELECT {_LOG_SQL}
      FROM mapping m
      LEFT JOIN customer c ON m.current_customer_id = CAST(c.c_custkey AS VARCHAR)
    )
    SELECT status, reason, COUNT(*) AS n FROM log GROUP BY status, reason
    """,
)
def migration_summary(spark: SparkSession, d: str) -> DataFrame:
    """A2/A3: the found/total reconciliation rollup the reference
    prints (migrate.py:272) — a groupBy over the same single plan
    (§3.3: no second pass over the data)."""
    return reconciliation(spark, d).groupBy("status", "reason").agg(
        F.count("*").alias("n")
    )
