"""End-to-end migration job: the reference's whole program
(``python migrate.py``, README.md:48-51 of the reference) as a
Spark-native CLI.

    python -m pro_etl_spark.migrate_cli \
        --xml input/export.xml --csv input/migration_list.csv \
        --output-dir output/

Pipeline (mirrors SURVEY §3.1's trace, set-based):

1. mapping CSV with an **explicit schema** (no inference — fixes
   migrate.py:79), first-row-wins dedup on the join key (J4)
2. customer XML through ``xml_io.read_records``, the one record parse
   the manifest reader shares: split at record boundaries (the text
   source cut at ``</customer>``, one task per split) and parsed per
   record with ``from_xml`` and an **explicit schema** (arrays stay
   arrays even for single elements), normalized to the canonical
   nested shape of SURVEY §1.5 — parsed **once** per run and
   persisted, so steps 3 and 4 read the same scan
3. validation (delivery-day regex + '-3D' default, null checks) and
   the OK / Not OK / Not-found reconciliation log (migrate.py:103-270)
4. ``apply_migration`` — the full nested-document rewrite
   (migrate.py:116-257) on the semi-join side
5. sinks: one enveloped delta XML written as the reference's flat
   ``<output-dir>/<YYYY-MM-DD>/output-<uuid>.xml`` (migrate.py:286-293)
   + a log CSV in a sibling ``output-<uuid>-log/`` directory, and the
   found/total summary on stdout (migrate.py:272), observed on the log
   write rather than counted by jobs of its own

Scale: the mapping broadcasts; the corpus never shuffles; the record
normalization, the document rewrite and the XML record serialization
are narrow per-row expressions, written as SQL text so that building
each projection is one JVM call (``pro_etl_spark.sqltext``).
The export is read in record-boundary splits, so the parse, the
rewrite and the serialization run on as many tasks as Spark's file
sizing gives the export (Spark's native XML source reads one file in
one task). Each split's text is cut at the ``</customer>`` end tags,
which is exact for well-formed XML outside comments, CDATA sections,
DOCTYPEs and processing instructions; the read fails, naming the file
and the construct, on any ``<!``, on a ``<?`` after the XML
declaration, on a self-closing ``<customer/>``, on an end tag written
``</customer >`` and on two ``<customer`` start tags before one end
tag. The export is parsed once per run: the persisted scan trades
memory for a second parse, and at corpus scale it spills to local disk
(MEMORY_AND_DISK) rather than failing.
"""

from __future__ import annotations

import argparse
import datetime
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from pro_etl_spark import xml_io
from pro_etl_spark.ops.migration import (
    CSV_SCHEMA,
    REASON_INVALID,  # noqa: F401 (part of this module's log vocabulary)
    REASON_NOT_FOUND,
    apply_migration,
    first_wins,
    reconcile,
)
from pro_etl_spark.sqltext import quote

def run_ts_text() -> str:
    """Run timestamp written into profile/creation-date — the
    reference's ``%Y-%m-%dT00:00:00+00:00`` of "today" (migrate.py:97),
    computed per run() (not at import) so long-lived drivers crossing
    midnight stamp the actual run date."""
    return datetime.date.today().isoformat() + "T00:00:00+00:00"

def _attr_st() -> ArrayType:
    return ArrayType(
        StructType(
            [
                StructField("_VALUE", StringType(), True),
                StructField("_dt:dt", StringType(), True),
                StructField("_name", StringType(), True),
            ]
        )
    )


#: explicit read schema for the customer XML (field names follow the
#: Spark XML parser's attribute conventions: attributes are
#: ``_``-prefixed, element text is ``_VALUE``); declaring it keeps
#: single-element collections as arrays
XML_SCHEMA = StructType(
    [
        StructField("_id", StringType(), True),
        StructField(
            "custom-attributes",
            StructType([StructField("custom-attribute", _attr_st(), True)]),
            True,
        ),
        StructField(
            "user",
            ArrayType(
                StructType(
                    [
                        StructField("_business-partner-no", StringType(), True),
                        StructField("default-customer", StringType(), True),
                        StructField(
                            "user-groups",
                            StructType(
                                [
                                    StructField(
                                        "user-group",
                                        ArrayType(
                                            StructType(
                                                [StructField("_id", StringType(), True)]
                                            )
                                        ),
                                        True,
                                    )
                                ]
                            ),
                            True,
                        ),
                        StructField(
                            "custom-attributes",
                            StructType(
                                [StructField("custom-attribute", _attr_st(), True)]
                            ),
                            True,
                        ),
                        StructField(
                            "credentials",
                            StructType(
                                [
                                    StructField("login", StringType(), True),
                                    StructField("last-logged-in", StringType(), True),
                                ]
                            ),
                            True,
                        ),
                        StructField(
                            "profile",
                            StructType(
                                [StructField("creation-date", StringType(), True)]
                            ),
                            True,
                        ),
                    ]
                )
            ),
            True,
        ),
    ]
)


def _canon_attrs(c: str) -> str:
    """SQL text: the ``custom-attribute`` array under ``c`` as
    array<struct<name,dt,value>>, empty when absent."""
    return (
        f"transform(coalesce({c}.`custom-attribute`, array()), _a -> struct(_a._name AS name, "
        f"coalesce(_a.`_dt:dt`, {quote('string')}) AS dt, "
        f"coalesce(_a._VALUE, {quote('')}) AS value))"
    )


def read_customers_xml(spark: SparkSession, path: str) -> DataFrame:
    """The export's ``<customer>`` records, split at record boundaries
    (``xml_io.record_fragments``, one task per text split) and parsed
    with ``from_xml`` under the explicit schema, normalized by
    ``canonical_customers``. The rows and their order are those of the
    native XML source read with ``rowTag="customer"`` and the same
    schema, which reads the whole file in one task; an export the split
    cannot read exactly fails the read instead."""
    return canonical_customers(xml_io.read_records(spark, path, XML_SCHEMA))


def canonical_customers(raw: DataFrame) -> DataFrame:
    """Rows of ``XML_SCHEMA`` normalized to the canonical nested shape
    (SURVEY §1.5) that ``apply_migration`` and ``xml_io.customer_xml``
    operate on."""
    empty = quote("")
    user = (
        f"struct(coalesce(_u.`_business-partner-no`, {empty}) AS business_partner_no, "
        f"coalesce(_u.`default-customer`, {empty}) AS default_customer, "
        f"struct(coalesce(_u.profile.`creation-date`, {empty}) AS creation_date) AS profile, "
        "struct(_u.credentials.login AS login, "
        "_u.credentials.`last-logged-in` AS last_logged_in) AS credentials, "
        "transform(coalesce(_u.`user-groups`.`user-group`, array()), _g -> _g._id) "
        "AS user_groups, "
        f"{_canon_attrs('_u.`custom-attributes`')} AS custom_attributes)"
    )
    return raw.selectExpr(
        "_id AS id",
        f"{_canon_attrs('`custom-attributes`')} AS custom_attributes",
        f"transform(coalesce(user, array()), _u -> {user}) AS users",
    )


def read_mapping_csv(spark: SparkSession, path: str) -> DataFrame:
    """Schema'd CSV read + first-row-wins dedup (J4: the reference's
    emergent first-match semantics made explicit, SURVEY §2.3).

    Normalization happens HERE, once: ids and delivery_day are trimmed
    at ingestion (the reference strips ids before matching,
    migrate.py:110,120) so the log, the transform join, and strict-mode
    filtering all see identical keys. The dedup is the engine's one
    first-wins window (``ops.migration.first_wins``), ordered by
    (file path, in-partition row id): exact row order within each file
    for unsplit small files — the mapping contract — and deterministic
    file order if a glob ever matches several. Quoting is RFC 4180, as
    the reference's pandas reader has it: a doubled quote inside a
    quoted field is one literal quote (Spark's default escape is a
    backslash, which kept both quotes)."""
    m = (
        spark.read.schema(CSV_SCHEMA)
        .option("header", True)
        .option("escape", '"')
        .csv(path)
    )
    m = m.withColumn("_file", F.col("_metadata.file_path")).withColumn(
        "ord", F.monotonically_increasing_id()
    )
    m = m.withColumn("current_customer_id", F.trim("current_customer_id")).withColumn(
        "delivery_day", F.trim("delivery_day")
    )
    return first_wins(m, "_file, ord").drop("_file")


def run(
    spark: SparkSession,
    xml_path: str,
    csv_path: str,
    output_dir: str,
    strict: bool = False,
    scale: bool = False,
) -> dict[str, str]:
    """Execute the full migration; returns the output file paths.

    ``strict=False`` (default) replicates the reference's advisory
    policy (SURVEY §2.11.4): rows failing validation still flow to the
    output document, only the log flags them. ``strict=True`` excludes
    every "Not OK" row from the output document — the log is unchanged
    either way, so the reconciliation trail is complete in both modes.

    ``scale=True`` switches the delta-XML sink from the reference's
    flat single file (driver stream-concat — correct for its contract,
    a single-writer ceiling for a corpus-sized export) to the
    manifest document: records stay in distributed part files, the
    envelope is two O(1)-byte parts, and a manifest lists the parts in
    document order. Consumers either read the file set directly
    (``xml_io.read_manifest_document`` with ``XML_SCHEMA``) or hand the manifest to the
    storage layer's concat primitive (``xml_io.compose_manifest`` —
    hdfs concat / S3 multipart compose) for a physical single file; no
    record byte ever moves through the driver.
    """
    run_ts = run_ts_text()
    run_date = run_ts[:10]  # same clock read as the document timestamps
    run_id = uuid.uuid4().hex[:12]
    out_dir = f"{output_dir}/{run_date}"
    # envelope fidelity: carry the input document's root attributes
    # (xsi:schemaLocation, version attrs — migrate.py:274-284) forward
    root_attrs = xml_io.read_root_attrs(xml_path)[1]

    # reference file layout: output/<YYYY-MM-DD>/output-<uuid>.xml as a
    # FLAT file (migrate.py:286-293) — the XML sink removes its Spark
    # staging directory once the file is written; the row-wise log (no
    # reference counterpart) lands in a sibling dir
    import os

    os.makedirs(out_dir, exist_ok=True)
    log_out = f"{out_dir}/output-{run_id}-log"

    mapping = read_mapping_csv(spark, csv_path)
    # one parse of the export serves both consumers: the log's
    # semi-join and the document rewrite read this persisted scan
    customers = read_customers_xml(spark, xml_path).persist()
    try:
        log = reconcile(F.broadcast(mapping), customers)
        transform_input = mapping
        if strict:
            ok_keys = log.where(F.col("status") == "OK").select(
                F.col("current_id").alias("_ok")
            )
            transform_input = mapping.join(
                F.broadcast(ok_keys),
                mapping["current_customer_id"] == ok_keys["_ok"],
                "left_semi",
            )
        migrated = apply_migration(customers, transform_input, run_ts=run_ts)

        if scale:
            xml_out = xml_io.write_xml_document_manifest(
                xml_io.customer_xml(migrated), f"{out_dir}/output-{run_id}-xml",
                root_tag="enfinity", root_attrs=root_attrs, nsmap=xml_io.ENFINITY_NSMAP,
            )
        else:
            xml_out = f"{out_dir}/output-{run_id}.xml"
            xml_io.write_xml_document(
                xml_io.customer_xml(migrated), xml_out,
                root_tag="enfinity", root_attrs=root_attrs, nsmap=xml_io.ENFINITY_NSMAP,
            )
        # found/total ride on the log's one write instead of two more
        # jobs. They are exact under task retry: CollectMetrics sits in
        # the write's result stage, and Spark applies a result task's
        # accumulator updates once per partition, whichever attempt wins.
        summary = Observation()
        (
            log.coalesce(1)
            .observe(
                summary,
                F.count(F.lit(1)).alias("total"),
                F.count_if(F.col("reason") != REASON_NOT_FOUND).alias("found"),
            )
            .write.mode("overwrite")
            .option("header", True)
            .csv(log_out)
        )
        found, total = summary.get["found"], summary.get["total"]
    finally:
        # blocking: the cached blocks are freed before run returns, so
        # no removal outlives the run and overlaps the caller's next job
        customers.unpersist(blocking=True)
    print(f"{found}/{total} customers found in source XML")
    kind = "delta XML manifest" if scale else "delta XML"
    print(f"{kind}: {xml_out}")
    print(f"log CSV:   {log_out}")
    return {
        "xml": xml_out,
        "log": log_out,
        "found": str(found),
        "total": str(total),
        "run_ts": run_ts,
    }


def latest_file(directory: str, extension: str) -> str | None:
    """Newest file with the extension in ``directory``, by mtime — the
    reference's default input-discovery mode (migrate.py:39-42 lists by
    extension sorted by mtime desc; its interactive pick defaults to
    the newest when not answered). Driver-side like the reference:
    file discovery is a metadata operation, not a data scan (the
    Spark-side ``_metadata``-based variant is ``ops.sources.
    scan_latest_files``)."""
    import os

    try:
        paths = [
            os.path.join(directory, f)
            for f in os.listdir(directory)
            if f.endswith(extension)
        ]
    except FileNotFoundError:
        return None
    return max(paths, key=os.path.getmtime) if paths else None


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument(
        "--xml",
        help="customer export XML (default: newest *.xml in --input-dir)",
    )
    p.add_argument(
        "--csv",
        help="migration list CSV (default: newest *.csv in --input-dir)",
    )
    p.add_argument(
        "--input-dir",
        default="input",
        help="directory searched for the newest .xml/.csv when --xml/--csv "
        "are omitted (reference migrate.py:56-69 default mode)",
    )
    p.add_argument("--output-dir", required=True)
    p.add_argument("--master", default="local[*]")
    p.add_argument(
        "--strict",
        action="store_true",
        help="exclude validation-failed rows from the output document "
        "(default: advisory — they flow through and the log flags them)",
    )
    p.add_argument(
        "--scale",
        action="store_true",
        help="write the delta XML as a manifest document (distributed "
        "part files + O(1) envelope + ordered manifest) instead of a "
        "driver-streamed single file; stitch with the storage layer's "
        "concat primitive via xml_io.compose_manifest, or read the "
        "file set directly with xml_io.read_manifest_document and XML_SCHEMA",
    )
    a = p.parse_args(argv)
    xml_path = a.xml or latest_file(a.input_dir, ".xml")
    csv_path = a.csv or latest_file(a.input_dir, ".csv")
    if not xml_path or not csv_path:
        p.error(
            f"no --xml/--csv given and no .xml/.csv files found in "
            f"'{a.input_dir}' (pass --input-dir or explicit paths)"
        )
    if not a.xml or not a.csv:
        print(f"discovered inputs: xml={xml_path} csv={csv_path}")
    spark = (
        SparkSession.builder.master(a.master)
        .appName("pro_etl_spark-migrate")
        .getOrCreate()
    )
    try:
        run(
            spark, xml_path, csv_path, a.output_dir,
            strict=a.strict, scale=a.scale,
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
