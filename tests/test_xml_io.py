"""XML envelope round-trip tests (SURVEY §2.1 S5, §7.3.1: namespaces on
attributes, preserved nsmap, root version attrs — "round-trip tests
mandatory")."""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pyspark.sql.functions as F
import pytest

from pro_etl_spark import xml_io
from pro_etl_spark.migrate_cli import XML_SCHEMA
from pro_etl_spark.ops.migration import RUN_TS, apply_migration, first_wins, mapping_df
from pro_etl_spark.ops.nested import nested_customers

SF = "/root/testdata/sf0.001"

ROOT_ATTRS = {
    "xsi:schemaLocation": (
        "http://www.intershop.com/xml/ns/intershop/customer/impex/7.3 customer.xsd"
    ),
    "major": "7",
    "minor": "3",
    "family": "enfinity",
}


@pytest.fixture(scope="module")
def migrated(spark):
    nested = nested_customers(spark, SF).drop("key")
    return apply_migration(nested, first_wins(mapping_df(spark, SF)))


@pytest.fixture(scope="module")
def doc(spark, migrated, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("xml") / "output.xml")
    xml_io.write_xml_document(
        xml_io.customer_xml(migrated),
        out,
        root_tag="enfinity",
        root_attrs=ROOT_ATTRS,
        nsmap=xml_io.ENFINITY_NSMAP,
    )
    return out


def test_envelope_is_valid_xml_with_root_attrs(doc):
    tag, attrs = xml_io.read_root_attrs(doc)
    assert tag == "enfinity"
    assert attrs["major"] == "7" and attrs["minor"] == "3"
    # namespaced attribute round-trips through the xsi binding
    assert attrs["{http://www.w3.org/2001/XMLSchema-instance}schemaLocation"].endswith(
        "customer.xsd"
    )
    # whole document parses (stdlib, strict)
    root = ET.parse(doc).getroot()
    assert root.tag == "enfinity"


def test_record_count_and_ids_roundtrip(spark, migrated, doc):
    back = xml_io.read_xml_document(spark, doc)
    assert back.count() == migrated.count()
    got = sorted(r._id for r in back.select("_id").collect())
    want = sorted(r.id for r in migrated.select("id").collect())
    assert got == want


def test_namespaced_attr_types_roundtrip(spark, migrated, doc):
    """The dt:dt type tags (boolean for the mandatory flag, string for
    delivery day — migrate.py:195,200,210-216) survive the round-trip."""
    back = xml_io.read_xml_document(spark, doc)
    attrs = back.select(
        F.explode(F.col("custom-attributes")["custom-attribute"]).alias("a")
    ).select(
        F.col("a._name").alias("name"),
        F.col("a.`_dt:dt`").alias("dt"),
        F.col("a._VALUE").cast("string").alias("value"),
    )
    mand = attrs.where(F.col("name") == "MEK_CustomerOrderNumberMandatory")
    assert mand.count() > 0
    assert mand.where(F.col("dt") != "boolean").count() == 0
    assert mand.where(~F.col("value").isin("true", "false")).count() == 0
    dd = attrs.where(F.col("name") == "MEK_DefaultDeliveryday")
    assert dd.where(F.col("dt") != "string").count() == 0


def test_migration_invariants_in_document(spark, doc):
    """SURVEY §5.2.3 property checks, asserted on the *written document*:
    every user carries CG_Mekonomen, no LastOrderDate attr and no
    last-logged-in survive, creation-date is the run timestamp."""
    back = xml_io.read_xml_document(spark, doc)
    # single-user customers parse as struct, multi-user as array; the
    # sf0.001 build has both — normalize via to_json containment checks
    txt = back.select(F.to_json(F.struct(F.col("user"))).alias("j"))
    assert txt.where(~F.col("j").contains("CG_Mekonomen")).count() == 0
    assert txt.where(F.col("j").contains("LastOrderDate")).count() == 0
    assert txt.where(F.col("j").contains("last-logged-in")).count() == 0
    assert txt.where(~F.col("j").contains(RUN_TS.replace("+00:00", ""))).count() == 0


def test_escaping_special_chars(spark, tmp_path):
    df = spark.createDataFrame(
        [("A&B<C>", [("N&me", "string", 'va<l"ue')],
          [("BP&1", "A&B<C>", ("2026-01-01T00:00:00+00:00",), ["G<1"], [])])],
        "id string, custom_attributes array<struct<name:string,dt:string,value:string>>, "
        "users array<struct<business_partner_no:string, default_customer:string, "
        "profile:struct<creation_date:string>, user_groups:array<string>, "
        "custom_attributes:array<struct<name:string,dt:string,value:string>>>>",
    )
    out = str(tmp_path / "esc.xml")
    xml_io.write_xml_document(xml_io.customer_xml(df), out, nsmap=xml_io.ENFINITY_NSMAP)
    root = ET.parse(out).getroot()  # strict parser: raises on bad escaping
    cust = root.find("customer")
    assert cust.attrib["id"] == "A&B<C>"
    attr = cust.find("custom-attributes/custom-attribute")
    assert attr.attrib["name"] == "N&me"
    assert attr.text == 'va<l"ue'


def _nested_ddl(credentials: str) -> str:
    """The canonical nested customer shape with the given credentials
    fields."""
    return (
        "id string, custom_attributes array<struct<name:string,dt:string,value:string>>, "
        "users array<struct<business_partner_no:string, default_customer:string, "
        "profile:struct<creation_date:string>, "
        f"credentials:struct<{credentials}>, user_groups:array<string>, "
        "custom_attributes:array<struct<name:string,dt:string,value:string>>>>"
    )


MAPPING_DDL = (
    "current_customer_id string, new_customer_id string, new_source_id string, "
    "new_store_id string, new_store_name string, mandatory_reference string, "
    "delivery_day string"
)


@pytest.mark.parametrize(
    "credentials, old_credentials, credential_element",
    [
        ("login:string,last_logged_in:string", ("7", "2023-06-01T08:00:00"), "login"),
        ("last_logged_in:string,last_ip:string", ("2023-06-01T08:00:00", "7"), "last-ip"),
    ],
    ids=["cli", "ops"],
)
def test_migrated_records_render_exactly(
    spark, credentials, old_credentials, credential_element
):
    """The delta records of ``customer_xml(apply_migration(...))`` byte
    for byte, on the CLI export's credentials (login) and the ops
    corpus's (``nested_customers``: last_ip). Covered: a customer
    without attributes (both upserts append) and one without users, a
    user with null credentials and no attributes, and a login or
    last_ip, default-customer, business-partner-no and attribute value
    equal to the old id, which become the new id, beside a user-group
    id and an attribute name and dt:dt equal to it, which stay."""
    user_attrs = [
        ("Foo", "string", "7"), ("LastOrderDate", "string", "2023-12-24"), ("7", "7", "x")
    ]
    nested = spark.createDataFrame(
        [
            ("7", [], [
                ("7", "7", ("2020-01-01T00:00:00+00:00",), old_credentials,
                 ["7", "CG_Other"], user_attrs),
                ("BP7", "other", ("2020-01-01T00:00:00+00:00",), None, [], []),
            ]),
            ("8", [("MEK_Store_Id", "string", "8"), ("MEK_Store_Name", "string", "Old")], []),
        ],
        _nested_ddl(credentials),
    )
    mapping = spark.createDataFrame(
        [
            ("7", "N7", "S1", "ST1", "Store One", "TRUE", "-2D"),
            ("8", "N8", "S1", "ST1", "Store One", None, ""),
        ],
        MAPPING_DDL,
    )
    migrated = apply_migration(nested, mapping, run_ts=RUN_TS)
    got = sorted(r.value for r in xml_io.customer_xml(migrated).collect())
    cd = "      <creation-date>2026-08-13T00:00:00+00:00</creation-date>\n"
    assert got == [
        '<customer id="N7">\n'
        "  <custom-attributes>\n"
        '    <custom-attribute name="MEK_DefaultDeliveryday" dt:dt="string">-2D</custom-attribute>\n'
        '    <custom-attribute name="MEK_CustomerOrderNumberMandatory" dt:dt="boolean">true</custom-attribute>\n'
        "  </custom-attributes>\n"
        '  <user business-partner-no="N7">\n'
        "    <default-customer>N7</default-customer>\n"
        "    <user-groups>\n"
        '      <user-group id="7"/>\n'
        '      <user-group id="CG_Other"/>\n'
        '      <user-group id="CG_Mekonomen"/>\n'
        "    </user-groups>\n"
        "    <custom-attributes>\n"
        '      <custom-attribute name="Foo" dt:dt="string">N7</custom-attribute>\n'
        '      <custom-attribute name="7" dt:dt="7">x</custom-attribute>\n'
        "    </custom-attributes>\n"
        "    <credentials>\n"
        f"      <{credential_element}>N7</{credential_element}>\n"
        "    </credentials>\n"
        f"    <profile>\n{cd}    </profile>\n"
        "  </user>\n"
        '  <user business-partner-no="BP7">\n'
        "    <default-customer>other</default-customer>\n"
        "    <user-groups>\n"
        '      <user-group id="CG_Mekonomen"/>\n'
        "    </user-groups>\n"
        "    <custom-attributes/>\n"
        f"    <profile>\n{cd}    </profile>\n"
        "  </user>\n"
        "</customer>",
        '<customer id="N8">\n'
        "  <custom-attributes>\n"
        '    <custom-attribute name="MEK_Store_Id" dt:dt="string">ST1</custom-attribute>\n'
        '    <custom-attribute name="MEK_Store_Name" dt:dt="string">Store One</custom-attribute>\n'
        '    <custom-attribute name="MEK_DefaultDeliveryday" dt:dt="string">-3D</custom-attribute>\n'
        "  </custom-attributes>\n"
        "\n"
        "</customer>",
    ]


def test_attribute_whitespace_round_trips(spark, tmp_path):
    """Tab, newline and carriage return in attribute values are written
    as character references, so a parser reads them back exactly
    instead of normalizing them to spaces: in a record id, a
    business-partner-no, a user-group id, a custom-attribute name and a
    root attribute of the flat delta."""
    df = spark.createDataFrame(
        [("1\n2", [], [("BP\t1", "c", ("2026-01-01T00:00:00+00:00",), None,
                        ["G\r1"], [("N\tm", "string", "v")])])],
        _nested_ddl("login:string"),
    )
    out = str(tmp_path / "ws.xml")
    xml_io.write_xml_document(
        xml_io.customer_xml(df), out,
        root_attrs={"note": "a\tb"}, nsmap=xml_io.ENFINITY_NSMAP,
    )
    root = ET.parse(out).getroot()
    assert root.attrib["note"] == "a\tb"
    cust = root.find("customer")
    assert cust.attrib["id"] == "1\n2"
    user = cust.find("user")
    assert user.attrib["business-partner-no"] == "BP\t1"
    assert user.find("user-groups/user-group").attrib["id"] == "G\r1"
    assert user.find("custom-attributes/custom-attribute").attrib["name"] == "N\tm"


def test_sharded_write_round_trips_every_document(spark, tmp_path):
    """Sharded sink value test: every shard directory holds exactly one
    well-formed XML DOCUMENT (strict ET parse — declaration, envelope
    root, nsmap), the union of shard customers equals the input id set
    exactly, and each record landed in the shard its id hashes to."""
    import glob
    import os

    n = nested_customers(spark, SF).drop("key")
    rendered = xml_io.customer_xml(n).withColumn(
        "_id", F.regexp_extract(F.col("value"), r'customer id="([^"]*)"', 1)
    )
    out = str(tmp_path / "sharded")
    shards = 3
    manifest = {
        r.shard: r.n_records
        for r in xml_io.write_xml_document_sharded(
            rendered.select("value", "_id"),
            out,
            shards,
            shard=F.pmod(F.hash("_id"), F.lit(shards)),
            nsmap=xml_io.ENFINITY_NSMAP,
        ).collect()
    }
    expected = {r.id for r in n.select("id").collect()}

    seen: set[str] = set()
    for s in range(shards):
        files = glob.glob(os.path.join(out, f"shard={s}", "part-*"))
        assert len(files) == 1, f"shard {s}: one complete document expected"
        root = ET.parse(files[0]).getroot()  # strict: raises if malformed
        assert root.tag == "enfinity"
        ids = {c.attrib["id"] for c in root.findall("customer")}
        assert len(ids) == manifest.get(s, 0)
        # shard placement honors the hash assignment
        placed = {
            r.id
            for r in spark.createDataFrame([(i,) for i in ids] or [("",)], ["id"])
            .where(F.pmod(F.hash("id"), F.lit(shards)) == s)
            .collect()
        }
        assert ids == (placed if ids else set())
        seen |= ids
    assert seen == expected


def test_sharded_manifest_matches_rescan_census(spark, tmp_path):
    """Arithmetic placement (the oracle-reproducible one
    sink_xml_sharded uses): the writer's manifest counts
    must equal the per-shard census of a native-XML rescan, and file
    placement (partition discovery on shard=N) must agree with the
    arithmetic assignment for every record."""
    shards = 4
    n = nested_customers(spark, SF).drop("key")
    rendered = xml_io.customer_xml(n).withColumn(
        "_id", F.regexp_extract(F.col("value"), r'customer id="([^"]*)"', 1)
    )
    out = str(tmp_path / "sharded_assign")
    manifest = {
        r.shard: r.n_records
        for r in xml_io.write_xml_document_sharded(
            rendered.select("value", "_id"),
            out,
            shards,
            shard=F.pmod(F.col("_id").cast("long"), F.lit(shards)),
            nsmap=xml_io.ENFINITY_NSMAP,
        ).collect()
    }
    back = (
        spark.read.format("xml")
        .option("rowTag", "customer")
        .load(out)
        .select(F.col("_id").cast("long").alias("id"), "shard")
        .collect()
    )
    census: dict[int, int] = {}
    for r in back:
        assert r.shard == r.id % shards, (r.id, r.shard)
        census[r.shard] = census.get(r.shard, 0) + 1
    assert census == manifest


def test_manifest_compose_equals_single_writer_byte_for_byte(spark, tmp_path):
    """The storage-layer-compose path (VERDICT r10 #6): composing the
    manifest's ordered parts must reproduce write_xml_document's
    single-file output byte-for-byte — same declaration, envelope,
    record order."""
    n = nested_customers(spark, SF).drop("key")
    # one partition on both paths so the part order (hence record
    # order) is identical; multi-part order parity is covered below
    rendered = xml_io.customer_xml(n).coalesce(1)
    single = str(tmp_path / "single.xml")
    xml_io.write_xml_document(
        rendered, single, root_attrs=ROOT_ATTRS, nsmap=xml_io.ENFINITY_NSMAP
    )
    mdir = str(tmp_path / "mdoc")
    manifest = xml_io.write_xml_document_manifest(
        rendered, mdir, root_attrs=ROOT_ATTRS, nsmap=xml_io.ENFINITY_NSMAP
    )
    composed = xml_io.compose_manifest(manifest, str(tmp_path / "composed.xml"))
    assert open(composed, "rb").read() == open(single, "rb").read()


def test_manifest_reads_without_compose_and_hands_off_concat(spark, tmp_path):
    """The manifest IS the document: records and envelope attrs are
    readable with no single physical file ever existing, and the
    storage primitive handoff is real — a injected concat callable
    receives every part in document order and the driver streams
    nothing itself."""
    n = nested_customers(spark, SF).drop("key")
    rendered = xml_io.customer_xml(n).repartition(8)
    mdir = str(tmp_path / "mdoc8")
    manifest = xml_io.write_xml_document_manifest(
        rendered, mdir, root_attrs=ROOT_ATTRS, nsmap=xml_io.ENFINITY_NSMAP
    )
    root_tag, attrs, records = xml_io.read_manifest_document(spark, manifest, XML_SCHEMA)
    assert root_tag == "enfinity"
    assert attrs["major"] == "7"
    got = {
        r.rid
        for r in records.select(
            F.col("_id").cast("string").alias("rid")
        ).collect()
    }
    assert got == {r.id for r in n.select("id").collect()}
    # heterogeneity fidelity: the corpus mixes 1-user and 2-user
    # customers, and every customer's user count must round-trip
    from pyspark.sql import types as T

    assert isinstance(records.schema["user"].dataType, T.ArrayType)
    n_users = {
        r.rid: r.nu
        for r in records.select(
            F.col("_id").cast("string").alias("rid"),
            F.size("user").alias("nu"),
        ).collect()
    }
    src = {r.id: len(r.users) for r in n.select("id", "users").collect()}
    assert n_users == src
    assert 2 in set(src.values())  # the fixture really is heterogeneous
    # storage-primitive handoff: paths arrive in document order,
    # header first, footer last, every record part in between
    calls = []
    out = xml_io.compose_manifest(
        manifest,
        str(tmp_path / "never_written.xml"),
        concat=lambda paths, out_file: calls.append((list(paths), out_file)),
    )
    (paths, out_file), = calls
    assert out_file == out
    assert paths[0].endswith("00_header.xml")
    assert paths[-1].endswith("zz_footer.xml")
    middle = paths[1:-1]
    assert middle == sorted(middle) and len(middle) >= 1
    import os
    assert not os.path.exists(out)  # the primitive owns the stitch


def test_manifest_document_is_relocatable(spark, tmp_path):
    """MANIFEST lists its parts relative to its own directory: after the
    directory moves, the document still composes and reads from the
    new place. An absolute entry is still read."""
    import os
    import shutil

    n = nested_customers(spark, SF).drop("key")
    manifest = xml_io.write_xml_document_manifest(
        xml_io.customer_xml(n).repartition(2), str(tmp_path / "a"),
        root_attrs=ROOT_ATTRS, nsmap=xml_io.ENFINITY_NSMAP,
    )
    assert not any(os.path.isabs(p) for p in open(manifest).read().split())
    shutil.move(str(tmp_path / "a"), str(tmp_path / "b"))
    moved = str(tmp_path / "b" / "MANIFEST")
    want = {r.id for r in n.select("id").collect()}

    composed = xml_io.compose_manifest(moved, str(tmp_path / "doc.xml"))
    assert {c.attrib["id"] for c in ET.parse(composed).getroot()} == want
    root_tag, attrs, records = xml_io.read_manifest_document(spark, moved, XML_SCHEMA)
    assert (root_tag, attrs["major"]) == ("enfinity", "7")
    assert {r[0] for r in records.select(F.col("_id").cast("string")).collect()} == want

    # a manifest written with absolute entries reads the same parts
    entries = open(moved).read().split()
    with open(moved, "w") as w:
        w.write("".join(os.path.join(str(tmp_path / "b"), e) + "\n" for e in entries))
    again = xml_io.compose_manifest(moved, str(tmp_path / "abs.xml"))
    assert open(again, "rb").read() == open(composed, "rb").read()


def test_manifest_envelope_assembly_is_flat_in_data_volume(spark, tmp_path):
    """Assembly-cost pin: the envelope step writes the SAME O(1)
    header/footer bytes regardless of corpus size, and the manifest
    grows only with the part COUNT — never with record bytes. (Wall
    clock on a shared box is noise; byte accounting is the honest
    flatness measure.)"""
    import os

    small = xml_io.customer_xml(nested_customers(spark, SF).drop("key").limit(10))
    large = xml_io.customer_xml(nested_customers(spark, SF).drop("key"))
    sizes = {}
    for name, df in (("small", small.coalesce(1)), ("large", large.repartition(8))):
        mdir = str(tmp_path / name)
        manifest = xml_io.write_xml_document_manifest(
            df, mdir, root_attrs=ROOT_ATTRS, nsmap=xml_io.ENFINITY_NSMAP
        )
        with open(manifest) as r:
            n_parts = len(r.read().strip().splitlines())
        sizes[name] = (
            os.path.getsize(os.path.join(mdir, "00_header.xml")),
            os.path.getsize(os.path.join(mdir, "zz_footer.xml")),
            n_parts,
        )
    assert sizes["small"][0] == sizes["large"][0]  # header bytes flat
    assert sizes["small"][1] == sizes["large"][1]  # footer bytes flat
    assert sizes["large"][2] == 8 + 2  # manifest ~ part count, not bytes


def test_manifest_of_empty_record_set_composes_valid_empty_document(
    spark, tmp_path
):
    """Zero records is a legal document (envelope only): the manifest
    still composes to well-formed XML and reads back as zero rows under
    the record schema."""
    empty = xml_io.customer_xml(
        nested_customers(spark, SF).drop("key")
    ).limit(0)
    mdir = str(tmp_path / "mempty")
    manifest = xml_io.write_xml_document_manifest(
        empty, mdir, root_attrs=ROOT_ATTRS, nsmap=xml_io.ENFINITY_NSMAP
    )
    composed = xml_io.compose_manifest(manifest, str(tmp_path / "e.xml"))
    root = ET.parse(composed).getroot()  # strict: raises if malformed
    assert root.tag == "enfinity"
    assert len(root) == 0
    root_tag, _attrs, records = xml_io.read_manifest_document(spark, manifest, XML_SCHEMA)
    assert root_tag == "enfinity"
    assert records.count() == 0
    assert records.columns == XML_SCHEMA.fieldNames()
