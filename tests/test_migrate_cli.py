"""End-to-end CLI test: the reference's whole program (XML + CSV in →
delta XML + log CSV out, found/total summary) driven through
``pro_etl_spark.migrate_cli`` on a fixture that covers the reference's
example edge cases (SURVEY §5.1): a fully-valid row, a false-flag row,
an empty delivery_day (→ '-3D' default), an invalid delivery_day
(advisory Not OK but still transformed), a duplicated key
(first-row-wins), an RFC 4180 doubled quote inside a quoted field and
an unknown non-ASCII id (anti path)."""

from __future__ import annotations

import textwrap
import xml.etree.ElementTree as ET

import pyspark.sql.functions as F
import pytest

from pathlib import Path

from pro_etl_spark import migrate_cli, xml_io

FIXTURE_XML = textwrap.dedent("""\
    <?xml version="1.0" encoding="UTF-8"?>
    <enfinity xmlns:i="http://www.intershop.com/xml/ns/intershop/customer/impex/7.3" xmlns:dt="http://www.intershop.com/xml/ns/enfinity/6.5/core/impex-dt" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance" xsi:schemaLocation="http://www.intershop.com/xml/ns/intershop/customer/impex/7.3 customer.xsd" major="7" minor="3">
      <customer id="1001">
        <custom-attributes>
          <custom-attribute name="MEK_Store_Id" dt:dt="string">OLD1</custom-attribute>
          <custom-attribute name="MEK_Store_Name" dt:dt="string">Old Store</custom-attribute>
          <custom-attribute name="MEK_DataAreaID" dt:dt="string">OLDSRC</custom-attribute>
        </custom-attributes>
        <user business-partner-no="1001">
          <default-customer>1001</default-customer>
          <user-groups>
            <user-group id="CG_Other"/>
          </user-groups>
          <custom-attributes>
            <custom-attribute name="LastOrderDate" dt:dt="string">2023-01-01</custom-attribute>
            <custom-attribute name="Keep" dt:dt="string">yes</custom-attribute>
          </custom-attributes>
          <credentials>
            <login>u1001</login>
            <last-logged-in>2023-06-01T08:00:00</last-logged-in>
          </credentials>
          <profile>
            <creation-date>2019-05-05T00:00:00+00:00</creation-date>
          </profile>
        </user>
      </customer>
      <customer id="1002">
        <custom-attributes>
          <custom-attribute name="MEK_DefaultDeliveryday" dt:dt="string">-5D</custom-attribute>
        </custom-attributes>
        <user business-partner-no="1002">
          <default-customer>1002</default-customer>
          <user-groups>
            <user-group id="CG_Mekonomen"/>
          </user-groups>
          <custom-attributes/>
          <credentials>
            <login>u1002</login>
          </credentials>
          <profile>
            <creation-date>2020-06-06T00:00:00+00:00</creation-date>
          </profile>
        </user>
      </customer>
      <customer id="1003">
        <custom-attributes/>
        <user business-partner-no="1003">
          <default-customer>1003</default-customer>
          <user-groups>
            <user-group id="CG_Other"/>
          </user-groups>
          <custom-attributes/>
          <credentials>
            <login>u1003</login>
          </credentials>
          <profile>
            <creation-date>2021-07-07T00:00:00+00:00</creation-date>
          </profile>
        </user>
      </customer>
      <customer id="1004">
        <custom-attributes/>
        <user business-partner-no="1004">
          <default-customer>1004</default-customer>
          <user-groups>
            <user-group id="CG_Other"/>
          </user-groups>
          <custom-attributes/>
          <credentials>
            <login>u1004</login>
          </credentials>
          <profile>
            <creation-date>2022-08-08T00:00:00+00:00</creation-date>
          </profile>
        </user>
      </customer>
    </enfinity>
    """)

FIXTURE_CSV = textwrap.dedent("""\
    current_customer_id,new_customer_id,new_source_id,new_store_id,new_store_name,mandatory_reference,delivery_day
    1001,N1001,SRC9,ST9,"Nya ""City""\",TRUE,-2D
    1002,N1002,SRC9,ST9,New Store Nine,false,
    1003,N1003,SRC9,ST9,New Store Nine,,-12D
    1003,DUPE,SRC8,ST8,Dupe Store,,-4D
    4123Ö47,N4123,SRC9,ST9,New Store Nine,true,-3D
    """)


@pytest.fixture(scope="module")
def cli_out(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cli")
    xml = d / "export.xml"
    csv = d / "mapping.csv"
    xml.write_text(FIXTURE_XML, encoding="utf-8")
    csv.write_text(FIXTURE_CSV, encoding="utf-8")
    out = migrate_cli.run(spark, str(xml), str(csv), str(d / "out"))
    return out


def test_summary_counts(cli_out):
    # 4 distinct mapping keys after first-wins dedup: 1001, 1002, 1003, 4123Ö47
    assert cli_out["total"] == "4"
    assert cli_out["found"] == "3"  # 4123Ö47 not in XML


def test_output_layout_matches_reference(cli_out):
    # reference writes output/<YYYY-MM-DD>/output-<uuid>.xml as a flat
    # file (migrate.py:286-293)
    import re
    from pathlib import Path

    p = Path(cli_out["xml"])
    assert p.is_file()
    assert re.fullmatch(r"output-[0-9a-f]{12}\.xml", p.name)
    assert re.fullmatch(r"\d{4}-\d{2}-\d{2}", p.parent.name)
    assert cli_out["run_ts"].startswith(p.parent.name)
    # the writer's staging directory is gone: the delta is on disk once
    assert {q.name for q in p.parent.iterdir()} == {p.name, f"{p.stem}-log"}
    assert Path(cli_out["log"]).is_dir()


def test_delta_envelope_bytes(cli_out):
    """The flat delta's envelope byte for byte: the declaration, the
    root start tag (nsmap in ``ENFINITY_NSMAP`` order, then the export's
    root attributes in document order, ``xsi:schemaLocation`` mapped
    back from its Clark key) and the end tag."""
    doc = Path(cli_out["xml"]).read_text(encoding="utf-8")
    assert doc.startswith(
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<enfinity'
        ' xmlns:i="http://www.intershop.com/xml/ns/intershop/customer/impex/7.3"'
        ' xmlns:dt="http://www.intershop.com/xml/ns/enfinity/6.5/core/impex-dt"'
        ' xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"'
        ' xsi:schemaLocation="http://www.intershop.com/xml/ns/intershop/customer/impex/7.3 customer.xsd"'
        ' major="7" minor="3">\n'
        '<customer id="'
    )
    assert doc.endswith("</customer>\n</enfinity>\n")


@pytest.mark.parametrize("scale", [False, True], ids=["flat", "scale"])
def test_root_attribute_values_are_escaped(spark, tmp_path, scale):
    """A root attribute value holding ``&``, ``"`` and ``<`` is escaped
    when the envelope is written back: the delta parses and carries the
    export's value, in the flat document and in the composed manifest
    document."""
    root_end = ' minor="3">'
    assert FIXTURE_XML.count(root_end) == 1
    export = FIXTURE_XML.replace(
        root_end, ' minor="3" note="A &amp; B &quot;q&quot; &lt;x&gt;">'
    )
    (tmp_path / "export.xml").write_text(export, encoding="utf-8")
    (tmp_path / "mapping.csv").write_text(FIXTURE_CSV, encoding="utf-8")
    out = migrate_cli.run(
        spark,
        str(tmp_path / "export.xml"),
        str(tmp_path / "mapping.csv"),
        str(tmp_path / "out"),
        scale=scale,
    )
    doc = out["xml"]
    if scale:
        doc = xml_io.compose_manifest(doc, str(tmp_path / "composed.xml"))
    assert ET.parse(doc).getroot().attrib["note"] == 'A & B "q" <x>'


@pytest.mark.parametrize("scale", [False, True], ids=["flat", "scale"])
def test_root_attributes_in_undeclared_namespaces_are_kept(spark, tmp_path, scale):
    """Root attributes whose namespace ``ENFINITY_NSMAP`` does not bind
    survive into the delta: ``xml:`` needs no declaration, and a prefix
    the export declares itself is declared again."""
    start = FIXTURE_XML.index("<enfinity ")
    end = FIXTURE_XML.index(">", start) + 1
    export = (
        FIXTURE_XML[:start]
        + '<enfinity xmlns:x="urn:other" xml:lang="sv" x:tenant="t1" major="7">'
        + FIXTURE_XML[end:]
    )
    (tmp_path / "export.xml").write_text(export, encoding="utf-8")
    (tmp_path / "mapping.csv").write_text(FIXTURE_CSV, encoding="utf-8")
    out = migrate_cli.run(
        spark,
        str(tmp_path / "export.xml"),
        str(tmp_path / "mapping.csv"),
        str(tmp_path / "out"),
        scale=scale,
    )
    doc = out["xml"]
    if scale:
        doc = xml_io.compose_manifest(doc, str(tmp_path / "composed.xml"))
    root = ET.parse(doc).getroot()
    assert root.attrib == {
        "{http://www.w3.org/XML/1998/namespace}lang": "sv",
        "{urn:other}tenant": "t1",
        "major": "7",
    }
    assert len(root.findall("customer")) == 3


def test_scale_mode_writes_manifest_document(spark, tmp_path, cli_out):
    """--scale swaps the driver-streamed single file for the manifest
    document (VERDICT r11 #8): the CLI's 100x story must match the
    library's. The manifest composes to EXACTLY the bytes the flat
    mode writes (same records, same envelope, same order), and the
    file set is consumable without composing at all."""
    d = tmp_path
    (d / "export.xml").write_text(FIXTURE_XML, encoding="utf-8")
    (d / "mapping.csv").write_text(FIXTURE_CSV, encoding="utf-8")
    out = migrate_cli.run(
        spark,
        str(d / "export.xml"),
        str(d / "mapping.csv"),
        str(d / "out"),
        scale=True,
    )
    manifest = Path(out["xml"])
    assert manifest.is_file() and manifest.name == "MANIFEST"
    composed = str(d / "composed.xml")
    xml_io.compose_manifest(str(manifest), composed)
    assert (
        open(composed, "rb").read() == open(cli_out["xml"], "rb").read()
    )
    root_tag, attrs, records = xml_io.read_manifest_document(
        spark, str(manifest), migrate_cli.XML_SCHEMA
    )
    assert root_tag == "enfinity"
    assert attrs["major"] == "7"
    got = {r[0] for r in records.select("_id").collect()}
    assert got == {"N1001", "N1002", "N1003"}
    # the manifest's records are the flat delta's, in document order,
    # through the one record parse
    flat = xml_io.read_records(spark, cli_out["xml"], migrate_cli.XML_SCHEMA)
    assert records.schema == flat.schema
    assert records.collect() == flat.collect()


def test_log_statuses(spark, cli_out):
    log = spark.read.option("header", True).csv(cli_out["log"])
    got = {r.current_id: (r.status, r.reason) for r in log.collect()}
    assert len(got) == 4
    assert got["1001"][0] == "OK"
    assert got["1002"][0] == "OK"  # empty delivery_day → '-3D' default is valid
    assert got["1003"] == ("Not OK", migrate_cli.REASON_INVALID)  # -12D invalid
    assert got["4123Ö47"] == ("Not OK", migrate_cli.REASON_NOT_FOUND)


def test_reconcile_flags_missing_values(spark):
    """A mapping row with a NULL mandatory column is "Missing values"
    before the delivery-day rule, and not-found still wins over both —
    the one ``reconcile`` the CLI and ``migration_reconciliation``
    share."""
    from pro_etl_spark.ops.migration import REASON_MISSING, reconcile

    cols = (
        "current_customer_id new_customer_id new_source_id new_store_id "
        "new_store_name delivery_day"
    )
    mapping = spark.createDataFrame(
        [
            ("1", "N1", "S", "ST1", "Store", "-12D"),
            ("2", "N2", "S", "ST2", None, "-12D"),
            ("3", "N3", None, "ST3", "Store", "-3D"),
            ("9", "N9", None, "ST9", "Store", "-3D"),
        ],
        ", ".join(f"{c} string" for c in cols.split()),
    )
    customers = spark.createDataFrame([("1",), ("2",), ("3",)], "id string")
    got = {
        r.current_id: (r.status, r.reason)
        for r in reconcile(mapping, customers).collect()
    }
    assert got == {
        "1": ("Not OK", migrate_cli.REASON_INVALID),
        "2": ("Not OK", REASON_MISSING),
        "3": ("Not OK", REASON_MISSING),
        "9": ("Not OK", migrate_cli.REASON_NOT_FOUND),
    }


def test_record_plan_jvm_round_trip_budget(spark, tmp_path, monkeypatch):
    """Building the migrate pass's record plan (``apply_migration``,
    ``customer_xml`` and ``reconcile`` over the parsed export) costs a
    few dozen py4j round trips: each projection is SQL text handed to
    the JVM in one call. Spelled in the Column DSL, one call per
    function, alias, field access and lambda variable, it cost about
    4,600."""
    from py4j.java_gateway import GatewayClient

    from pro_etl_spark.ops.migration import apply_migration, reconcile

    (tmp_path / "export.xml").write_text(FIXTURE_XML, encoding="utf-8")
    (tmp_path / "mapping.csv").write_text(FIXTURE_CSV, encoding="utf-8")
    customers = migrate_cli.read_customers_xml(spark, str(tmp_path / "export.xml"))
    mapping = migrate_cli.read_mapping_csv(spark, str(tmp_path / "mapping.csv"))

    calls = []
    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    xml_io.customer_xml(apply_migration(customers, mapping))
    reconcile(mapping, customers)
    monkeypatch.undo()
    assert 0 < len(calls) <= 300, f"{len(calls)} py4j round trips"


def test_reconciliation_jvm_round_trip_budget(spark, monkeypatch):
    """Building ``migration_reconciliation``'s plan (the mapping
    stand-in, its first-wins window and ``reconcile`` against the
    corpus) costs a few hundred py4j round trips: each mapping branch is
    one SQL-text projection. Spelled in the Column DSL it cost about
    1,750."""
    from py4j.java_gateway import GatewayClient

    from pro_etl_spark.ops.migration import reconciliation

    sf = "/root/testdata/sf0.001"
    reconciliation(spark, sf)  # memoizes the dataset's parquet schema
    calls = []
    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    reconciliation(spark, sf)
    monkeypatch.undo()
    assert 0 < len(calls) <= 400, f"{len(calls)} py4j round trips"


def test_first_wins_across_mapping_files(spark, tmp_path):
    """A glob matching two mapping files keeps, per key, the row of the
    path-sorted first file, and within one file the earlier row. The
    second file is the larger one, so Spark reads it first and row ids
    alone would pick its rows."""
    header = FIXTURE_CSV.splitlines()[0] + "\n"
    (tmp_path / "a.csv").write_text(
        header
        + "K1,A1,S,ST,Store,true,-2D\n"
        + "K2,A2,S,ST,Store,true,-2D\n"
        + "K2,A2-late,S,ST,Store,true,-2D\n",
        encoding="utf-8",
    )
    (tmp_path / "b.csv").write_text(
        header
        + "K1,B1,S,ST,Store,true,-2D\n"
        + "K3,B3,S,ST,Store,true,-2D\n"
        + "K3,B3-late,S,ST,Store,true,-2D\n"
        + "".join(f"P{i},BP{i},S,ST,Store,true,-2D\n" for i in range(50)),
        encoding="utf-8",
    )
    m = migrate_cli.read_mapping_csv(spark, str(tmp_path / "*.csv"))
    got = {r.current_customer_id: r.new_customer_id for r in m.collect()}
    assert (got["K1"], got["K2"], got["K3"]) == ("A1", "A2", "B3")
    assert len(got) == 3 + 50
    assert m.columns == migrate_cli.CSV_SCHEMA.fieldNames()


def test_delta_xml_document(spark, cli_out):
    root = ET.parse(cli_out["xml"]).getroot()
    assert root.tag == "enfinity"
    assert root.attrib["major"] == "7"
    assert root.attrib[
        "{http://www.w3.org/2001/XMLSchema-instance}schemaLocation"
    ].endswith("customer.xsd")

    custs = {c.attrib["id"]: c for c in root.findall("customer")}
    # advisory validation: invalid 1003 still flows to the output (§2.11.4)
    assert set(custs) == {"N1001", "N1002", "N1003"}

    DT = "{http://www.intershop.com/xml/ns/enfinity/6.5/core/impex-dt}dt"

    def attrs(el):
        return {
            a.attrib["name"]: (a.attrib.get(DT), a.text)
            for a in el.findall("custom-attributes/custom-attribute")
        }

    a1 = attrs(custs["N1001"])
    assert a1["MEK_Store_Id"] == ("string", "ST9")
    # RFC 4180: a doubled quote in a quoted field is one literal quote,
    # as the reference's pandas reader parses it
    assert a1["MEK_Store_Name"] == ("string", 'Nya "City"')
    assert a1["MEK_DataAreaID"] == ("string", "SRC9")
    assert a1["MEK_DefaultDeliveryday"] == ("string", "-2D")
    assert a1["MEK_CustomerOrderNumberMandatory"] == ("boolean", "true")

    # empty delivery_day → default; upsert updates the existing attr
    a2 = attrs(custs["N1002"])
    assert a2["MEK_DefaultDeliveryday"] == ("string", "-3D")
    assert a2["MEK_CustomerOrderNumberMandatory"] == ("boolean", "false")

    # NULL mandatory_reference → attribute absent (no literal 'nan':
    # the reference's §2.11.2 bug, not replicated); invalid -12D written
    # as-is (advisory)
    a3 = attrs(custs["N1003"])
    assert "MEK_CustomerOrderNumberMandatory" not in a3
    assert a3["MEK_DefaultDeliveryday"] == ("string", "-12D")
    # first-row-wins: the DUPE row did not apply
    assert custs["N1003"].find("user").attrib["business-partner-no"] == "N1003"

    u1 = custs["N1001"].find("user")
    assert u1.find("default-customer").text == "N1001"
    groups = {g.attrib["id"] for g in u1.findall("user-groups/user-group")}
    assert "CG_Mekonomen" in groups and "CG_Other" in groups
    ua = {a.attrib["name"] for a in u1.findall("custom-attributes/custom-attribute")}
    assert "LastOrderDate" not in ua and "Keep" in ua
    assert u1.find("credentials/last-logged-in") is None
    assert u1.find("credentials/login").text == "u1001"
    assert u1.find("profile/creation-date").text == cli_out["run_ts"]


def test_strict_mode_excludes_invalid(spark, tmp_path):
    """strict=True drops 'Not OK' rows from the output document while
    the log keeps the complete reconciliation trail (SURVEY §7.3.4)."""
    xml = tmp_path / "export.xml"
    csv = tmp_path / "mapping.csv"
    xml.write_text(FIXTURE_XML, encoding="utf-8")
    csv.write_text(FIXTURE_CSV, encoding="utf-8")
    out = migrate_cli.run(spark, str(xml), str(csv), str(tmp_path / "out"), strict=True)
    root = ET.parse(out["xml"]).getroot()
    ids = {c.attrib["id"] for c in root.findall("customer")}
    assert ids == {"N1001", "N1002"}  # N1003 (-12D) excluded under strict
    log = spark.read.option("header", True).csv(out["log"])
    assert log.count() == 4  # log unchanged: full trail
    # the log is not persisted, so strict mode evaluates reconcile once
    # for the filter and once for the CSV: both must agree with the
    # default mode's log row for row
    default = migrate_cli.run(spark, str(xml), str(csv), str(tmp_path / "default"))
    default_log = spark.read.option("header", True).csv(default["log"])
    assert sorted(log.collect()) == sorted(default_log.collect())
    assert (out["found"], out["total"]) == (default["found"], default["total"])


def test_group_not_duplicated(spark, cli_out):
    root = ET.parse(cli_out["xml"]).getroot()
    n1002 = [c for c in root.findall("customer") if c.attrib["id"] == "N1002"][0]
    groups = [g.attrib["id"] for g in n1002.findall("user/user-groups/user-group")]
    assert groups.count("CG_Mekonomen") == 1


def test_login_not_rewritten_when_distinct(spark, cli_out):
    """The generalized id-rewrite touches only text equal to the old id:
    u1001 != 1001, so the login survives (migrate.py:223-225)."""
    root = ET.parse(cli_out["xml"]).getroot()
    n1001 = [c for c in root.findall("customer") if c.attrib["id"] == "N1001"][0]
    assert n1001.find("user/credentials/login").text == "u1001"


FIXTURE_XML_LOGIN_IS_ID = FIXTURE_XML.replace(
    "<login>u1002</login>", "<login>1002</login>"
)


def test_subtree_rewrite_hits_login(spark, tmp_path):
    """Golden case for the reference's generalized descendant rewrite
    (migrate.py:223-225): a login whose text equals the old customer id
    comes out rewritten to the new id."""
    xml = tmp_path / "export.xml"
    csv = tmp_path / "mapping.csv"
    xml.write_text(FIXTURE_XML_LOGIN_IS_ID, encoding="utf-8")
    csv.write_text(FIXTURE_CSV, encoding="utf-8")
    out = migrate_cli.run(spark, str(xml), str(csv), str(tmp_path / "out"))
    root = ET.parse(out["xml"]).getroot()
    n1002 = [c for c in root.findall("customer") if c.attrib["id"] == "N1002"][0]
    assert n1002.find("user/credentials/login").text == "N1002"


def test_default_input_discovery(spark, tmp_path, capsys, monkeypatch):
    """--xml/--csv omitted → the CLI picks the newest .xml/.csv from
    --input-dir by mtime (reference migrate.py:39-69 default mode)."""
    import os
    import time

    inp = tmp_path / "input"
    inp.mkdir()
    (inp / "old.xml").write_text("<enfinity/>", encoding="utf-8")
    (inp / "old.csv").write_text("x\n", encoding="utf-8")
    (inp / "export.xml").write_text(FIXTURE_XML, encoding="utf-8")
    (inp / "mapping.csv").write_text(FIXTURE_CSV, encoding="utf-8")
    now = time.time()
    os.utime(inp / "old.xml", (now - 1000, now - 1000))
    os.utime(inp / "old.csv", (now - 1000, now - 1000))
    os.utime(inp / "export.xml", (now, now))
    os.utime(inp / "mapping.csv", (now, now))

    assert migrate_cli.latest_file(str(inp), ".xml") == str(inp / "export.xml")
    assert migrate_cli.latest_file(str(inp), ".csv") == str(inp / "mapping.csv")
    assert migrate_cli.latest_file(str(tmp_path / "nope"), ".xml") is None

    # end-to-end through main(): the builder returns the already-active
    # test session; neuter stop() so main()'s finally doesn't tear down
    # the shared fixture
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    migrate_cli.main(
        [
            "--input-dir",
            str(inp),
            "--output-dir",
            str(tmp_path / "out"),
            "--master",
            spark.sparkContext.master,
        ]
    )
    printed = capsys.readouterr().out
    assert f"discovered inputs: xml={inp / 'export.xml'}" in printed
    assert "3/4 customers found in source XML" in printed


def _local_bytes_read(spark) -> int:
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem
    return sum(
        s.getBytesRead() for s in fs.getAllStatistics() if s.getScheme() == "file"
    )


def test_export_parsed_once(spark, tmp_path):
    """One run reads the export once: the log's semi-join and the
    document rewrite share one persisted scan, which the run releases.
    The export (a few hundred customers: FIXTURE_XML's records under
    fresh ids) dominates the bytes, so a second parse shows as a ~2x
    read of the inputs."""
    import re

    head, rest = FIXTURE_XML.split("  <customer ", 1)
    records, tail = ("  <customer " + rest).rsplit("</enfinity>", 1)
    copies = [
        re.sub(r'<customer id="(\d+)">', rf'<customer id="{k}-\1">', records)
        for k in range(100)
    ]
    xml = tmp_path / "export.xml"
    xml.write_text(head + "".join(copies) + "</enfinity>" + tail, encoding="utf-8")
    csv = tmp_path / "mapping.csv"
    csv.write_text(
        FIXTURE_CSV
        + "".join(f"{k}-1001,N{k},SRC9,ST9,Store,true,-2D\n" for k in range(100)),
        encoding="utf-8",
    )
    input_bytes = xml.stat().st_size + csv.stat().st_size

    cache = spark._jsparkSession.sharedState().cacheManager()
    cached_before = cache.numCachedEntries()
    migrate_cli.run(spark, str(xml), str(csv), str(tmp_path / "warm"))
    read_before = _local_bytes_read(spark)
    out = migrate_cli.run(spark, str(xml), str(csv), str(tmp_path / "out"))
    read = _local_bytes_read(spark) - read_before

    assert (out["found"], out["total"]) == ("100", "104")
    assert read <= 1.2 * input_bytes, f"{read} bytes read for {input_bytes} of input"
    assert cache.numCachedEntries() == cached_before  # the scan is released


@pytest.mark.parametrize(
    "xml_text, csv_text, found_total, reasons",
    [
        (FIXTURE_XML, FIXTURE_CSV.splitlines()[0] + "\n", ("0", "0"), []),
        (
            FIXTURE_XML.split("  <customer ", 1)[0] + "</enfinity>\n",
            FIXTURE_CSV,
            ("0", "4"),
            ["Not found in source XML"] * 4,
        ),
    ],
    ids=["header_only_mapping", "export_without_customers"],
)
def test_degenerate_inputs(spark, tmp_path, xml_text, csv_text, found_total, reasons):
    """An empty mapping or an export with no <customer> still runs the
    log write, so the observed found/total arrives instead of blocking,
    and the delta document is empty."""
    xml = tmp_path / "export.xml"
    csv = tmp_path / "mapping.csv"
    xml.write_text(xml_text, encoding="utf-8")
    csv.write_text(csv_text, encoding="utf-8")
    out = migrate_cli.run(spark, str(xml), str(csv), str(tmp_path / "out"))
    assert (out["found"], out["total"]) == found_total
    log = spark.read.option("header", True).csv(out["log"]).collect()
    assert [r["reason"] for r in log] == reasons
    assert ET.parse(out["xml"]).getroot().findall("customer") == []


MAX_SPLIT_BYTES = "spark.sql.files.maxPartitionBytes"
OPEN_COST = "spark.sql.files.openCostInBytes"


@pytest.mark.parametrize("newline", ["\n", "\r\n"], ids=["lf", "crlf"])
def test_export_scan_splits_at_record_boundaries(spark, tmp_path, newline):
    """The export scan is split across tasks and still returns exactly
    the native XML source's rows, in order, when split boundaries fall
    inside records, inside the ``</customer>`` delimiter and between
    the two bytes of an ``Ö`` in the ids, and the file ends without a
    newline."""
    import re

    head, rest = FIXTURE_XML.split("  <customer ", 1)
    records, _tail = ("  <customer " + rest).rsplit("</enfinity>", 1)
    copies = [
        re.sub(r'<customer id="(\d+)">', rf'<customer id="Ö{k}-\1">', records)
        for k in range(100)
    ]
    text = head + "".join(copies) + "</enfinity>"
    data = text.replace("\n", newline).encode("utf-8")
    xml = tmp_path / "export.xml"
    xml.write_bytes(data)
    # splits are cut every split_bytes bytes: the first cut falls
    # between the bytes of the first Ö, and some later cut inside a
    # delimiter
    split_bytes = data.index("Ö".encode("utf-8")) + 1
    close = b"</customer>"
    assert any(
        c - len(close) < data.rfind(close, 0, c + len(close) - 1)
        for c in range(split_bytes, len(data), split_bytes)
    )

    saved = {k: spark.conf.get(k) for k in (MAX_SPLIT_BYTES, OPEN_COST)}
    try:
        spark.conf.set(MAX_SPLIT_BYTES, str(split_bytes))
        spark.conf.set(OPEN_COST, "0")
        split = migrate_cli.read_customers_xml(spark, str(xml))
        assert split.rdd.getNumPartitions() > 1
        got = split.collect()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    native = migrate_cli.canonical_customers(
        spark.read.format("xml")
        .option("rowTag", "customer")
        .schema(migrate_cli.XML_SCHEMA)
        .load(str(xml))
    ).collect()
    assert len(native) == 400
    assert got == native


@pytest.mark.parametrize(
    "edit, construct",
    [
        (
            ('  <customer id="1002">', '  <!-- <customer id="9"><custom-attributes/>'
             '</customer> -->\n  <customer id="1002">'),
            "comment, CDATA section or DOCTYPE",
        ),
        (
            (">yes</custom-attribute>", "><![CDATA[yes</customer>]]></custom-attribute>"),
            "comment, CDATA section or DOCTYPE",
        ),
        (
            ('  <customer id="1002">', '  <customer id="x"/>\n  <customer id="1002">'),
            "self-closing <customer/>",
        ),
        (("</customer>", "</customer >"), "</customer >"),
    ],
    ids=["comment", "cdata", "self_closing", "end_tag_space"],
)
def test_export_split_refuses_unsafe_constructs(spark, tmp_path, edit, construct):
    """An export whose ``</customer>`` cut could misplace a record
    boundary fails the run with an error naming the file and the
    construct, instead of yielding a phantom record or dropping one."""
    old, new = edit
    xml = tmp_path / "export.xml"
    csv = tmp_path / "mapping.csv"
    xml.write_text(FIXTURE_XML.replace(old, new, 1), encoding="utf-8")
    csv.write_text(FIXTURE_CSV, encoding="utf-8")
    from pyspark.errors import SparkRuntimeException

    with pytest.raises(SparkRuntimeException) as err:
        migrate_cli.run(spark, str(xml), str(csv), str(tmp_path / "out"))
    assert err.value.getCondition() == "USER_RAISED_EXCEPTION"
    assert construct in str(err.value)
    assert str(xml) in str(err.value)
