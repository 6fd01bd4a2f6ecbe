"""XML document I/O with envelope fidelity (SURVEY §2.1 S5, §7.2-7.3).

The reference emits ONE namespaced XML document: declaration, root
``<enfinity>`` carrying the preserved nsmap + ``xsi:schemaLocation`` +
version attributes, and pretty-printed ``<customer>`` records
(migrate.py:94, 274-298). Two Spark-native gaps force custom code here
(SURVEY §7.2): the built-in XML writer cannot emit namespace-prefixed
attribute names (``dt:dt`` — Woodstox rejects ``:`` without a binding),
and it writes one root per part file rather than a single enveloped
document.

Split of labor:
- **records (the 100 TB side)**: serialized executor-side by one
  projection, `customer_xml` — escape, concat, array_join;
  whole-stage-codegen friendly, zero Python in the hot path — written
  with the text sink (one part file per partition, no driver
  materialization). The record expression is SQL text built from the
  schema: a projection spelled as text costs one JVM call, where the
  Column DSL paid a py4j round trip for every function, alias, field
  access and lambda variable (about 1,100 for this renderer), and
  Catalyst parses both spellings to the same tree. Attribute values
  also escape tab, newline and carriage return, so they read back
  exactly.
- **envelope (the O(1) side)**: one renderer, `_envelope`, writes the
  declaration, the root start tag (nsmap, then the root attributes:
  prefixed keys or ``read_root_attrs``' Clark keys, values escaped;
  ``xml:`` and the export's own ``xmlns:*`` declarations bind the
  namespaces nsmap lacks) and the end tag for all three writers. The
  document is an ordered file set: header part, record parts, footer
  part. `write_xml_document_manifest` is the scale mode: the file set
  plus a manifest listing the parts relative to its own directory, so
  the document can move; envelope assembly writes O(1) bytes + one
  manifest line per part (no record byte touches the driver), and the
  final stitch — when one physical file is truly needed — is the
  storage layer's primitive (`hdfs concat` / S3 multipart compose),
  handed to `compose_manifest` as a callable. `read_manifest_document`
  consumes the file set directly, so most readers never compose.
  `write_xml_document` is the
  reference-parity single file: the same file set, stream-concatenated
  through the driver by `compose_manifest`'s default and then deleted —
  a single-writer ceiling at 100 TB. `write_xml_document_sharded` emits
  the header and footer as rows around each shard's records, so every
  shard is a complete document written executor-side.

Reading is one record parse, `read_records`: the text is split at
record boundaries (`record_fragments`, its gate SQL text too) and each
record parsed with ``from_xml`` under an explicit schema. The text
source splits one large file across tasks, where Spark's native XML
source reads a file as one split. The CLI's export scan and
`read_manifest_document` both read through it. A record's namespaced
attributes parse without the envelope's declarations (``dt:dt`` →
struct field ``_dt:dt``). `read_xml_document` keeps the native source
for whole documents.
"""

from __future__ import annotations

import glob
import os
import re
import shutil

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T

from pro_etl_spark.sqltext import ident, quote

#: the reference's namespace map (migrate.py:72-75)
ENFINITY_NSMAP = {
    "i": "http://www.intershop.com/xml/ns/intershop/customer/impex/7.3",
    "dt": "http://www.intershop.com/xml/ns/enfinity/6.5/core/impex-dt",
    "xsi": "http://www.w3.org/2001/XMLSchema-instance",
}

#: the namespace the ``xml`` prefix is bound to without a declaration
XML_NS = "http://www.w3.org/XML/1998/namespace"


#: XML 1.0 escapes for element text, in the order applied (ampersands
#: first). Attribute values also escape tab, newline and carriage
#: return, which a parser would otherwise normalize to spaces.
_TEXT_ENTITIES = (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"))
_ATTR_ENTITIES = _TEXT_ENTITIES + (("\t", "&#9;"), ("\n", "&#10;"), ("\r", "&#13;"))

_NL = quote("\n")


def xml_escape(expr: str, entities=_TEXT_ENTITIES) -> str:
    """SQL text escaping the string expression ``expr`` for XML element
    text, or with ``_ATTR_ENTITIES`` for an attribute value."""
    for ch, ent in entities:
        expr = f"replace({expr}, {quote(ch)}, {quote(ent)})"
    return expr


def _cat(*parts: str) -> str:
    return f"concat({', '.join(parts)})"


def _attrs_xml(arr: str, indent: str) -> str:
    """<custom-attributes> block for an array<struct<name,dt,value>>
    (attribute shape per migrate.py:161,195,211: name + dt:dt + text)."""
    item = _cat(
        quote(f'{indent}  <custom-attribute name="'),
        xml_escape("_a.name", _ATTR_ENTITIES),
        quote('" dt:dt="'),
        xml_escape("_a.dt", _ATTR_ENTITIES),
        quote('">'),
        xml_escape("_a.value"),
        quote("</custom-attribute>"),
    )
    block = _cat(
        quote(f"{indent}<custom-attributes>\n"),
        f"array_join(transform({arr}, _a -> {item}), {_NL})",
        quote(f"\n{indent}</custom-attributes>"),
    )
    empty = quote(f"{indent}<custom-attributes/>")
    return f"CASE WHEN size({arr}) > 0 THEN {block} ELSE {empty} END"


def _user_xml(u: str, cred_fields: tuple[str, ...]) -> str:
    """<user> block for the canonical users element (SURVEY §1.2):
    business-partner-no attribute, user-groups set, custom-attributes,
    credentials (whatever fields survive the migration — the reference
    deletes only last-logged-in, keeping siblings, migrate.py:242-247),
    profile."""
    group = _cat(
        quote('      <user-group id="'), xml_escape("_g", _ATTR_ENTITIES), quote('"/>')
    )
    creds = []
    for f in cred_fields:
        c = f"{u}.credentials.{ident(f)}"
        el = f.replace("_", "-")
        text = _cat(quote(f"      <{el}>"), xml_escape(c), quote(f"</{el}>\n"))
        creds.append(f"CASE WHEN {c} IS NOT NULL THEN {text} ELSE {quote('')} END")
    cred_block = quote("")
    if creds:
        cat = _cat(*creds)
        block = _cat(quote("    <credentials>\n"), cat, quote("    </credentials>\n"))
        cred_block = f"CASE WHEN {cat} != {quote('')} THEN {block} ELSE {quote('')} END"
    return _cat(
        quote('  <user business-partner-no="'),
        xml_escape(f"{u}.business_partner_no", _ATTR_ENTITIES),
        quote('">\n    <default-customer>'),
        xml_escape(f"{u}.default_customer"),
        quote("</default-customer>\n    <user-groups>\n"),
        f"array_join(transform({u}.user_groups, _g -> {group}), {_NL})",
        quote("\n    </user-groups>\n"),
        _attrs_xml(f"{u}.custom_attributes", "    "),
        _NL,
        cred_block,
        quote("    <profile>\n      <creation-date>"),
        xml_escape(f"{u}.profile.creation_date"),
        quote("</creation-date>\n    </profile>\n  </user>"),
    )


def customer_xml(df: DataFrame) -> DataFrame:
    """Render each nested customer row (post-``apply_migration`` schema)
    to its ``<customer>`` element — a single-column DataFrame of XML
    text, computed entirely executor-side. The credentials fields to
    emit are discovered from the input schema (string fields only)."""
    users_t = df.schema["users"].dataType.elementType
    cred_fields: tuple[str, ...] = ()
    if "credentials" in users_t.fieldNames():
        cred_fields = tuple(
            f.name
            for f in users_t["credentials"].dataType.fields
            if f.dataType.simpleString() == "string"
        )
    rec = _cat(
        quote('<customer id="'),
        xml_escape("id", _ATTR_ENTITIES),
        quote('">\n'),
        _attrs_xml("custom_attributes", "  "),
        _NL,
        f"array_join(transform(users, _u -> {_user_xml('_u', cred_fields)}), {_NL})",
        quote("\n</customer>"),
    )
    return df.selectExpr(f"{rec} AS value")


def _envelope(
    root_tag: str, root_attrs: dict[str, str] | None, nsmap: dict[str, str] | None
) -> tuple[str, str]:
    """The document's header (declaration and root start tag) and
    footer (root end tag), neither newline-terminated. Root attribute
    keys are either already prefixed (``xsi:schemaLocation``) or Clark
    keys as ``read_root_attrs`` returns them (``{uri}local``), which map
    to ``prefix:local`` through ``nsmap``, the implicit ``xml`` prefix
    or a ``xmlns:prefix`` declaration among the root attributes; a
    declaration for a prefix ``nsmap`` binds is written once, from
    ``nsmap``, and a Clark key whose namespace nothing binds is left
    out. Attribute values are escaped."""
    nsmap = nsmap or {}
    root_attrs = root_attrs or {}
    # nsmap first: its prefix wins when a namespace has two
    bound = {**nsmap, "xml": XML_NS}
    for k, u in root_attrs.items():
        if k.startswith("xmlns:"):
            bound.setdefault(k[6:], u)
    attrs = [f' xmlns:{p}="{u}"' for p, u in nsmap.items()]
    for k, v in root_attrs.items():
        if k.startswith("xmlns:") and k[6:] in nsmap:
            continue
        if k.startswith("{"):
            uri, local = k[1:].split("}")
            pfx = next((p for p, u in bound.items() if u == uri), None)
            if not pfx:
                continue
            k = f"{pfx}:{local}"
        for ch, ent in _ATTR_ENTITIES:
            v = v.replace(ch, ent)
        attrs.append(f' {k}="{v}"')
    header = f'<?xml version="1.0" encoding="UTF-8"?>\n<{root_tag}{"".join(attrs)}>'
    return header, f"</{root_tag}>"


def _write_file_set(
    records: DataFrame,
    out_dir: str,
    root_tag: str,
    root_attrs: dict[str, str] | None,
    nsmap: dict[str, str] | None,
) -> list[str]:
    """Write the document as its ordered file set under ``out_dir``:
    ``00_header.xml``, the record parts exactly as the text sink wrote
    them to ``parts/``, and ``zz_footer.xml``. Returns the paths in
    document order."""
    records.write.mode("overwrite").text(os.path.join(out_dir, "parts"))
    header, footer = _envelope(root_tag, root_attrs, nsmap)
    first = os.path.join(out_dir, "00_header.xml")
    last = os.path.join(out_dir, "zz_footer.xml")
    for path, text in ((first, header), (last, footer)):
        with open(path, "w", encoding="utf-8") as w:
            w.write(text + "\n")
    parts = sorted(glob.glob(os.path.join(out_dir, "parts", "part-*")))
    return [first, *parts, last]


def _concat(paths: list[str], out_file: str) -> None:
    """Stream-copy ``paths`` into ``out_file`` in order through this
    process."""
    with open(out_file, "w", encoding="utf-8") as w:
        for p in paths:
            with open(p, "r", encoding="utf-8") as r:
                shutil.copyfileobj(r, w)


def _manifest_paths(manifest_path: str) -> list[str]:
    """The manifest's parts in document order; a relative entry is
    resolved against the manifest's own directory."""
    base = os.path.dirname(manifest_path)
    with open(manifest_path, "r", encoding="utf-8") as r:
        return [os.path.join(base, ln.strip()) for ln in r if ln.strip()]


def write_xml_document(
    records: DataFrame,
    out_file: str,
    root_tag: str = "enfinity",
    root_attrs: dict[str, str] | None = None,
    nsmap: dict[str, str] | None = None,
) -> str:
    """Write a single enveloped XML document: the manifest document's
    file set, staged in ``<out_file>.parts/``, stream-concatenated
    through the driver into ``out_file`` (O(1) driver memory;
    migrate.py:274-298 fidelity — declaration, nsmap, root attrs,
    pretty records). The staging directory is removed once
    ``out_file`` is written."""
    staging = out_file + ".parts"
    _concat(_write_file_set(records, staging, root_tag, root_attrs, nsmap), out_file)
    shutil.rmtree(staging)
    return out_file


def write_xml_document_manifest(
    records: DataFrame,
    out_dir: str,
    root_tag: str = "enfinity",
    root_attrs: dict[str, str] | None = None,
    nsmap: dict[str, str] | None = None,
) -> str:
    """Storage-layer-compose form of ``write_xml_document`` — the 100×
    answer to the single-document envelope (VERDICT r10 #6). The
    document is materialized as an ORDERED FILE SET: an O(1)-byte
    header part (declaration + root open tag), the distributed record
    parts exactly as the text sink wrote them, and an O(1)-byte footer
    part — plus a MANIFEST file listing the parts in document order,
    relative to the manifest's directory.
    NO record byte moves through the driver: envelope assembly is two
    tiny files and one manifest line per part, flat in data volume by
    construction (and measured so — see tests/test_xml_io.py).

    When a consumer truly needs one physical file, the stitch is the
    storage layer's primitive — ``hdfs concat`` splices blocks without
    copying, S3 multipart compose assembles from uploaded parts —
    which ``compose_manifest`` accepts as a callable; its local
    stream-copy default exists only for filesystems (like this
    sandbox's) that lack one. Consumers that can read a file set never
    compose at all: ``read_manifest_document`` parses records straight
    off the parts and envelope attrs off the header.

    Returns the manifest path."""
    paths = _write_file_set(records, out_dir, root_tag, root_attrs, nsmap)
    manifest = os.path.join(out_dir, "MANIFEST")
    with open(manifest, "w", encoding="utf-8") as w:
        w.write("\n".join(os.path.relpath(p, out_dir) for p in paths) + "\n")
    return manifest


def compose_manifest(manifest_path: str, out_file: str, concat=None) -> str:
    """Stitch a manifest's ordered parts into one physical file.

    ``concat`` is the storage-layer primitive — signature
    ``concat(paths: list[str], out_file: str)`` — e.g. an ``hdfs
    concat`` / S3-multipart-compose binding that splices blocks
    without streaming them through any single node. The default is a
    local stream-copy fallback (the only primitive a plain local FS
    offers); at scale, pass the real one."""
    (concat or _concat)(_manifest_paths(manifest_path), out_file)
    return out_file


def record_fragments(
    spark: SparkSession, paths: str | list[str], row_tag: str = "customer"
) -> DataFrame:
    """One-record XML strings (column ``xml``) cut out of XML text at
    the ``</row_tag>`` end tags, in file order.

    The text source reads with ``lineSep = "</row_tag>"``. It is
    splittable, and its record reader gives each chunk to exactly one
    split even when a split boundary falls inside the chunk or the
    delimiter, so a large file parses on many tasks. Each chunk keeps
    the text from its first ``<row_tag`` start tag on and gets the end
    tag back; chunks without a start tag (the envelope's tail) are
    dropped.

    The cut is exact for well-formed XML: ``<`` is escaped in text and
    attribute values, so a literal end tag is a real one unless it sits
    in a comment, CDATA section or DOCTYPE (``<!``) or a processing
    instruction (``<?``). Those, a self-closing ``<row_tag/>``, an end
    tag with whitespace before ``>``, and a second start tag in one
    chunk fail the read with ``raise_error`` naming the file and the
    construct. The gate is part of the filter that drops the empty
    chunks, so it costs no extra pass."""
    close = f"</{row_tag}>"
    tag = re.escape(row_tag)
    start = f"<{tag}[\\s>/]"
    start_tag = (
        f"<{tag}(?:\\s+[^\\s=/>]+\\s*=\\s*(?:\"[^\"]*\"|'[^']*'))*\\s*(/?)>"
    )
    declaration = quote("\\A\\uFEFF?\\s*<\\?xml\\s")
    pi, spaced_end = quote("<\\?"), quote(f"</{tag}\\s")
    # literal tests guard the <? and end-tag regexes, which then run
    # only on the chunks that could hold the construct
    rules = [
        (f"contains(value, {quote('<!')})", "a comment, CDATA section or DOCTYPE (<!)"),
        (
            f"contains(value, {quote('<?')}) AND regexp_count(value, {pi}) > "
            f"CASE WHEN value RLIKE {declaration} THEN 1 ELSE 0 END",
            "a processing instruction (<?) after the XML declaration",
        ),
        (
            f"regexp_extract(value, {quote(start_tag)}, 1) = {quote('/')}",
            f"a self-closing <{row_tag}/> element",
        ),
        (
            f"contains(value, {quote('</' + row_tag)}) AND value RLIKE {spaced_end}",
            f"an end tag with whitespace before '>' (</{row_tag} >)",
        ),
        (
            f"regexp_count(value, {quote(start)}) > 1",
            f"more than one <{row_tag}> start tag before one {close}",
        ),
    ]
    unsafe = "CASE " + " ".join(f"WHEN {c} THEN {quote(m)}" for c, m in rules) + " END"
    keep = (
        f"CASE WHEN {unsafe} IS NULL THEN value RLIKE {quote(start)} "
        f"ELSE raise_error(concat({quote('XML record split: ')}, _metadata.file_path, "
        f"{quote(' holds ')}, {unsafe}, {quote(f', which a split on {close} cannot read')})) END"
    )
    return (
        spark.read.option("lineSep", close)
        .text(paths)
        .where(keep)
        .selectExpr(
            f"concat(substr(value, regexp_instr(value, {quote(start)})), {quote(close)}) AS xml"
        )
    )


def read_records(
    spark: SparkSession,
    paths: str | list[str],
    schema: T.StructType,
    row_tag: str = "customer",
) -> DataFrame:
    """The ``<row_tag>`` records of XML text, one row per record with
    ``schema``'s fields as columns, in file order: ``record_fragments``
    cuts the text at the end tags and ``from_xml`` parses each record
    under ``schema``. A record's prefixed attributes (``dt:dt``) need no
    namespace binding; they parse to ``_``-prefixed fields
    (``_dt:dt``)."""
    return (
        record_fragments(spark, paths, row_tag)
        .selectExpr(f"from_xml(xml, {quote(schema.json())}) AS r")
        .selectExpr("r.*")
    )


def read_manifest_document(
    spark: SparkSession,
    manifest_path: str,
    schema: T.StructType,
    row_tag: str = "customer",
) -> tuple[str, dict[str, str], DataFrame]:
    """Read a manifest document WITHOUT composing it: root tag +
    envelope attrs come from the O(1) header part; records come
    straight off the distributed record parts through ``read_records``
    under ``schema``, the fields of ONE record (the native XML source
    can't read root-less fragments: one root per file, it
    corrupt-records everything after the first element). Fully
    distributed, no Python in the row path, and the single physical
    file never exists — this is the consumption path at scale. A
    document without records reads as zero rows.

    Returns (root_tag, root_attrs, records)."""
    paths = _manifest_paths(manifest_path)
    root_tag, root_attrs = read_root_attrs(paths[0])
    return root_tag, root_attrs, read_records(spark, paths[1:-1], schema, row_tag)


def write_xml_document_sharded(
    records: DataFrame,
    out_dir: str,
    shards: int,
    shard: Column,
    root_tag: str = "enfinity",
    root_attrs: dict[str, str] | None = None,
    nsmap: dict[str, str] | None = None,
) -> DataFrame:
    """Sharded XML sink — the 100 TB escape from the single-writer
    ceiling of ``write_xml_document`` (which stream-concatenates every
    part through ONE driver file handle; correct for the reference's
    single-document contract, a bottleneck for a corpus-sized export).

    Each shard becomes one complete well-formed XML document written
    entirely executor-side: each record lands in the shard ``shard``
    names, the envelope header and footer are emitted as ordinary ROWS
    (ord 0 / 2 around the records at ord 1), and a
    ``repartition(shards, shard)`` + ``sortWithinPartitions`` +
    ``partitionBy(shard)`` text write makes each shard directory hold
    exactly one part file whose line order is header → records →
    footer. No collect, no driver concatenation — the write
    parallelism IS the shard count.

    Returns the per-shard manifest (shard, n_records) — O(shards)
    rows, the same model-state-sized commit record
    ``sink_manifest_commit`` uses (a reader lists shard dirs, not
    in-flight files).

    ``shard`` is the Column giving each record's shard number, which
    must lie in [0, shards): a null or out-of-range value fails the
    write. Callers derive it from a stable id so re-runs land records
    in the same shard — ``F.pmod(F.hash(id), F.lit(shards))``, or
    plain arithmetic such as ``id % shards`` where another SQL engine
    must recompute the placement (Spark's Murmur3 ``hash()`` has no
    twin there)."""
    header, footer = _envelope(root_tag, root_attrs, nsmap)
    col = records.columns[0]
    # loud range gate (ADVICE_r11): a null or out-of-range assignment
    # (e.g. a non-numeric id cast to int -> NULL) must fail the job,
    # not silently land records in bogus partition dirs the manifest
    # never accounts for
    a = shard.cast("int")
    assign = F.when(a.isNotNull() & (a >= 0) & (a < shards), a).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"write_xml_document_sharded: shard outside [0, {shards}): "),
                F.coalesce(shard.cast("string"), F.lit("NULL")),
            )
        )
    )
    body = records.select(
        assign.alias("shard"),
        F.lit(1).alias("ord"),
        F.col(col).alias("line"),
    )
    spark = records.sparkSession
    shard_ids = spark.range(shards).select(F.col("id").cast("int").alias("shard"))
    envelope = shard_ids.select(
        "shard", F.lit(0).alias("ord"), F.lit(header).alias("line")
    ).unionByName(
        shard_ids.select("shard", F.lit(2).alias("ord"), F.lit(footer).alias("line"))
    )
    (
        body.unionByName(envelope)
        .repartition(shards, "shard")
        .sortWithinPartitions("shard", "ord")
        # the text source allows exactly one data column; dropping ord
        # AFTER the sort keeps the physical row order (Project preserves
        # per-partition order, and the surviving [shard] prefix already
        # satisfies the dynamic-partition write's ordering requirement,
        # so no re-sort is planned)
        .select("shard", "line")
        .write.mode("overwrite")
        .partitionBy("shard")
        .text(out_dir)
    )
    return body.groupBy("shard").agg(F.count("*").alias("n_records"))


def read_xml_document(spark: SparkSession, path: str, row_tag: str = "customer") -> DataFrame:
    """Scan the records of an XML document with the native source
    (namespaced attrs land as ``_``-prefixed fields, e.g. ``_dt:dt``)."""
    return spark.read.format("xml").option("rowTag", row_tag).load(path)


def read_root_attrs(path: str) -> tuple[str, dict[str, str]]:
    """Driver-side peek at the envelope, without loading the document
    body: the root tag and its attributes, namespace-expanded keys,
    after the prefixed namespaces the root declares as ``xmlns:prefix``
    keys."""
    import xml.etree.ElementTree as ET

    declared = {}
    for event, item in ET.iterparse(path, events=("start-ns", "start")):
        if event == "start-ns":
            prefix, uri = item
            if prefix:
                declared[f"xmlns:{prefix}"] = uri
            continue
        return item.tag, {**declared, **item.attrib}
    raise ValueError(f"no root element in {path}")
