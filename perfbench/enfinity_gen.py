"""Seeded generator for the migration job's inputs: an Enfinity customer
XML export and a CSV migration list, shaped like the fixture of
``tests/test_migrate_cli.py`` and carrying all of its edge cases:

- a duplicated mapping key (the first row wins);
- not-found ids, some of them non-ASCII;
- an empty delivery_day (defaults to ``-3D``) and an invalid one;
- false and empty mandatory_reference values;
- a login equal to the old customer id;
- customers with two users;
- ``&``, ``<`` and ``"`` in values.

Besides the files, the generator computes what a correct run must
produce, independently of the engine: the reconciliation-log counts per
(status, reason), found/total, and the expected delta records rendered
in the engine's XML layout with the run timestamp replaced by
``RUN_TS_PLACEHOLDER``. ``record_digest`` turns a record list into an
order-insensitive digest, so a run's output can be compared with the
expectation without sorting either side.

The same arguments give byte-identical files.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

NSMAP = {
    "i": "http://www.intershop.com/xml/ns/intershop/customer/impex/7.3",
    "dt": "http://www.intershop.com/xml/ns/enfinity/6.5/core/impex-dt",
    "xsi": "http://www.w3.org/2001/XMLSchema-instance",
}
SCHEMA_LOCATION = NSMAP["i"] + " customer.xsd"
ROOT_ATTRS = {"xsi:schemaLocation": SCHEMA_LOCATION, "major": "7", "minor": "3"}

CSV_HEADER = (
    "current_customer_id,new_customer_id,new_source_id,new_store_id,"
    "new_store_name,mandatory_reference,delivery_day"
)

REASON_OK = "Found in source XML file"
REASON_INVALID = "Invalid value! Please check CSV input file (delivery_day)"
REASON_NOT_FOUND = "Not found in source XML"
RUN_TS_PLACEHOLDER = "RUN_TS_PLACEHOLDER"

_VALID_DAYS = ("-1D", "-2D", "-4D", "-5D", "-7D", "-9D")
_INVALID_DAYS = ("-12D", "3D", "-0D")
_OLD_STORE_NAMES = ('Old Store', 'Smith & Sons', 'Store "Nord"', 'A<B Parts')
# no '"' here: the mapping reader does not take RFC 4180 doubled quotes
# (a quoted field keeps its quotes), so such a name would not round-trip
_NEW_STORE_NAMES = ("New Store Nine", "Berg & Co", "Lager <Syd>", "Nya & <City>")


def _esc_text(s: str) -> str:
    """Escaping used when writing the INPUT document (minimal, as a
    real exporter does: quotes stay literal in element text)."""
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _esc_attr(s: str) -> str:
    return _esc_text(s).replace('"', "&quot;")


def _esc_out(s: str) -> str:
    """The engine's output escaping (&, <, >, " in that order)."""
    return (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )


@dataclass
class User:
    bp_no: str
    default_customer: str
    groups: list[str]
    attrs: list[tuple[str, str, str]]
    login: str | None
    last_logged_in: str | None
    creation_date: str


@dataclass
class Customer:
    cid: str
    attrs: list[tuple[str, str, str]]
    users: list[User]


@dataclass
class MappingRow:
    cur: str
    new: str
    source: str
    store: str
    store_name: str
    mandatory: str  # "" reads as NULL
    delivery: str  # "" reads as NULL


@dataclass
class Expected:
    total: int
    found: int
    log_counts: dict[tuple[str, str], int]
    records: list[str] = field(repr=False)

    @property
    def n_records(self) -> int:
        return len(self.records)

    @property
    def digest(self) -> str:
        return record_digest(self.records)


@dataclass
class Generated:
    customers: list[Customer]
    mapping: list[MappingRow]
    expected: Expected


def _make_customer(rng: random.Random, i: int) -> Customer:
    cid = str(1_000_000 + i)
    attrs: list[tuple[str, str, str]] = []
    if rng.random() < 0.85:
        attrs.append(("MEK_Store_Id", "string", f"OLD{rng.randrange(50)}"))
        attrs.append(("MEK_Store_Name", "string", rng.choice(_OLD_STORE_NAMES)))
        attrs.append(("MEK_DataAreaID", "string", f"OLDSRC{rng.randrange(5)}"))
    if rng.random() < 0.3:
        attrs.append(("MEK_DefaultDeliveryday", "string", "-5D"))
    if rng.random() < 0.2:
        attrs.append(("MEK_WarehouseID", "string", f"WH{rng.randrange(9)}"))
    if rng.random() < 0.2:
        attrs.append(("MEK_Company", "string", rng.choice(_OLD_STORE_NAMES)))
    n_users = 2 if rng.random() < 0.2 else 1
    users = []
    for u in range(n_users):
        groups = rng.choice(
            (["CG_Other"], ["CG_Mekonomen"], ["CG_Other", "CG_B2B"])
        )
        uattrs: list[tuple[str, str, str]] = []
        if rng.random() < 0.5:
            uattrs.append(("LastOrderDate", "string", f"2023-0{rng.randrange(1, 10)}-01"))
        if rng.random() < 0.5:
            uattrs.append(("Keep", "string", rng.choice(("yes", 'a & "b"', "x<y"))))
        if rng.random() < 0.05:
            # a user-level value equal to the old id is id-rewritten too
            uattrs.append(("Ref", "string", cid))
        r = rng.random()
        login = cid if r < 0.05 else (None if r < 0.08 else f"u{cid}-{u}")
        users.append(
            User(
                bp_no=cid if u == 0 else f"BP{cid}-{u}",
                default_customer=cid,
                groups=list(groups),
                attrs=uattrs,
                login=login,
                last_logged_in=(
                    f"2023-06-0{rng.randrange(1, 10)}T08:00:00"
                    if rng.random() < 0.6
                    else None
                ),
                creation_date=f"20{rng.randrange(10, 23)}-05-05T00:00:00+00:00",
            )
        )
    return Customer(cid=cid, attrs=attrs, users=users)


def _make_row(rng: random.Random, cur: str, new: str) -> MappingRow:
    r = rng.random()
    if r < 0.05:
        delivery = ""
    elif r < 0.10:
        delivery = rng.choice(_INVALID_DAYS)
    else:
        delivery = rng.choice(_VALID_DAYS)
    return MappingRow(
        cur=cur,
        new=new,
        source=f"SRC{rng.randrange(10)}",
        store=f"ST{rng.randrange(100)}",
        store_name=rng.choice(_NEW_STORE_NAMES),
        mandatory=rng.choice(("TRUE", "true", "false", "False", "")),
        delivery=delivery,
    )


def generate(n_customers: int, mapped_frac: float, seed: int) -> Generated:
    """Build customers, mapping rows and the expected outcome.

    ``mapped_frac`` of the customers get a mapping row; about 1% of the
    mapping rows (at least 2) name ids absent from the export, and about
    1% of the mapped ids (at least 1) are listed twice with a different
    second row, which must lose."""
    rng = random.Random(seed)
    customers = [_make_customer(rng, i) for i in range(n_customers)]
    mapped = [c for c in customers if rng.random() < mapped_frac] or customers[:1]
    rows = [_make_row(rng, c.cid, "N" + c.cid) for c in mapped]
    n_missing = max(2, len(rows) // 100)
    for k in range(n_missing):
        cur = f"{9_000_000 + k}Ö{rng.randrange(100)}" if k % 2 == 0 else str(9_500_000 + k)
        rows.append(_make_row(rng, cur, f"NX{k}"))
    rng.shuffle(rows)
    n_dupes = max(1, len(mapped) // 100)
    for c in rng.sample(mapped, n_dupes):
        # appended after every first row, so the original always wins
        rows.append(_make_row(rng, c.cid, "DUPE" + c.cid))
    return Generated(customers, rows, _expected(customers, rows))


# -- expected outcome (an independent model of migrate_cli.run) --------


def _delivery(row: MappingRow) -> str:
    return row.delivery or "-3D"


def _delivery_valid(d: str) -> bool:
    return len(d) == 3 and d[0] == "-" and d[1] in "123456789" and d[2] == "D"


def _expected(customers: list[Customer], rows: list[MappingRow]) -> Expected:
    by_id = {c.cid: c for c in customers}
    first: dict[str, MappingRow] = {}
    for r in rows:
        first.setdefault(r.cur, r)
    counts: dict[tuple[str, str], int] = {}
    records = []
    for cur, r in first.items():
        c = by_id.get(cur)
        if c is None:
            key = ("Not OK", REASON_NOT_FOUND)
        elif not _delivery_valid(_delivery(r)):
            key = ("Not OK", REASON_INVALID)
        else:
            key = ("OK", REASON_OK)
        counts[key] = counts.get(key, 0) + 1
        if c is not None:
            # advisory mode: rows failing validation are still migrated
            records.append(_render(_migrate(c, r)))
    found = sum(n for (s, reason), n in counts.items() if reason != REASON_NOT_FOUND)
    return Expected(len(first), found, counts, records)


def _upsert(attrs, name, dt, value):
    if any(a[0] == name for a in attrs):
        return [(n, dt, value) if n == name else (n, d, v) for n, d, v in attrs]
    return attrs + [(name, dt, value)]


def _migrate(c: Customer, r: MappingRow) -> Customer:
    def new_value(name: str, value: str) -> str:
        if name in ("MEK_Store_Id", "MEK_WarehouseID"):
            return r.store
        if name == "MEK_Store_Name":
            return r.store_name
        if name in ("MEK_DataAreaID", "MEK_SourceID"):
            return r.source
        return value

    attrs = [(n, d, new_value(n, v)) for n, d, v in c.attrs]
    attrs = _upsert(attrs, "MEK_DefaultDeliveryday", "string", _delivery(r))
    if r.mandatory:
        attrs = _upsert(
            attrs, "MEK_CustomerOrderNumberMandatory", "boolean", r.mandatory.lower()
        )

    def sub(s):
        return r.new if s == c.cid else s

    users = []
    for u in c.users:
        groups = u.groups if "CG_Mekonomen" in u.groups else u.groups + ["CG_Mekonomen"]
        users.append(
            User(
                bp_no=sub(u.bp_no),
                default_customer=sub(u.default_customer),
                groups=groups,
                attrs=[(n, d, sub(v)) for n, d, v in u.attrs if n != "LastOrderDate"],
                login=sub(u.login),
                last_logged_in=None,
                creation_date=RUN_TS_PLACEHOLDER,
            )
        )
    return Customer(cid=r.new, attrs=attrs, users=users)


def _render_attrs(attrs, indent: str) -> str:
    if not attrs:
        return f"{indent}<custom-attributes/>"
    inner = "\n".join(
        f'{indent}  <custom-attribute name="{_esc_out(n)}" dt:dt="{_esc_out(d)}">'
        f"{_esc_out(v)}</custom-attribute>"
        for n, d, v in attrs
    )
    return f"{indent}<custom-attributes>\n{inner}\n{indent}</custom-attributes>"


def _render(c: Customer) -> str:
    """One ``<customer>`` record in the engine's output layout."""
    users = []
    for u in c.users:
        groups = "\n".join(f'      <user-group id="{_esc_out(g)}"/>' for g in u.groups)
        creds = ""
        if u.login is not None:
            creds = (
                "    <credentials>\n"
                f"      <login>{_esc_out(u.login)}</login>\n"
                "    </credentials>\n"
            )
        users.append(
            f'  <user business-partner-no="{_esc_out(u.bp_no)}">\n'
            f"    <default-customer>{_esc_out(u.default_customer)}</default-customer>\n"
            f"    <user-groups>\n{groups}\n    </user-groups>\n"
            f"{_render_attrs(u.attrs, '    ')}\n"
            f"{creds}"
            f"    <profile>\n      <creation-date>{_esc_out(u.creation_date)}"
            "</creation-date>\n    </profile>\n  </user>"
        )
    return (
        f'<customer id="{_esc_out(c.cid)}">\n'
        f"{_render_attrs(c.attrs, '  ')}\n" + "\n".join(users) + "\n</customer>"
    )


def record_digest(records) -> str:
    """Order-insensitive digest of record texts: sha256 over the sorted
    per-record md5s, so duplicates and omissions both change it."""
    hs = sorted(hashlib.md5(r.encode("utf-8")).hexdigest() for r in records)
    return hashlib.sha256("".join(hs).encode("ascii")).hexdigest()


def split_records(document_body: str, run_ts: str) -> list[str]:
    """Split the record section of a delta document into records, with
    the run timestamp normalized to ``RUN_TS_PLACEHOLDER``."""
    body = document_body.replace(run_ts, RUN_TS_PLACEHOLDER)
    return [r + "</customer>" for r in body.split("</customer>\n") if r.strip()]


# -- writers -----------------------------------------------------------


def export_xml(customers: list[Customer]) -> str:
    ns = "".join(f' xmlns:{p}="{u}"' for p, u in NSMAP.items())
    ra = "".join(f' {k}="{v}"' for k, v in ROOT_ATTRS.items())
    out = [f'<?xml version="1.0" encoding="UTF-8"?>\n<enfinity{ns}{ra}>\n']

    def attrs_xml(attrs, indent):
        if not attrs:
            return f"{indent}<custom-attributes/>\n"
        body = "".join(
            f'{indent}  <custom-attribute name="{_esc_attr(n)}" dt:dt="{d}">'
            f"{_esc_text(v)}</custom-attribute>\n"
            for n, d, v in attrs
        )
        return f"{indent}<custom-attributes>\n{body}{indent}</custom-attributes>\n"

    for c in customers:
        out.append(f'  <customer id="{_esc_attr(c.cid)}">\n')
        out.append(attrs_xml(c.attrs, "    "))
        for u in c.users:
            groups = "".join(f'        <user-group id="{g}"/>\n' for g in u.groups)
            creds = ""
            if u.login is not None:
                creds += f"        <login>{_esc_text(u.login)}</login>\n"
            if u.last_logged_in is not None:
                creds += f"        <last-logged-in>{u.last_logged_in}</last-logged-in>\n"
            out.append(
                f'    <user business-partner-no="{_esc_attr(u.bp_no)}">\n'
                f"      <default-customer>{_esc_text(u.default_customer)}</default-customer>\n"
                f"      <user-groups>\n{groups}      </user-groups>\n"
                + attrs_xml(u.attrs, "      ")
                + (f"      <credentials>\n{creds}      </credentials>\n" if creds else "")
                + f"      <profile>\n        <creation-date>{u.creation_date}</creation-date>\n"
                "      </profile>\n    </user>\n"
            )
        out.append("  </customer>\n")
    out.append("</enfinity>\n")
    return "".join(out)


def _csv_field(s: str) -> str:
    if any(ch in s for ch in ',"\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def mapping_csv(rows: list[MappingRow]) -> str:
    lines = [CSV_HEADER]
    for r in rows:
        lines.append(
            ",".join(
                _csv_field(v)
                for v in (
                    r.cur, r.new, r.source, r.store, r.store_name, r.mandatory, r.delivery,
                )
            )
        )
    return "\n".join(lines) + "\n"


def write_inputs(g: Generated, xml_path: str, csv_path: str) -> tuple[int, int]:
    """Write both files; returns their sizes in bytes."""
    xml = export_xml(g.customers).encode("utf-8")
    csv = mapping_csv(g.mapping).encode("utf-8")
    with open(xml_path, "wb") as f:
        f.write(xml)
    with open(csv_path, "wb") as f:
        f.write(csv)
    return len(xml), len(csv)
