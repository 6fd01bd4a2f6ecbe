"""``sqltext.quote`` and ``sqltext.ident`` name exactly what they are
given once Spark's parser reads them back."""

from __future__ import annotations

from pro_etl_spark.sqltext import ident, quote

AWKWARD = [
    "",
    "plain",
    "it's",
    "back\\slash",
    "\\'",
    "\\\\",
    "50%_\\%\\_",
    "\\u0041\\n",
    "line\nbreak\ttab\rreturn",
    '"double"',
    "`tick`",
    "Ö;--",
]


def test_quote_round_trips(spark):
    row = spark.range(1).selectExpr(*[f"{quote(s)} AS c{i}" for i, s in enumerate(AWKWARD)]).first()
    assert list(row) == AWKWARD


def test_ident_names_any_column(spark):
    names = ["a b", "x`y", "_dt:dt", "custom-attributes"]
    df = spark.range(1).selectExpr(*[f"id AS {ident(n)}" for n in names])
    assert df.columns == names
    assert df.selectExpr(*[ident(n) for n in names]).columns == names
