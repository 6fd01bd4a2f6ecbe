"""Quoting for expressions written as Spark SQL text.

The migrate pass spells its per-record expressions as SQL text: a
projection then costs one JVM call (``selectExpr`` / ``F.expr``), where
the Column DSL makes one py4j round trip per function, alias, field
access and lambda variable. Catalyst parses both spellings to the same
tree. Every constant enters the text through ``quote`` and every
schema-derived name through ``ident``; no data value is written into
the text.
"""

from __future__ import annotations


def quote(value: str) -> str:
    """A SQL string literal that parses back to exactly ``value`` (the
    default parser unescapes backslash sequences, so backslashes and
    single quotes are escaped; other characters, newlines included,
    stand as they are)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ident(name: str) -> str:
    """A backquoted SQL identifier naming exactly ``name``."""
    return "`" + name.replace("`", "``") + "`"
