"""Quoting for Spark SQL expression strings.

The log → cube refresh path (parse, reconstruct, usage, incremental)
builds its expressions as SQL text (``F.expr`` / ``selectExpr`` /
``filter(str)``): the JVM parses one string into the same Catalyst
tree the Column API assembles one py4j round trip at a time. Regexes,
cluster names and column names enter that text only through these
quoters, so no value can change the expression around it.
"""

from __future__ import annotations


def literal(s: str | None) -> str:
    """``s`` as a Spark SQL string literal (``NULL`` for None).
    Backslash escapes, as the parser reads them under its default
    ``spark.sql.parser.escapedStringLiterals=false``."""
    if s is None:
        return "NULL"
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"
