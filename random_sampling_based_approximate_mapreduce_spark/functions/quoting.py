"""Quoting for the engine's Spark SQL expression strings.

The hot query builders are written as SQL text that the JVM parses in
one call (``selectExpr``, ``where(str)``, ``F.expr``) instead of trees of
``pyspark.sql.functions`` calls: each function call or Column operator
is a py4j round trip or several, plus PySpark 4's call-site capture.
Every name and literal such a builder splices into SQL goes through the
helpers here, so the text parses to the same plan the Column API builds.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """``value`` as a single-quoted SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_double(x: float) -> str:
    """``x`` as a DOUBLE literal, the type ``F.lit(x)`` gives a float.

    Spark SQL reads a bare ``0.5`` as DECIMAL(1,1), which coerces the
    expression around it differently; the ``D`` suffix keeps it DOUBLE.
    ``repr`` is the shortest string that reads back as the same double.
    """
    return repr(float(x)) + "D"
