"""SQL-fragment encoding for the parsed-SQL operator projections.

Operators assemble their projections as SQL strings (one parse per
projection instead of one py4j round trip per Column node). Every
column name or caller value that enters such a string goes through this
module, so quoting is decided in exactly one place:

- ``ident``: a column name as a backquoted identifier;
- ``lit``: a Python scalar as a typed SQL literal;
- ``with_sql``: add or replace columns given as SQL, with ``withColumn``
  semantics, in one ``selectExpr``.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from numbers import Integral

from pyspark.sql import DataFrame


def ident(name: str) -> str:
    """``name`` as a backquoted identifier. An embedded backtick is
    doubled, so any name (dots, spaces, backticks) parses back to the
    single column it names."""
    return "`%s`" % name.replace("`", "``")


def lit(value: str | bool | int | float) -> str:
    """``value`` as a SQL literal of the matching type: STRING (backslash
    and quote escaped), BOOLEAN, INT/BIGINT, or DOUBLE (``D``-suffixed: a
    bare ``0.5`` parses as DECIMAL; non-finite values go through a string
    cast). Any other type raises ``TypeError`` instead of guessing."""
    if isinstance(value, str):
        return "'%s'" % value.replace("\\", "\\\\").replace("'", "\\'")
    if isinstance(value, bool):  # before Integral: bool is an int
        return "true" if value else "false"
    if isinstance(value, Integral):
        return str(int(value))
    if isinstance(value, float):
        value = float(value)  # numpy >= 2 reprs float64 with its type name
        if math.isfinite(value):
            return f"{value!r}D"
        return f"CAST('{value!r}' AS DOUBLE)"
    raise TypeError(
        f"no SQL literal for {type(value).__name__} value {value!r}"
    )


def with_sql(
    df: DataFrame, keep: Sequence[str] | None = None, /, **cols: str
) -> DataFrame:
    """``df`` with each ``name=sql`` column added or replaced, as ONE
    ``selectExpr``: a column that already exists is replaced in place,
    a new one is appended (in keyword order). These are ``withColumns``
    semantics and plans, without the per-expression ``F.expr`` round
    trips that ``withColumns`` needs. Every expression reads the input
    columns, so none sees another's result.

    ``keep`` (default ``df.columns``) lists the passthrough columns, for
    a ``df`` that also carries working columns the result must drop."""
    keep = df.columns if keep is None else list(keep)
    exprs = [
        f"{cols[c]} AS {ident(c)}" if c in cols else ident(c) for c in keep
    ]
    exprs += [f"{sql} AS {ident(n)}" for n, sql in cols.items() if n not in keep]
    return df.selectExpr(*exprs)
