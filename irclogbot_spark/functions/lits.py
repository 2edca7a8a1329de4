"""SQL-text construction: an expression built as ONE parsed string.

Every Column built through the DataFrame API is a py4j round trip: each
column reference, literal, operator, alias and function call is one
message (three for a ``F.<function>`` call), and every chained
``select``/``filter``/``withColumn`` re-analyzes the plan. A BM25
assembly over a few terms or a 16x64 literal table costs hundreds of
messages that way, and at small data that driver time IS the query's
latency. The same expression written as SQL text crosses once and is
parsed JVM-side into the same unresolved tree: ``DataFrame.filter(text)``
is one message, ``selectExpr(*texts)`` one per text plus five for the
list, ``F.expr(text)`` three.

When to use it: wherever a builder emits many columns, a long operator
tree, a literal table or a literal IN-list — the search hot path, pivots,
probe predicates, constant tables. A handful of Column calls off the hot
path may stay Columns where they read better.

The rule: every value and every caller-supplied name that enters SQL
text goes through one of the helpers below, never through raw string
formatting (a builder's own fixed column names are written backquoted),
and every composite sub-expression is parenthesized (:func:`sql_fold`
chains a binary operator), so the parsed tree has the Column
expression's exact shape, types and left-to-right order and Catalyst
plans it identically. Exactness:

- :func:`sql_double` is the Python float bit for bit: ``repr()`` (the
  shortest round-trip form) with the ``D`` suffix, which Spark's lexer
  hands to ``Double.parseDouble``; NaN and the infinities, which have no
  numeric literal, are ``CAST('NaN' AS DOUBLE)`` and the like (constant-
  folded to the literal ``F.lit`` makes). Integers are plain numerals:
  int when they fit in 32 bits, bigint otherwise, as ``F.lit`` types them.
- :func:`sql_string` is the exact string: backslash and quote escaped,
  everything else (newlines, non-ASCII) passed through.
- :func:`sql_ident` is the column ``F.col(name)`` resolves: a dotted path
  stays a nested-field path, and a backquoted part keeps its dots.
  :func:`sql_name` quotes one name as written, for ``AS`` aliases.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: the non-finite doubles, which SQL has no numeric literal for
_NON_FINITE = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def sql_double(x: float) -> str:
    x = float(x)
    if not math.isfinite(x):
        return f"CAST('{_NON_FINITE[repr(x)]}' AS DOUBLE)"
    return repr(x) + "D"


def sql_string(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_name(name: str) -> str:
    """One identifier, backquoted as written (an inner backquote
    doubled): the name ``Column.alias(name)`` gives."""
    return "`" + name.replace("`", "``") + "`"


def _attribute_parts(name: str) -> list[str]:
    """The name parts of ``F.col(name)``: Spark's attribute-name parse,
    where ``.`` separates nested fields outside backquotes and a
    doubled backquote inside them is one backquote."""
    parts, cur, quoted, i = [], [], False, 0
    while i < len(name):
        ch = name[i]
        if quoted:
            if ch != "`":
                cur.append(ch)
            elif name[i + 1 : i + 2] == "`":
                cur.append("`")
                i += 1
            else:
                quoted = False
                if name[i + 1 : i + 2] not in ("", "."):
                    raise ValueError(f"syntax error in attribute name: {name!r}")
        elif ch == "`":
            if cur:
                raise ValueError(f"syntax error in attribute name: {name!r}")
            quoted = True
        elif ch == ".":
            if i == 0 or name[i - 1] == "." or i == len(name) - 1:
                raise ValueError(f"syntax error in attribute name: {name!r}")
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if quoted:
        raise ValueError(f"syntax error in attribute name: {name!r}")
    return parts + ["".join(cur)]


def sql_ident(name: str) -> str:
    """The column ``F.col(name)`` resolves, as SQL text: each part of
    the (possibly dotted) name backquoted."""
    return ".".join(sql_name(p) for p in _attribute_parts(name))


def sql_value(v) -> str:
    """A Python scalar as the SQL literal ``F.lit(v)`` makes."""
    if v is None:
        return "NULL"
    if isinstance(v, int):  # bool too: True/False are SQL literals
        return str(v)
    if isinstance(v, float):
        return sql_double(v)
    if isinstance(v, str):
        return sql_string(v)
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")


def sql_fold(op: str, terms) -> str:
    """SQL text joining ``terms`` with the binary operator ``op`` (``+``,
    ``AND``, ...) left to right: the tree ``reduce`` over the Column
    operator builds, so a double sum keeps its addition order."""
    return reduce(lambda a, c: f"({a} {op} {c})", terms)


def sql_in(col: str, values) -> str:
    """``col IN (...)`` over literal ``values`` (one parsed predicate,
    where ``Column.isin`` sends three messages per value). SQL has no
    empty IN list: no values gives ``false``, which keeps the same rows
    as ``Column.isin([])`` wherever a predicate decides (a filter, a
    CASE branch)."""
    if not values:
        return "false"
    return f"({sql_ident(col)} IN ({', '.join(sql_value(v) for v in values)}))"


def lit_double_array(vals: list[float]) -> Column:
    return F.expr("array(" + ",".join(sql_double(x) for x in vals) + ")")


def lit_double_matrix(rows: list[list[float]]) -> Column:
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(sql_double(x) for x in r) + ")" for r in rows
        )
        + ")"
    )


def lit_long_array(vals: list[int]) -> Column:
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in vals) + ")")


def lit_long_matrix(rows: list[list[int]]) -> Column:
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{int(v)}L" for v in r) + ")" for r in rows
        )
        + ")"
    )


def lit_string_int_map(pairs: list[tuple[str, int]]) -> Column:
    """map<string,int> as one parsed expression — the broadcast-free
    lookup table for bounded vocabularies."""
    if not pairs:
        return F.expr("map()").cast("map<string,int>")
    body = ",".join(f"{sql_string(t)},{int(v)}" for t, v in pairs)
    return F.expr(f"map({body})")


def _ddl_fields(schema: str) -> list[tuple[str, str]]:
    """(name, type) pairs of a flat DDL schema; commas nested in
    ``<...>``/``(...)`` (map<k,v>, decimal(p,s)) stay with their type."""
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            name, typ = schema[start:i].strip().split(None, 1)
            fields.append((name.strip("`"), typ.strip()))
            start = i + 1
    return fields


def literal_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small relation from Python rows, built as ONE parsed SQL text.

    ``spark.createDataFrame(<python rows>)`` ships the rows to the JVM
    as a pickled RDD, so the frame is a LogicalRDD whose every
    execution runs a PythonRDD stage on Python workers. An inline
    ``VALUES`` table resolves to a LocalRelation instead: the rows are
    plan constants, like the F.expr literals above. Columns are cast
    to ``schema`` (flat DDL, e.g. ``"term string, df long"``); no rows
    gives the typed empty relation."""
    cols = ", ".join(
        f"CAST({f'col{i + 1}' if rows else 'NULL'} AS {typ}) AS {sql_name(name)}"
        for i, (name, typ) in enumerate(_ddl_fields(schema))
    )
    if not rows:
        return spark.sql(f"SELECT {cols} WHERE FALSE")
    values = ", ".join(
        "(" + ", ".join(sql_value(v) for v in row) + ")" for row in rows
    )
    return spark.sql(f"SELECT {cols} FROM VALUES {values}")
