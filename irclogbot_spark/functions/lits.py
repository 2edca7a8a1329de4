"""Constant-table literals built as ONE parsed SQL expression.

Building a k x d literal table out of F.lit/F.array calls costs one
py4j round-trip PER ELEMENT — a 16x64 centroid table is ~1k JVM
calls, and emb_pq_topk's plan construction alone measured 4-10 s of
driver time (execute: <1 s). F.expr ships the whole table as one
string and parses it JVM-side in milliseconds.

Exactness: doubles are emitted as repr() (shortest round-trip form)
with the 'D' suffix — Spark's lexer hands that to Double.parseDouble,
which inverts repr exactly, so the parsed plan constant is
bit-identical to the Python float (the same guarantee the oracles
get from e-notation literals in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def sql_double(x: float) -> str:
    return repr(float(x)) + "D"


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


def sql_string(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def lit_string_int_map(pairs: list[tuple[str, int]]) -> Column:
    """map<string,int> as one parsed expression — the broadcast-free
    lookup table for bounded vocabularies."""
    if not pairs:
        return F.expr("map()").cast("map<string,int>")
    body = ",".join(f"{sql_string(t)},{int(v)}" for t, v in pairs)
    return F.expr(f"map({body})")


def _sql_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, int):  # bool too: True/False are SQL literals
        return str(v)
    if isinstance(v, float):
        return sql_double(v)
    if isinstance(v, str):
        return sql_string(v)
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")


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
        f"CAST({f'col{i + 1}' if rows else 'NULL'} AS {typ}) AS "
        f"`{name.replace('`', '``')}`"
        for i, (name, typ) in enumerate(_ddl_fields(schema))
    )
    if not rows:
        return spark.sql(f"SELECT {cols} WHERE FALSE")
    values = ", ".join(
        "(" + ", ".join(_sql_value(v) for v in row) + ")" for row in rows
    )
    return spark.sql(f"SELECT {cols} FROM VALUES {values}")
