"""Staged formulas: one ordered list of named steps, run by either engine.

A formula that both the engine and its DuckDB oracle evaluate (the
transverse-Mercator series in operators/projection.py, the address grammar
in grammar.py) is written ONCE, as a list of ``(name, expression)`` steps
whose expressions use only SQL common to Spark and DuckDB. A step may read
the input columns and any earlier step by name, so no subterm is ever
spelled out twice and no expression grows with the number of its uses.

- Spark (`with_steps`): a chain of ``withColumn`` projections, then a
  ``drop`` of the temporaries. Each staged subterm is a real column, which
  also keeps every generated expression small enough for whole-stage
  codegen to split across methods.
- DuckDB (`steps_sql`): a chain of ``SELECT *, <step> AS <name> FROM (...)``
  subqueries ending in ``SELECT * EXCLUDE (<temporaries>)``.

Step names must be new to the input relation and unique within the list.
The names in `keep` stay in the output; every other step is a temporary and
is dropped.
"""

from __future__ import annotations

Steps = list[tuple[str, str]]


def _temps(steps: Steps, keep) -> list[str]:
    return [name for name, _ in steps if name not in keep]


def with_steps(df, steps: Steps, keep=()):
    """Spark: add each step as a column, in order, then drop the temporaries."""
    from pyspark.sql import functions as F

    for name, expr in steps:
        df = df.withColumn(name, F.expr(expr))
    return df.drop(*_temps(steps, keep))


def steps_sql(relation: str, steps: Steps, keep=()) -> str:
    """DuckDB: a parenthesized subquery over `relation` (a table name or a
    parenthesized query) with its columns plus the kept steps."""
    sql = relation
    for name, expr in steps:
        sql = f"(SELECT *, {expr} AS {name} FROM {sql})"
    temps = _temps(steps, keep)
    if not temps:
        return sql
    return f"(SELECT * EXCLUDE ({', '.join(temps)}) FROM {sql})"
