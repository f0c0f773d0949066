"""Expression-level utilities shared across operators."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal, for expressions that are
    parsed from one string rather than built one py4j call per node."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def bind_once(expr: Column, f) -> Column:
    """Evaluate ``expr`` exactly once per row and pass it to ``f`` as a
    higher-order-function lambda variable.

    Catalyst's projection collapse inlines derived expressions at every
    reference site and HOFs don't CSE, so an expression referenced N
    times is computed N times — and the generated code is N times
    larger (janino compile time is part of first-query latency). Lambda
    variables are bound once per row, so wrapping the expensive
    expression in a single-element ``transform`` turns N evaluations
    into one.
    """
    return F.element_at(F.transform(F.array(expr), f), 1)
