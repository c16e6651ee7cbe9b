"""T4/T22/T12 — record filtering.

Reference: scripting ``Filter`` SMT (debezium-scripting/.../transforms/
Filter.java:21-33 — drop records where an expression is false; the expression
language here is Spark SQL instead of Groovy/JS), ``skipped.operations``
(CommonConnectorConfig.java:865), ``SchemaChangeEventFilter``
(.../transforms/SchemaChangeEventFilter.java:36).

All are ``df.filter`` — pushed into the scan by Catalyst when they only touch
scan columns.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_records(df: DataFrame, condition: str) -> DataFrame:
    """T4: keep records where the SQL expression holds (Filter.java:21-33)."""
    return df.filter(F.expr(condition))


def kept_operations(skip: Iterable[str] = ("t",)) -> Column:
    """T22's predicate: true for an op not in ``skip``, and for a tombstone
    (NULL op)."""
    return ~F.col("op").isin(list(skip)) | F.col("op").isNull()


def skipped_operations(df: DataFrame, skip: Iterable[str] = ("t",)) -> DataFrame:
    """T22: drop ops by code; default skips truncates
    (CommonConnectorConfig.java:865)."""
    return df.filter(kept_operations(skip))


def schema_change_filter(df: DataFrame, include_types: Iterable[str]) -> DataFrame:
    """T12: filter schema-change events by DDL type
    (SchemaChangeEventFilter.java:36)."""
    return df.filter(F.col("ddl_type").isin(list(include_types)))
