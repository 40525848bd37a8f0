"""Value-range validation (P10 of SURVEY.md §2.3).

The reference's BigQuery path validates every encoded value
(``etl-destination/src/bigquery/validation.rs:13-28,91-371``):
numerics ≤ 76 digits / 38 scale, DATE within 0001-01-01…9999-12-31,
TIME ≤ 23:59:59.999999, NaN/Inf rejected. The Snowflake JSON path
instead *nulls* non-finite floats (``snowflake_destination.rs:
1106-1125``). Spark's types already bound most ranges, so validation
reduces to declarative predicate columns — usable as filters (reject),
``when``-guards (null-out), or assertion counts — all JVM-side
expressions, no UDFs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MIN_DATE = "0001-01-01"
MAX_DATE = "9999-12-31"
MAX_NUMERIC_PRECISION = 76  # BigQuery BIGNUMERIC total digits
MAX_NUMERIC_SCALE = 38


def is_finite(col: Column) -> Column:
    """Float/double is neither NaN nor ±Inf (rejection rule)."""
    return ~(F.isnan(col) | (F.abs(col) == F.lit(float("inf"))))


def date_in_range(col: Column) -> Column:
    """DATE within the warehouse-representable range
    (``validation.rs:19-22,137``)."""
    return col.between(F.lit(MIN_DATE).cast("date"), F.lit(MAX_DATE).cast("date"))


def decimal_fits(precision: int, scale: int) -> bool:
    """Static check of a decimal type against BIGNUMERIC bounds
    (``validation.rs:13-16,91``)."""
    return precision <= MAX_NUMERIC_PRECISION and scale <= MAX_NUMERIC_SCALE


@dataclass(frozen=True)
class ValidationReport:
    column: str
    rule: str
    violations: int


def validate_frame(df: DataFrame) -> list[ValidationReport]:
    """Count violations of every applicable range rule in one pass
    (a single aggregation job — no per-rule scans)."""
    checks: list[tuple[str, str, Column]] = []
    for field in df.schema.fields:
        c = F.col(field.name)
        if isinstance(field.dataType, (T.FloatType, T.DoubleType)):
            checks.append((field.name, "finite", c.isNotNull() & ~is_finite(c)))
        elif isinstance(field.dataType, T.DateType):
            checks.append((field.name, "date_range", c.isNotNull() & ~date_in_range(c)))
    if not checks:
        return []
    aggs = [
        F.sum(F.when(pred, 1).otherwise(0)).alias(f"{name}::{rule}")
        for name, rule, pred in checks
    ]
    row = df.agg(*aggs).first()
    return [
        ValidationReport(*key.split("::"), violations=int(row[key] or 0))
        for key in row.asDict()
    ]
