"""Dummy-data generation: ``example_value`` / ``example`` / ``examples``.

≈ reference ``src/patito/pydantic.py:498-884``: one valid value per field
derived from the spec (const → const; default → default; optional → None;
enum → first value; numerics bound-aware; strings honour min/max length;
temporals get epoch-ish values; nested models recurse; arrays repeat one item
as often as their min/max length asks, once by default).
``examples()`` builds a Spark DataFrame where unspecified unique columns are
filled with a 1-based sequence (reference ``pl.first().cum_count()``,
``pydantic.py:864-867``) — here ``spark.range`` + native Columns, fully
distributed and deterministic.
"""

from __future__ import annotations

import datetime as dt
from typing import Any, Optional

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .spec import MISSING, ColumnSpec, _Missing


def example_value(spec: ColumnSpec) -> Any:
    """One valid value for the column (≈ ``pydantic.py:498-662``)."""
    if spec.const is not None:
        return spec.const
    if not isinstance(spec.default, _Missing):
        return spec.default
    if spec.nullable:
        return None
    dtype = spec.dtype
    if isinstance(dtype, T.ArrayType):  # a length counts the list's items
        n = spec.min_length or 1
        if spec.max_length is not None:
            n = min(n, spec.max_length)
        if spec.allowed_values:
            return [spec.allowed_values[0]] * n
        return [_scalar_example(dtype.elementType, spec)] * n
    if spec.allowed_values:
        return spec.allowed_values[0]
    if isinstance(dtype, T.StructType) and spec.model is not None:
        return spec.model.example().model_dump()
    return _scalar_example(dtype, spec)


def _scalar_example(dtype: T.DataType, spec: ColumnSpec) -> Any:
    if isinstance(dtype, T.BooleanType):
        return False
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DecimalType)):
        return _bounded_number(spec, integer=True)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return _bounded_number(spec, integer=False)
    if isinstance(dtype, T.StringType):
        if spec.pattern is not None:
            raise NotImplementedError(
                "Example data generation has not been implemented for "
                "regex patterns. You must valid data for such columns "
                "explicitly!"
            )
        n: Optional[int] = None
        if spec.min_length is not None:
            n = spec.min_length
        elif spec.max_length is not None and spec.max_length < len("dummy_string"):
            n = spec.max_length
        if n is not None:
            return "a" * n
        return "dummy_string"
    if isinstance(dtype, T.BinaryType):
        return b"dummy_bytes"
    if isinstance(dtype, T.DateType):
        return _coerce(spec, dt.date(1970, 1, 1))
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return _coerce(spec, dt.datetime(1970, 1, 1))
    if isinstance(dtype, T.DayTimeIntervalType):
        return dt.timedelta(days=1)
    time_type = getattr(T, "TimeType", None)
    if time_type is not None and isinstance(dtype, time_type):
        return dt.time(12, 30)
    if isinstance(dtype, T.NullType):
        return None
    raise NotImplementedError(f"No example value strategy for dtype {dtype}")


def _coerce(spec: ColumnSpec, value: Any) -> Any:
    """Clamp a temporal example into declared bounds."""
    if spec.ge is not None and value < spec.ge:
        value = spec.ge
    if spec.gt is not None and value <= spec.gt:
        value = spec.gt + (
            dt.timedelta(days=1) if isinstance(spec.gt, (dt.date, dt.datetime)) else 1
        )
    if spec.le is not None and value > spec.le:
        value = spec.le
    return value


def _bounded_number(spec: ColumnSpec, integer: bool) -> Any:
    lower = upper = None
    if spec.ge is not None:
        lower = spec.ge
    if spec.gt is not None:
        lower = spec.gt + (1 if integer else 0.5)
    if spec.le is not None:
        upper = spec.le
    if spec.lt is not None:
        upper = spec.lt - (1 if integer else 0.5)
    if lower is not None and upper is not None:
        mid = (lower + upper) / 2
        value = int(mid) if integer else mid
        if integer and value < lower:
            value = int(lower)
    elif lower is not None:
        value = lower
    elif upper is not None:
        value = upper
    else:
        value = -1 if integer else -0.5
    if spec.multiple_of is not None:
        m = spec.multiple_of
        value = 0 if (lower is None or lower <= 0 <= (upper if upper is not None else 0)) else m * round(value / m)
        if lower is not None and value < lower:
            steps = -(-(lower - value) // m) if integer else (lower - value) / m
            value = value + m * steps
    return int(value) if integer else float(value)


def example(model: type, **kwargs: Any) -> Any:
    """A model instance with dummy values for unspecified fields
    (≈ ``pydantic.py:664-714``)."""
    values = dict(kwargs)
    for name, spec in model.__column_specs__.items():
        if name not in values:
            values[name] = example_value(spec)
    return model._construct(values)


def examples(
    model: type,
    data: Optional[dict] = None,
    columns: Optional[list] = None,
    spark=None,
):
    """A DataFrame with dummy values for unspecified columns
    (≈ ``pydantic.py:786-884``).

    Unique unspecified columns get the 1-based row sequence; other
    unspecified columns broadcast their single example value.
    """
    from pyspark.sql import SparkSession

    if spark is None:
        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()

    data = dict(data or {})
    if columns is not None:
        for c in columns:
            data.setdefault(c, None)

    n = 1
    for v in data.values():
        if isinstance(v, (list, tuple)):
            n = max(n, len(v))

    base = spark.range(n).withColumnRenamed("id", "_row_idx")
    cols = []
    for name, spec in model.__column_specs__.items():
        if name in data and data[name] is not None and not isinstance(
            data[name], (list, tuple)
        ):
            cols.append(F.lit(data[name]).cast(spec.dtype).alias(name))
        elif name in data and isinstance(data[name], (list, tuple)):
            values = list(data[name])
            # cycle scalars against the longest iterable (reference uses
            # itertools.cycle in pandas_examples, pydantic.py:716-784)
            arr = F.array(*[F.lit(v) for v in values])
            cols.append(
                F.get(arr, (F.col("_row_idx") % len(values)).cast("int"))
                .cast(spec.dtype)
                .alias(name)
            )
        elif spec.unique:
            # 1-based sequence (≈ pl.first().cum_count(), pydantic.py:864-867)
            cols.append((F.col("_row_idx") + 1).cast(spec.dtype).alias(name))
        else:
            cols.append(F.lit(example_value(spec)).cast(spec.dtype).alias(name))
    out = base.select(*cols)
    return model.DataFrame(out)


def pandas_examples(model: type, data: Optional[dict] = None, spark=None):
    """Same as :func:`examples`, returned as a pandas DataFrame
    (≈ reference ``pandas_examples``, ``pydantic.py:716-784``)."""
    return examples(model, data=data, spark=spark).as_spark().toPandas()
