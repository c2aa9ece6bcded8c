"""Differential test of the value rules across the two validation paths.

Hypothesis draws a model (int, float, decimal, str, bytes, date, datetime
and timedelta columns, lists of these, ``Optional`` or not, with drawn bounds,
``multiple_of``, ``const``, allowed values, patterns and lengths) and a
small driver-built frame.  The Spark row flags of ``flag_violations`` must
fall on exactly the columns where ``Model(**row)`` raises, row by row, and
``find_errors``' null, enum and bound counts must equal what the flags add
up to.
"""

import datetime as dt
import decimal
from typing import Optional

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

import patito_spark as pt
from patito_spark.plans.checks import find_errors
from patito_spark.sources.io import driver_frame
from patito_spark.streaming.validate import flag_violations

_D = decimal.Decimal
_DAY = dt.date(2020, 1, 1)
_NOON = dt.datetime(2020, 1, 1, 12)

#: annotation → (frame type, values, multiple_of values or None)
_KINDS = {
    int: (T.LongType(), st.integers(-6, 6), st.integers(1, 4)),
    float: (
        T.DoubleType(),
        st.integers(-12, 12).map(lambda i: i / 4),
        st.sampled_from([0.25, 0.5, 1.5]),
    ),
    _D: (
        T.DecimalType(10, 2),
        st.integers(-300, 300).map(lambda i: _D(i).scaleb(-2)),
        st.sampled_from([_D("0.25"), _D("0.5"), _D("1.5")]),
    ),
    str: (T.StringType(), st.text("ab1", max_size=4), None),
    bytes: (
        T.BinaryType(),
        st.lists(st.sampled_from([0x00, 0x61, 0xFF]), max_size=4).map(bytes),
        None,
    ),
    dt.date: (
        T.DateType(),
        st.integers(-3, 3).map(lambda i: _DAY + dt.timedelta(days=i)),
        None,
    ),
    dt.datetime: (
        T.TimestampType(),
        st.integers(-3, 3).map(lambda i: _NOON + dt.timedelta(minutes=i, microseconds=i)),
        None,
    ),
    dt.timedelta: (
        T.DayTimeIntervalType(),
        st.integers(-3, 3).map(lambda i: dt.timedelta(hours=i, microseconds=i)),
        None,
    ),
}


def _sometimes(draw, strategy):
    """A drawn value one time in four, else None (an unset rule)."""
    return draw(strategy) if draw(st.integers(0, 3)) == 0 else None


@st.composite
def _columns(draw):
    kind = draw(st.sampled_from(list(_KINDS)))
    dtype, values, multiples = _KINDS[kind]
    is_list, optional = draw(st.booleans()), draw(st.booleans())
    item_optional = is_list and draw(st.booleans())
    rules = {s: _sometimes(draw, values) for s in ("ge", "gt", "le", "lt", "const")}
    rules["allowed"] = _sometimes(draw, st.lists(values, min_size=1, max_size=3, unique=True))
    if multiples is not None:
        rules["multiple_of"] = _sometimes(draw, multiples)
    if kind is str:
        rules["pattern"] = _sometimes(draw, st.sampled_from(["^a", "b$", "1", "^$", "a.b"]))
    if kind in (str, bytes) or is_list:
        rules["min_length"] = _sometimes(draw, st.integers(0, 3))
        rules["max_length"] = _sometimes(draw, st.integers(0, 4))
    annotation = Optional[kind] if item_optional else kind
    if is_list:
        annotation = list[annotation]
    if optional:
        annotation = Optional[annotation]
    info = pt.Field(**{k: v for k, v in rules.items() if v is not None})
    frame_type = T.ArrayType(dtype) if is_list else dtype
    cell = st.none() | values | values
    if is_list:
        cell = st.none() | st.lists(cell, max_size=3) | st.lists(values, max_size=3)
    return annotation, info, frame_type, cell


@st.composite
def _cases(draw):
    columns = draw(st.lists(_columns(), min_size=1, max_size=3))
    names = [f"c{i}" for i in range(len(columns))]
    model = type(
        "Drawn",
        (pt.Model,),
        {
            "__annotations__": {n: c[0] for n, c in zip(names, columns)},
            **{n: c[1] for n, c in zip(names, columns)},
        },
    )
    schema = T.StructType(
        [T.StructField("rid", T.LongType())]
        + [T.StructField(n, c[2]) for n, c in zip(names, columns)]
    )
    n_rows = draw(st.integers(1, 6))
    rows = [
        {"rid": i, **{n: draw(c[3]) for n, c in zip(names, columns)}}
        for i in range(n_rows)
    ]
    return model, schema, rows


def _kind(message: str) -> str:
    for marker, kind in [
        ("in lists", "list_null"),
        ("missing value", "null"),
        ("out of bound", "bound"),
        ("invalid values", "enum"),
    ]:
        if marker in message:
            return kind
    return "schema"


def _raised(model: type, values: dict) -> set:
    """The columns ``model(**values)`` reports an error at."""
    try:
        model(**values)
    except pt.DataFrameValidationError as exc:
        return {e["loc"][0].split(".")[0] for e in exc.errors()}
    return set()


@settings(max_examples=30, derandomize=True, deadline=None, database=None)
@given(case=_cases())
def test_row_flags_fall_where_instances_raise(spark, case):
    model, schema, rows = case
    df = driver_frame(spark, rows, schema)
    flagged = flag_violations(df, model).collect()
    flags: dict = {}  # flag name → rows raising it
    for r in flagged:
        values = {n: r[n] for n in model.columns}
        names = list(r["_violations"])
        assert {n.split("__")[0] for n in names} == _raised(model, values), (
            values,
            names,
        )
        for name in names:
            flags[name] = flags.get(name, 0) + 1

    counts = {
        (e.loc_tuple()[0], _kind(str(e.exc))): getattr(e.exc, "count", 1)
        for e in find_errors(df, model)
    }
    for name, spec in model.specs.items():
        bound = sum(n for f, n in flags.items() if f.startswith(f"{name}__bound"))
        assert counts.get((name, "bound"), 0) == bound, name
        assert counts.get((name, "null"), 0) == flags.get(f"{name}__null", 0), name
        if spec.allowed_values is None:
            continue
        # the enum error lists the distinct values the flagged rows hold
        # outside the allowed ones, and None for a null in a column that is
        # not Optional (the reference's unique() includes nulls)
        bad, has_null = set(), False
        for r in flagged:
            cell = r[name]
            items = [cell] if cell is None or not isinstance(cell, list) else cell
            has_null |= None in items
            if f"{name}__enum" in r["_violations"]:
                bad |= {x for x in items if x is not None and x not in spec.allowed_values}
        want = len(bad) + (has_null and not spec.nullable)
        assert counts.get((name, "enum"), 0) == want, name


def test_bytes_lengths_count_bytes_on_both_paths(spark):
    """A length rule on a bytes column counts bytes: Spark's
    ``char_length(binary)`` and the instance check agree, with pydantic's
    message."""

    class M(pt.Model):
        raw: bytes = pt.Field(min_length=2, max_length=3)

    rows = [{"raw": b"a"}, {"raw": b"ab"}, {"raw": b"\xff\xff\xff\xff"}]
    df = driver_frame(spark, rows, T.StructType([T.StructField("raw", T.BinaryType())]))
    flagged = [list(r["_violations"]) for r in flag_violations(df, M).collect()]
    assert flagged == [["raw__bound0"], [], ["raw__bound1"]]
    assert [str(e.exc) for e in find_errors(df, M)] == ["2 rows with out of bound values."]
    messages = []
    for row in rows:
        try:
            M(**row)
        except pt.DataFrameValidationError as exc:
            messages += [e["msg"] for e in exc.errors()]
    assert messages == [
        "Data should have at least 2 bytes",
        "Data should have at most 3 bytes",
    ]


def test_rules_a_column_type_cannot_take_are_refused():
    """``pattern`` holds only for strings and a length only for strings,
    bytes and lists: any other column type is refused when the model is
    defined, naming the column and the rule."""
    for annotation, rule in [
        (int, {"pattern": "^1"}),
        (list[int], {"pattern": "^1"}),
        (int, {"min_length": 1}),
        (float, {"max_length": 2}),
        (dt.date, {"min_length": 1}),
    ]:
        name = next(iter(rule))
        with pytest.raises(TypeError, match=f"{name} does not apply to column 'n'"):
            type("Bad", (pt.Model,), {"__annotations__": {"n": annotation}, "n": pt.Field(**rule)})


def test_float_multiple_of_on_a_decimal_column(spark):
    """A float ``multiple_of`` checks a Decimal value in the column's type:
    the instance verdicts fall on the rows ``find_errors`` counts."""

    class M(pt.Model):
        dec: decimal.Decimal = pt.Field(multiple_of=0.5)

    rows = [{"dec": _D("1.5")}, {"dec": _D("1.2")}]
    df = driver_frame(spark, rows, T.StructType([T.StructField("dec", T.DecimalType(10, 1))]))
    assert [str(e.exc) for e in find_errors(df, M)] == ["1 row with out of bound values."]
    assert [bool(_raised(M, row)) for row in rows] == [False, True]
