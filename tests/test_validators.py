"""Validation-check semantics, ported from the reference's test strategy.

Mirrors the assertions of ``/root/reference/tests/test_validators.py``:
exact error dicts (loc tuple / message string / type string), counting
quirks (duplicates count group members; bound violations sum per check;
nulls never fail bounds), constraint semantics including aggregate
constraints and the ``_`` self-alias.
"""

from typing import Literal, Optional

import pytest

import patito_spark as pt


def _errs(exc_info):
    return exc_info.value.errors()


# ---------------------------------------------------------------------------
# column presence (V1/V2)
# ---------------------------------------------------------------------------


class _SingleColumn(pt.Model):
    column: int


def test_missing_column(spark):
    df = spark.createDataFrame([(1,)], "other int")
    with pytest.raises(pt.DataFrameValidationError) as e:
        _SingleColumn.validate(df)
    errors = _errs(e)
    assert {
        "loc": ("column",),
        "msg": "Missing column",
        "type": "type_error.missingcolumns",
    } in errors
    assert {
        "loc": ("other",),
        "msg": "Superfluous column",
        "type": "type_error.superfluouscolumns",
    } in errors
    assert len(errors) == 2


def test_allow_flags(spark):
    df = spark.createDataFrame([(1,)], "other int")
    with pytest.raises(pt.DataFrameValidationError) as e:
        _SingleColumn.validate(df, allow_superfluous_columns=True)
    assert [err["type"] for err in _errs(e)] == ["type_error.missingcolumns"]
    with pytest.raises(pt.DataFrameValidationError) as e:
        _SingleColumn.validate(df, allow_missing_columns=True)
    assert [err["type"] for err in _errs(e)] == ["type_error.superfluouscolumns"]


def test_drop_superfluous(spark):
    df = spark.createDataFrame([(1, 2)], "column int, other int")
    out = _SingleColumn.validate(df, drop_superfluous_columns=True)
    assert out.columns == ["column"]


def test_allow_missing_field_level(spark):
    class M(pt.Model):
        a: int
        b: int = pt.Field(allow_missing=True)

    df = spark.createDataFrame([(1,)], "a int")
    M.validate(df)  # does not raise


# ---------------------------------------------------------------------------
# null checks (V3) — exact singular/plural messages
# ---------------------------------------------------------------------------


def test_non_nullable_nulls(spark):
    class M(pt.Model):
        column: int

    df = spark.createDataFrame([(1,), (None,)], "column int")
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(df)
    assert _errs(e) == [
        {
            "loc": ("column",),
            "msg": "1 missing value",
            "type": "value_error.missingvalues",
        }
    ]

    df2 = spark.createDataFrame([(None,), (None,)], "column int")
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(df2)
    assert _errs(e)[0]["msg"] == "2 missing values"


def test_optional_allows_nulls(spark):
    class M(pt.Model):
        column: Optional[int]

    df = spark.createDataFrame([(1,), (None,)], "column int")
    M.validate(df)


def test_nulls_in_lists(spark):
    class M(pt.Model):
        column: list[int]

    df = spark.createDataFrame([([1, None, None],), ([2],)], "column array<int>")
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(df)
    assert _errs(e) == [
        {
            "loc": ("column",),
            "msg": "2 missing values in lists",
            "type": "value_error.missingvalues",
        }
    ]


def test_optional_list_items_allow_nulls(spark):
    class M(pt.Model):
        column: list[Optional[int]]

    df = spark.createDataFrame([([1, None],)], "column array<int>")
    M.validate(df)


# ---------------------------------------------------------------------------
# dtype checks (V5)
# ---------------------------------------------------------------------------


def test_wrong_dtype(spark):
    class M(pt.Model):
        column: str

    df = spark.createDataFrame([(1,)], "column int")
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(df)
    assert _errs(e) == [
        {
            "loc": ("column",),
            "msg": "Spark dtype int does not match model field type.",
            "type": "type_error.columndtype",
        }
    ]


def test_valid_dtype_variants(spark):
    class M(pt.Model):
        column: int

    for ddl in ["column tinyint", "column smallint", "column int", "column bigint"]:
        M.validate(spark.createDataFrame([(1,)], ddl))

    class MF(pt.Model):
        column: float

    for ddl in ["column float", "column double"]:
        MF.validate(spark.createDataFrame([(1.0,)], ddl))


def test_explicit_dtype_narrows(spark):
    class M(pt.Model):
        column: int = pt.Field(dtype="int32")

    M.validate(spark.createDataFrame([(1,)], "column int"))
    with pytest.raises(pt.DataFrameValidationError):
        M.validate(spark.createDataFrame([(1,)], "column bigint"))


def test_incompatible_explicit_dtype_rejected():
    with pytest.raises(ValueError):

        class M(pt.Model):
            column: int = pt.Field(dtype="string")


def test_uint_dtype_synthesizes_bounds(spark):
    class M(pt.Model):
        column: int = pt.Field(dtype="uint8")

    # uint8 maps to smallint with [0, 255] bounds (no unsigned ints in Spark)
    df = spark.createDataFrame([(300,), (-1,), (5,)], "column smallint")
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(df)
    assert _errs(e) == [
        {
            "loc": ("column",),
            "msg": "2 rows with out of bound values.",
            "type": "value_error.rowvalue",
        }
    ]


# ---------------------------------------------------------------------------
# enum / allowed values (V6)
# ---------------------------------------------------------------------------


def test_enum_violations(spark):
    class M(pt.Model):
        column: Literal["a", "b"]

    df = spark.createDataFrame([("a",), ("c",)], "column string")
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(df)
    assert _errs(e) == [
        {
            "loc": ("column",),
            "msg": "Rows with invalid values: {'c'}.",
            "type": "value_error.rowvalue",
        }
    ]


def test_enum_nullable_allows_null(spark):
    class M(pt.Model):
        column: Optional[Literal["a", "b"]]

    df = spark.createDataFrame([("a",), (None,)], "column string")
    M.validate(df)


def test_enum_in_lists(spark):
    class M(pt.Model):
        column: list[Literal["a", "b"]]

    df = spark.createDataFrame([(["a", "x"],)], "column array<string>")
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(df)
    assert _errs(e)[0]["msg"] == "Rows with invalid values: {'x'}."


def test_enum_bounded_executor_state(spark):
    """A misdeclared high-cardinality 'enum' column must not accumulate the
    full distinct set in aggregation buffers: the single-pass agg carries a
    native count only (no collect_set / object hash aggregate), and the
    offending-value sample comes from a bounded follow-up job."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from patito_spark.plans import checks

    class M(pt.Model):
        v: str = pt.Field(allowed=["a", "b"])

    df = spark.range(1_000_000).select(
        F.concat(F.lit("x"), F.col("id")).alias("v")
    )
    # the compiled single-pass agg holds no unbounded collect buffer
    compiled = checks.compile_checks(
        M, T.StructType([T.StructField("v", T.StringType())])
    )
    plan = (
        df.agg(*[t for c in compiled.checks for t in c.terms.values()])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "collect_set" not in plan and "ObjectHashAggregate" not in plan
    # end to end: one million distinct offenders still validates (capped
    # sample in the message, not the full set)
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(df)
    (err,) = _errs(e)
    assert err["loc"] == ("v",)
    assert err["msg"].startswith("Rows with invalid values: {")
    n_listed = err["msg"].count(",") + 1
    assert n_listed <= 1000


def test_enum_no_followup_job_when_valid(spark):
    """All-valid enum columns must stay a single job — the sample fetch only
    fires on violation."""
    from patito_spark.plans.checks import _enum_sample_values  # noqa: F401
    from unittest import mock

    class M(pt.Model):
        column: Literal["a", "b"]

    df = spark.createDataFrame([("a",), ("b",)], "column string")
    with mock.patch(
        "patito_spark.plans.checks._enum_sample_values",
        side_effect=AssertionError("follow-up job ran on valid data"),
    ):
        M.validate(df)


# ---------------------------------------------------------------------------
# uniqueness (V7) — duplicated members all count (reference :731-748)
# ---------------------------------------------------------------------------


def test_uniqueness_counts_group_members(spark):
    class M(pt.Model):
        column: int = pt.Field(unique=True)

    df = spark.createDataFrame([(1,), (1,), (2,)], "column int")
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(df)
    assert _errs(e) == [
        {
            "loc": ("column",),
            "msg": "2 rows with duplicated values.",
            "type": "value_error.rowvalue",
        }
    ]


def test_uniqueness_empty_frame_passes(spark):
    class M(pt.Model):
        column: int = pt.Field(unique=True)

    df = spark.createDataFrame([], "column int")
    M.validate(df)


def test_uniqueness_multi_column_single_job(spark):
    class M(pt.Model):
        a: int = pt.Field(unique=True)
        b: str = pt.Field(unique=True)

    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (3, "z")], "a int, b string"
    )
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(df)
    errors = sorted(_errs(e), key=lambda d: d["loc"])
    assert errors[0]["loc"] == ("a",) and errors[0]["msg"].startswith("2 rows")
    assert errors[1]["loc"] == ("b",) and errors[1]["msg"].startswith("2 rows")


# ---------------------------------------------------------------------------
# bounds (V10) — per-check summed counts; nulls never fail
# ---------------------------------------------------------------------------


def test_bound_matrix_one_at_a_time(spark):
    class Bounds(pt.Model):
        le_column: float = pt.Field(le=42.5)
        lt_column: float = pt.Field(lt=42.5)
        ge_column: float = pt.Field(ge=42.5)
        gt_column: float = pt.Field(gt=42.5)
        combined_column: float = pt.Field(gt=42.5, le=43.0)
        multiple_column: float = pt.Field(multiple_of=0.5)
        const_column: str = pt.Field(const="3.1415")
        regex_column: str = pt.Field(pattern=r"value [A-Z]")
        min_length_column: str = pt.Field(min_length=2)
        max_length_column: str = pt.Field(max_length=2)

    valid = {
        "le_column": 42.5,
        "lt_column": 42.4,
        "ge_column": 42.5,
        "gt_column": 42.6,
        "combined_column": 42.6,
        "multiple_column": 19.5,
        "const_column": "3.1415",
        "regex_column": "value X",
        "min_length_column": "ab",
        "max_length_column": "ab",
    }
    invalid = {
        "le_column": 42.6,
        "lt_column": 42.5,
        "ge_column": 42.4,
        "gt_column": 42.5,
        "combined_column": 43.1,
        "multiple_column": 19.75,
        "const_column": "3.2",
        "regex_column": "value x",
        "min_length_column": "a",
        "max_length_column": "abc",
    }
    schema = Bounds.spark_schema()
    Bounds.validate(spark.createDataFrame([tuple(valid.values())], schema))
    for column in valid:
        data = dict(valid)
        data[column] = invalid[column]
        df = spark.createDataFrame([tuple(data.values())], schema)
        with pytest.raises(pt.DataFrameValidationError) as e:
            Bounds.validate(df)
        assert _errs(e) == [
            {
                "loc": (column,),
                "msg": "1 row with out of bound values.",
                "type": "value_error.rowvalue",
            }
        ], column


def test_bounds_summed_across_checks(spark):
    # a row violating two checks of the same column counts twice
    class M(pt.Model):
        column: float = pt.Field(gt=10.0, multiple_of=2.0)

    df = spark.createDataFrame([(5.0,)], "column double")
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(df)
    assert _errs(e)[0]["msg"] == "2 rows with out of bound values."


def test_nulls_never_fail_bounds(spark):
    class M(pt.Model):
        column: Optional[float] = pt.Field(ge=0.0)

    df = spark.createDataFrame([(None,), (1.0,)], "column double")
    M.validate(df)


def test_pattern_is_search_not_anchored(spark):
    class M(pt.Model):
        column: str = pt.Field(pattern=r"[A-Z]")

    # "xAx" contains an uppercase letter → passes (search semantics)
    df = spark.createDataFrame([("xAx",)], "column string")
    M.validate(df)


# ---------------------------------------------------------------------------
# custom constraints (V11)
# ---------------------------------------------------------------------------


def test_string_expr_constraints(spark):
    # polars-style string expression methods inside custom constraints
    class M(pt.Model):
        source: str = pt.Field(
            constraints=pt.field.str_to_lowercase().str_starts_with("src")
        )
        tag: str = pt.Field(
            constraints=pt.field.str_contains("x", literal=True)
            | pt.field.str_ends_with("!")
        )

    ok = spark.createDataFrame(
        [("SRC1", "axb"), ("src2", "done!")], "source string, tag string"
    )
    M.validate(ok)

    bad = spark.createDataFrame(
        [("other", "axb"), ("src2", "plain")], "source string, tag string"
    )
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(bad)
    errors = sorted(_errs(e), key=lambda d: d["loc"])
    assert [d["loc"] for d in errors] == [("source",), ("tag",)]
    assert all(
        d["msg"] == "1 row does not match custom constraints." for d in errors
    )
    # the new ops survive the spec's JSON serialization boundary
    spec = M.specs["source"].constraints[0]
    from patito_spark.expr import Expr

    assert Expr.deserialize(spec.serialize()).serialize() == spec.serialize()


def test_even_odd_constraints(spark):
    class M(pt.Model):
        even_int: int = pt.Field(constraints=pt.col("even_int") % 2 == 0)
        odd_int: int = pt.Field(constraints=pt.col("odd_int") % 2 == 1)

    df = spark.createDataFrame([(2, 1), (3, 2)], "even_int int, odd_int int")
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(df)
    errors = sorted(_errs(e), key=lambda d: d["loc"])
    assert errors == [
        {
            "loc": ("even_int",),
            "msg": "1 row does not match custom constraints.",
            "type": "value_error.rowvalue",
        },
        {
            "loc": ("odd_int",),
            "msg": "1 row does not match custom constraints.",
            "type": "value_error.rowvalue",
        },
    ]


def test_self_alias_constraints(spark):
    class M(pt.Model):
        number: int = pt.Field(
            constraints=[pt.field % 2 == 0, pt.field % 3 == 0]
        )

    M.validate(spark.createDataFrame([(6,)], "number int"))
    for bad in (3, 4, 5):
        with pytest.raises(pt.DataFrameValidationError):
            M.validate(spark.createDataFrame([(bad,)], "number int"))


def test_aggregate_constraint(spark):
    class Pizza(pt.Model):
        fraction: float = pt.Field(constraints=pt.col("fraction").sum() == 1.0)

    Pizza.validate(spark.createDataFrame([(0.25,), (0.75,)], "fraction double"))
    with pytest.raises(pt.DataFrameValidationError) as e:
        Pizza.validate(spark.createDataFrame([(0.25,), (0.25,)], "fraction double"))
    assert _errs(e)[0]["msg"] == "2 rows does not match custom constraints."


def test_cross_column_constraint(spark):
    class M(pt.Model):
        a: int
        b: int = pt.Field(constraints=pt.col("a") <= pt.col("b"))

    M.validate(spark.createDataFrame([(1, 2)], "a int, b int"))
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(spark.createDataFrame([(2, 1)], "a int, b int"))
    assert _errs(e)[0]["loc"] == ("b",)


# ---------------------------------------------------------------------------
# nested structs (V8) and list-of-structs (V9)
# ---------------------------------------------------------------------------


class _Inner(pt.Model):
    x: int = pt.Field(gt=0)


def test_nested_struct_bounds(spark):
    class Outer(pt.Model):
        positive_struct: _Inner

    df = spark.createDataFrame(
        [((-1,),)], "positive_struct struct<x: bigint>"
    )
    with pytest.raises(pt.DataFrameValidationError) as e:
        Outer.validate(df)
    assert _errs(e) == [
        {
            "loc": ("positive_struct.x",),
            "msg": "1 row with out of bound values.",
            "type": "value_error.rowvalue",
        }
    ]


def test_optional_struct_nulls_skipped(spark):
    class Outer(pt.Model):
        positive_struct: Optional[_Inner]

    df = spark.createDataFrame(
        [(None,), ((3,),)], "positive_struct struct<x: bigint>"
    )
    Outer.validate(df)


def test_struct_cross_field_constraint(spark):
    class Interval(pt.Model):
        x_min: int
        x_max: int = pt.Field(constraints=pt.col("x_min") <= pt.col("x_max"))

    class Outer(pt.Model):
        interval: Interval

    ok = spark.createDataFrame(
        [((1, 2),)], "interval struct<x_min: bigint, x_max: bigint>"
    )
    Outer.validate(ok)
    bad = spark.createDataFrame(
        [((2, 1),)], "interval struct<x_min: bigint, x_max: bigint>"
    )
    with pytest.raises(pt.DataFrameValidationError) as e:
        Outer.validate(bad)
    assert _errs(e)[0]["loc"] == ("interval.x_max",)


def test_list_of_struct(spark):
    class Outer(pt.Model):
        list_positive_struct: list[_Inner]

    ok = spark.createDataFrame(
        [([(1,), (2,)],)], "list_positive_struct array<struct<x: bigint>>"
    )
    Outer.validate(ok)
    bad = spark.createDataFrame(
        [([(1,), (-2,)],)], "list_positive_struct array<struct<x: bigint>>"
    )
    with pytest.raises(pt.DataFrameValidationError) as e:
        Outer.validate(bad)
    assert _errs(e) == [
        {
            "loc": ("list_positive_struct.x",),
            "msg": "1 row with out of bound values.",
            "type": "value_error.rowvalue",
        }
    ]


# ---------------------------------------------------------------------------
# column subset (V12) and alias generator (V13)
# ---------------------------------------------------------------------------


def test_column_subset(spark):
    class M(pt.Model):
        a: int
        b: str

    df = spark.createDataFrame([(1, None)], "a int, b string")
    M.validate(df, columns=["a"])  # b's null never checked
    with pytest.raises(pt.DataFrameValidationError):
        M.validate(df, columns=["b"])


def test_alias_generator(spark):
    def alias(name: str) -> str:
        return name.lower()

    class M(pt.Model):
        model_config = {"alias_generator": alias}
        my_col: int

    df = spark.createDataFrame([(1,)], "MY_COL int")
    M.validate(df)


def test_validate_does_not_mutate(spark):
    # validation never alters row data (north-rule invariant; reference
    # clones at validators.py:473 — Spark frames are immutable, assert anyway)
    class M(pt.Model):
        a: int
        text: str

    df = spark.createDataFrame([(1, "hello"), (2, "world")], "a int, text string")
    before = sorted(r["text"] for r in df.select("text").collect())
    M.validate(df)
    after = sorted(r["text"] for r in df.select("text").collect())
    assert before == after


# ---------------------------------------------------------------------------
# expression DSL round-trips (≈ reference test_validators.py:1179-1219)
# ---------------------------------------------------------------------------


def test_expr_serialization_roundtrip():
    e = (pt.col("a") % 2 == 0) & (pt.col("b").sum() > 1)
    back = pt.Expr.deserialize(e.serialize())
    assert back.references() == frozenset({"a", "b"})
    assert back.is_aggregate()
    assert back.serialize() == e.serialize()


def test_spec_json_roundtrip():
    class M(pt.Model):
        a: int = pt.Field(unique=True, ge=0)
        b: str = pt.Field(pattern="x")

    import json

    spec = json.loads(M.spec_json())
    assert [c["name"] for c in spec["columns"]] == ["a", "b"]
    assert spec["columns"][0]["unique"] is True


def test_mixed_aggregate_row_constraint(spark):
    # `field - field.mean() < 2`: aggregate evaluated once, broadcast into
    # the row predicate (two-pass scalar splice; polars broadcasts natively)
    class M(pt.Model):
        x: float = pt.Field(constraints=pt.field - pt.field.mean() < 2.0)

    # mean = 2.0 → only 10.0 deviates by ≥ 2
    df = spark.createDataFrame([(1.0,), (1.0,), (10.0,), (2.0,)], "x double")
    # mean of [1,1,10,2] = 3.5; 10-3.5=6.5 fails, others pass
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(df)
    assert _errs(e) == [
        {
            "loc": ("x",),
            "msg": "1 row does not match custom constraints.",
            "type": "value_error.rowvalue",
        }
    ]
    M.validate(spark.createDataFrame([(1.0,), (2.0,)], "x double"))


def test_mixed_constraint_combined_with_row_constraint(spark):
    class M(pt.Model):
        x: float = pt.Field(
            constraints=[pt.field - pt.field.min() <= 5.0, pt.field > 0.0]
        )

    # min = 1 → 8 fails the spread constraint; -1... (would change min);
    # use [1, 8, -1]: min=-1, spread: 8-(-1)=9 fails; -1 fails positivity;
    # 1 passes both → 2 failing rows, each counted once
    df = spark.createDataFrame([(1.0,), (8.0,), (-1.0,)], "x double")
    with pytest.raises(pt.DataFrameValidationError) as e:
        M.validate(df)
    assert _errs(e)[0]["msg"] == "2 rows does not match custom constraints."
