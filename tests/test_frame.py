"""Model-aware frame operators, mirroring reference tests/test_polars.py."""

import decimal
from typing import Optional

import pytest

import patito_spark as pt


class Small(pt.Model):
    a: int
    b: str


# -- get (≈ reference test_polars.py:22-56) -----------------------------------


def test_get_exactly_one(spark):
    df = Small.DataFrame(spark.createDataFrame([(1, "x"), (2, "y")], "a long, b string"))
    assert df.get(pt.col("a") == 1) == Small(a=1, b="x")


def test_get_zero_rows(spark):
    df = Small.DataFrame(spark.createDataFrame([(1, "x")], "a long, b string"))
    with pytest.raises(pt.RowDoesNotExist, match=r"get\(\) yielded 0 rows\."):
        df.get(pt.col("a") == 99)


def test_get_multiple_rows(spark):
    df = Small.DataFrame(spark.createDataFrame([(1, "x"), (1, "y")], "a long, b string"))
    with pytest.raises(pt.MultipleRowsReturned, match=r"get\(\) yielded 2 rows\."):
        df.get(pt.col("a") == 1)


def test_get_untyped_row(spark):
    # no bound model → a dynamic UntypedRow model with attribute access
    # (reference test_polars.py:38-41 / polars.py:855-873)
    df = pt.DataFrame(
        spark.createDataFrame([(1, 9.99), (2, 19.99)], "product_id long, price double")
    )
    untyped = df.get(pt.col("product_id") == 1)
    assert untyped.price == 9.99
    assert type(untyped).__name__ == "UntypedRow"
    with pytest.raises(pt.MultipleRowsReturned, match=r"DataFrame\.get\(\) yielded 2 rows\."):
        df.get(pt.col("product_id") < 3)
    # a decimal cell keeps its exact value: the row model types it Decimal
    priced = pt.DataFrame(
        spark.createDataFrame(
            [(1, decimal.Decimal("9.99"))], "product_id long, price decimal(10,2)"
        )
    )
    price = priced.get().price
    assert isinstance(price, decimal.Decimal) and price == decimal.Decimal("9.99")


# -- derive (≈ test_polars.py:353-484) -----------------------------------------


def test_derive_recursive_dependency_order(spark):
    class Derived(pt.Model):
        underived: int
        const_derived: int = pt.Field(derived_from=pt.lit(3))
        column_derived: int = pt.Field(derived_from="underived")
        expr_derived: int = pt.Field(derived_from=2 * pt.col("underived"))
        # declared BEFORE its dependency is derived → forces topo resolution
        second_order_derived: int = pt.Field(derived_from=2 * pt.col("expr_derived"))

    df = Derived.DataFrame(spark.createDataFrame([(1,), (2,)], "underived long"))
    out = df.derive()
    rows = sorted((r.asDict() for r in out.collect()), key=lambda r: r["underived"])
    assert rows == [
        {
            "underived": 1,
            "const_derived": 3,
            "column_derived": 1,
            "expr_derived": 2,
            "second_order_derived": 4,
        },
        {
            "underived": 2,
            "const_derived": 3,
            "column_derived": 2,
            "expr_derived": 4,
            "second_order_derived": 8,
        },
    ]
    # output order: model order first (reference polars.py:181-187)
    assert out.columns == [
        "underived",
        "const_derived",
        "column_derived",
        "expr_derived",
        "second_order_derived",
    ]


def test_derive_cycle_detection(spark):
    class Cyclic(pt.Model):
        a: int = pt.Field(derived_from=pt.col("b") + 1)
        b: int = pt.Field(derived_from=pt.col("a") + 1)

    df = Cyclic.DataFrame(spark.createDataFrame([(1,)], "seed long"))
    with pytest.raises(ValueError, match="[Cc]ycl"):
        df.derive()


def test_derive_casts_to_field_dtype(spark):
    class M(pt.Model):
        x: float
        y: int = pt.Field(derived_from="x")

    df = M.DataFrame(spark.createDataFrame([(1.7,)], "x double"))
    out = df.derive()
    assert dict(out.as_spark().dtypes)["y"] == "bigint"


# -- cast (≈ test_polars.py:173-219) --------------------------------------------


def test_cast_nonstrict_leaves_valid_dtypes(spark):
    class M(pt.Model):
        i: int
        f: float

    df = M.DataFrame(spark.createDataFrame([(1, 1.0)], "i int, f float"))
    out = df.cast()
    # int and float are both already in the valid sets → untouched
    assert dict(out.as_spark().dtypes) == {"i": "int", "f": "float"}


def test_cast_strict_forces_default(spark):
    class M(pt.Model):
        i: int
        f: float

    df = M.DataFrame(spark.createDataFrame([(1, 1.0)], "i int, f float"))
    out = df.cast(strict=True)
    assert dict(out.as_spark().dtypes) == {"i": "bigint", "f": "double"}


def test_cast_explicit_dtype_always_cast(spark):
    class M(pt.Model):
        i: int = pt.Field(dtype="int32")

    df = M.DataFrame(spark.createDataFrame([(1,)], "i bigint"))
    out = df.cast()
    assert dict(out.as_spark().dtypes) == {"i": "int"}


def test_cast_invalid_dtype_cast_to_default(spark):
    class M(pt.Model):
        i: int

    df = M.DataFrame(spark.createDataFrame([("1",)], "i string"))
    out = df.cast()
    assert dict(out.as_spark().dtypes) == {"i": "bigint"}


# -- fill_null (≈ test_polars.py:83-133) -----------------------------------------


def test_fill_null_defaults(spark):
    class M(pt.Model):
        a: Optional[int] = 42
        b: str = "default"

    df = M.DataFrame(spark.createDataFrame([(None, None), (1, "x")], "a int, b string"))
    out = df.fill_null()
    rows = sorted((r.asDict() for r in out.collect()), key=lambda r: r["a"])
    assert rows == [{"a": 1, "b": "x"}, {"a": 42, "b": "default"}]


def test_fill_null_creates_missing_columns(spark):
    class M(pt.Model):
        a: int
        b: str = "filled"

    df = M.DataFrame(spark.createDataFrame([(1,)], "a int"))
    out = df.fill_null()
    assert out.collect()[0]["b"] == "filled"


def test_fill_null_value_and_strategies(spark):
    class M(pt.Model):
        a: Optional[int]
        b: Optional[float]

    df = M.DataFrame(
        spark.createDataFrame(
            [(1, 1.0), (None, None), (3, 5.0)], "a int, b double"
        )
    )
    assert sorted(r["a"] for r in df.fill_null(0).collect()) == [0, 1, 3]
    assert sorted(r["a"] for r in df.fill_null(strategy="zero").collect()) == [0, 1, 3]
    assert sorted(r["b"] for r in df.fill_null(strategy="one").collect()) == [1.0, 1.0, 5.0]
    assert sorted(r["a"] for r in df.fill_null(strategy="min").collect()) == [1, 1, 3]
    assert sorted(r["a"] for r in df.fill_null(strategy="max").collect()) == [1, 3, 3]
    assert sorted(r["b"] for r in df.fill_null(strategy="mean").collect()) == [1.0, 3.0, 5.0]
    # strategy="mean" keeps integer column dtype (documented cast)
    assert dict(df.fill_null(strategy="mean").as_spark().dtypes)["a"] == "int"
    with pytest.raises(ValueError, match="row order"):
        df.fill_null(strategy="forward")
    with pytest.raises(ValueError, match="Unknown fill_null strategy"):
        df.fill_null(strategy="bogus")


def test_fill_null_rejects_value_plus_strategy_and_stray_limit(spark):
    # reference parity (polars.py:637-708): both value and strategy is an
    # error, never a silent preference; limit only pairs with fwd/bwd
    class M(pt.Model):
        a: Optional[int]

    df = M.DataFrame(spark.createDataFrame([(1,), (None,)], "a int"))
    with pytest.raises(ValueError, match="both"):
        df.fill_null(0, strategy="zero")
    with pytest.raises(ValueError, match="limit"):
        df.fill_null(strategy="zero", limit=1)
    with pytest.raises(NotImplementedError, match="matches_supertype"):
        df.fill_null(0, matches_supertype=False)


def test_fill_null_forward_backward_ordered(spark):
    class M(pt.Model):
        k: int
        a: Optional[int]

    rows = [(1, 10), (2, None), (3, None), (4, 40), (5, None)]
    df = M.DataFrame(spark.createDataFrame(rows, "k int, a int"))
    fwd = {r["k"]: r["a"] for r in df.fill_null(strategy="forward", order_by="k").collect()}
    assert fwd == {1: 10, 2: 10, 3: 10, 4: 40, 5: 40}
    bwd = {r["k"]: r["a"] for r in df.fill_null(strategy="backward", order_by="k").collect()}
    assert bwd == {1: 10, 2: 40, 3: 40, 4: 40, 5: None}
    # limit caps the fill distance (polars' consecutive-null cap)
    lim = {r["k"]: r["a"] for r in df.fill_null(strategy="forward", order_by="k", limit=1).collect()}
    assert lim == {1: 10, 2: 10, 3: None, 4: 40, 5: 40}


def test_fill_null_forward_partitioned(spark):
    class M(pt.Model):
        g: str
        k: int
        a: Optional[int]

    rows = [("x", 1, 1), ("x", 2, None), ("y", 1, None), ("y", 2, 9)]
    df = M.DataFrame(spark.createDataFrame(rows, "g string, k int, a int"))
    out = {
        (r["g"], r["k"]): r["a"]
        for r in df.fill_null(
            strategy="forward", order_by="k", partition_by="g"
        ).collect()
    }
    # the y-partition's leading null must NOT see x's values
    assert out == {("x", 1): 1, ("x", 2): 1, ("y", 1): None, ("y", 2): 9}


def test_fill_null_ordered_warns_without_partition_by(spark):
    import warnings

    class M(pt.Model):
        k: int
        a: Optional[int]

    df = M.DataFrame(spark.createDataFrame([(1, 1), (2, None)], "k int, a int"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df.fill_null(strategy="forward", order_by="k")
    assert any("single-partition" in str(w.message) for w in caught)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df.fill_null(strategy="forward", order_by="k", partition_by="k")
    assert not any("single-partition" in str(w.message) for w in caught)


def test_fill_null_ordered_nulls_last_order_keys(spark):
    # NULL order keys sort LAST (polars/DuckDB parity) — a NULL-key row
    # takes the last real value under forward fill instead of leading
    class M(pt.Model):
        k: Optional[int]
        a: Optional[int]

    rows = [(1, 10), (2, None), (None, None)]
    df = M.DataFrame(spark.createDataFrame(rows, "k int, a int"))
    out = {
        r["k"]: r["a"]
        for r in df.fill_null(strategy="forward", order_by="k").collect()
    }
    assert out == {1: 10, 2: 10, None: 10}


def test_read_csv_classmethod(spark, tmp_path):
    # ≈ reference test: headerless CSV takes model column order and types,
    # derived_from populated on read (polars.py:880-960)
    class CSVModel(pt.Model):
        a: float
        b: str
        a_doubled: float = pt.Field(derived_from=2 * pt.col("a"))

    p = str(tmp_path / "data.csv")
    with open(p, "w") as fh:
        fh.write("1,x\n2,y\n")
    out = CSVModel.DataFrame.read_csv(p, has_header=False)
    rows = sorted((r.asDict() for r in out.collect()), key=lambda r: r["a"])
    assert rows[0] == {"a": 1.0, "b": "x", "a_doubled": 2.0}
    assert out.model is CSVModel


# -- drop / model preservation ----------------------------------------------------


def test_drop_non_model_columns(spark):
    df = Small.DataFrame(
        spark.createDataFrame([(1, "x", 9)], "a long, b string, extra int")
    )
    assert df.drop().columns == ["a", "b"]


def test_model_preserved_across_ops(spark):
    df = Small.DataFrame(spark.createDataFrame([(1, "x")], "a long, b string"))
    assert df.filter(pt.col("a").to_column() == 1).model is Small
    assert df.limit(1).model is Small
    assert df.drop().model is Small


# -- unalias (≈ test_polars.py:525-581) ---------------------------------------------


def test_unalias_plain_and_choices(spark):
    class M(pt.Model):
        my_val_a: int = pt.Field(alias="myValA")
        my_val_b: int = pt.Field(alias_choices=["myValB", "myValB2"])
        first_name: str = pt.Field(alias_path=("names", 0))

    df = M.DataFrame(
        spark.createDataFrame(
            [(1, 2, ["Alice", "Liddell"])],
            "myValA int, myValB2 int, names array<string>",
        )
    )
    out = df.unalias()
    row = out.collect()[0].asDict()
    assert row == {"my_val_a": 1, "my_val_b": 2, "first_name": "Alice"}


def test_unalias_prefers_field_name(spark):
    class M(pt.Model):
        v: int = pt.Field(alias="v_aliased")

    df = M.DataFrame(spark.createDataFrame([(1, 2)], "v int, v_aliased int"))
    out = df.unalias()
    assert out.collect()[0]["v"] == 1


# -- iter_models (≈ test_polars.py:610-641) -------------------------------------------


def test_iter_models(spark):
    df = Small.DataFrame(spark.createDataFrame([(1, "x"), (2, "y")], "a long, b string"))
    models = sorted(df.iter_models().to_list(), key=lambda m: m.a)
    assert models == [Small(a=1, b="x"), Small(a=2, b="y")]


def test_iter_models_validates_first(spark):
    df = Small.DataFrame(spark.createDataFrame([(None, "x")], "a long, b string"))
    with pytest.raises(pt.DataFrameValidationError):
        list(df.iter_models())


def test_validate_returns_typed_frame(spark):
    df = spark.createDataFrame([(1, "x")], "a long, b string")
    out = Small.validate(df)
    assert isinstance(out, Small.DataFrame)
    assert out.model is Small
