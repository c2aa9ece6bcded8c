"""Model algebra + schema plumbing, mirroring reference tests/test_model.py."""

import datetime as dt
from typing import Literal, Optional

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import patito_spark as pt


class Small(pt.Model):
    a: int
    b: str


class Other(pt.Model):
    b: str
    c: float


def test_columns_and_dtypes():
    assert Small.columns == ["a", "b"]
    assert Small.dtypes == {"a": T.LongType(), "b": T.StringType()}
    assert Small.non_nullable_columns == {"a", "b"}
    assert Small.nullable_columns == set()


def test_spark_schema():
    schema = Small.spark_schema()
    assert schema == T.StructType(
        [
            T.StructField("a", T.LongType(), nullable=False),
            T.StructField("b", T.StringType(), nullable=False),
        ]
    )


def test_optional_and_defaults():
    class M(pt.Model):
        a: Optional[int]
        b: str = "x"
        c: float = pt.Field(0.5, ge=0.0)

    assert M.nullable_columns == {"a"}
    assert M.defaults == {"b": "x", "c": 0.5}


def test_unique_and_derived_columns():
    class M(pt.Model):
        a: int = pt.Field(unique=True)
        b: int = pt.Field(derived_from="a")

    assert M.unique_columns == {"a"}
    assert M.derived_columns == {"b"}


# -- model algebra (≈ reference test_model.py:258-382) -----------------------


def test_join_inner_keeps_nullability():
    J = Small.join(Other, how="inner")
    assert J.columns == ["a", "b", "c"]
    assert J.non_nullable_columns == {"a", "b", "c"}


def test_join_left_makes_right_optional():
    J = Small.join(Other, how="left")
    assert J.nullable_columns == {"c"}


def test_join_outer_makes_all_optional():
    J = Small.join(Other, how="outer")
    assert J.nullable_columns == {"a", "b", "c"}


def test_join_semi_anti_identity():
    assert Small.join(Other, how="semi") is Small
    assert Small.join(Other, how="anti") is Small


def test_select():
    S = Small.select("a")
    assert S.columns == ["a"]
    with pytest.raises(ValueError, match="do not exist"):
        Small.select(["a", "nonexistent"])


def test_drop():
    assert Small.drop("a").columns == ["b"]
    assert Small.drop(["a", "b"]).columns == []


def test_prefix_suffix():
    assert Small.prefix("x_").columns == ["x_a", "x_b"]
    assert Small.suffix("_y").columns == ["a_y", "b_y"]


def test_rename():
    R = Small.rename({"a": "alpha"})
    assert R.columns == ["alpha", "b"]
    with pytest.raises(ValueError, match="do not exist"):
        Small.rename({"nope": "x"})


def test_with_fields():
    W = Small.with_fields(c=(float, pt.Field(ge=0.0)))
    assert W.columns == ["a", "b", "c"]
    assert W.specs["c"].ge == 0.0


def test_algebra_preserves_constraints():
    class M(pt.Model):
        a: int = pt.Field(unique=True, ge=0)

    S = M.select("a")
    assert S.specs["a"].unique is True
    assert S.specs["a"].ge == 0


class Declared(pt.Model):
    n: int = pt.Field(dtype="int32")
    k: str


def test_algebra_keeps_declared_dtype(spark):
    """A derived model accepts exactly the dtypes its source column
    declared: an int64 ``n`` fails every derivation as it fails the
    original, an int32 one passes."""
    derived = {
        "n": [
            Declared,
            Declared.select("n"),
            Declared.drop("k"),
            Declared.rename({"k": "kk"}),
            Declared.join(Other, how="left"),
            Declared.with_fields(c=(float, pt.Field(ge=0.0))),
        ],
        "x_n": [Declared.prefix("x_")],
        "n_y": [Declared.suffix("_y")],
    }
    for name, models in derived.items():
        for model in models:
            assert model.valid_dtypes[name] == {T.IntegerType()}, model

            def frame(n_type):
                cols = [
                    F.lit(1).cast(n_type if c == name else model.dtypes[c]).alias(c)
                    for c in model.columns
                ]
                return spark.range(1).select(*cols)

            model.validate(frame("int"))
            with pytest.raises(pt.DataFrameValidationError, match=name):
                model.validate(frame("bigint"))


def test_validate_schema_catches_bad_constraint_refs():
    class M(pt.Model):
        a: int = pt.Field(constraints=pt.col("nonexistent") > 0)

    with pytest.raises(ValueError, match="unknown"):
        M.validate_schema()


# -- dtype resolution matrix (≈ reference tests/test_dtypes.py) ---------------


def test_dtype_matrix():
    class M(pt.Model):
        i: int
        f: float
        s: str
        b: bool
        d: dt.date
        ts: dt.datetime
        td: dt.timedelta
        lit: Literal["x", "y"]
        li: list[int]
        lli: list[list[str]]
        opt: Optional[int]
        byt: bytes

    d = M.dtypes
    assert d["i"] == T.LongType()
    assert d["f"] == T.DoubleType()
    assert d["s"] == T.StringType()
    assert d["b"] == T.BooleanType()
    assert d["d"] == T.DateType()
    assert d["ts"] == T.TimestampType()
    assert d["td"] == T.DayTimeIntervalType()
    assert d["lit"] == T.StringType()
    assert M.specs["lit"].allowed_values == ["x", "y"]
    assert d["li"] == T.ArrayType(T.LongType(), containsNull=False)
    assert d["lli"] == T.ArrayType(
        T.ArrayType(T.StringType(), containsNull=False), containsNull=False
    )
    assert d["opt"] == T.LongType() and M.specs["opt"].nullable
    assert d["byt"] == T.BinaryType()


def test_dtype_pep604_union_and_decimal():
    # `str | None` (PEP 604) must resolve like Optional[str]; decimal.Decimal
    # defaults to Spark's inferred (38,18) and accepts any precision/scale
    import decimal

    class M(pt.Model):
        s: str | None
        u: int | float
        dec: decimal.Decimal
        dec4: decimal.Decimal = pt.Field(dtype="decimal(12,4)")

    d = M.dtypes
    assert d["s"] == T.StringType() and M.specs["s"].nullable
    assert d["u"] == T.LongType() and not M.specs["u"].nullable
    assert d["dec"] == T.DecimalType(38, 18)
    assert d["dec4"] == T.DecimalType(12, 4)


def test_nested_model_dtype():
    class Inner(pt.Model):
        x: int

    class Outer(pt.Model):
        inner: Inner

    assert Outer.dtypes["inner"] == T.StructType(
        [T.StructField("x", T.LongType(), nullable=False)]
    )
    assert Outer.specs["inner"].model is Inner


def test_mixed_enum_rejected():
    with pytest.raises(TypeError):

        class M(pt.Model):
            bad: Literal["a", 1]


# -- model instances ----------------------------------------------------------


def test_model_instance_roundtrip():
    m = Small(a=1, b="x")
    assert m.model_dump() == {"a": 1, "b": "x"}
    assert Small(a=1, b="x") == m


def test_from_row(spark):
    df = spark.createDataFrame([(1, "x")], "a long, b string")
    row = df.collect()[0]
    assert Small.from_row(row) == Small(a=1, b="x")


# -- per-instance value validation (reference constructs via pydantic, so bad
# -- values raise on construction: polars.py:846-850) --------------------------


class Product(pt.Model):
    product_id: int = pt.Field(unique=True)
    temperature_zone: Literal["dry", "cold", "frozen"]
    demand: float = pt.Field(ge=0.0, le=1.0)
    name: str = pt.Field(pattern=r"^[a-z]+$", min_length=2, max_length=6)


def _errs(exc_info):
    return {e["loc"][0]: e for e in exc_info.value.errors()}


def test_instance_validation_ok_and_coercion():
    p = Product(product_id=1, temperature_zone="dry", demand="0.5", name="apple")
    assert p.demand == 0.5 and isinstance(p.demand, float)
    q = Product(product_id=2.0, temperature_zone="cold", demand=1, name="pear")
    assert q.product_id == 2 and isinstance(q.product_id, int)
    assert isinstance(q.demand, float)


def test_instance_validation_bounds_enum_pattern():
    with pytest.raises(pt.DataFrameValidationError) as exc_info:
        Product(product_id=1, temperature_zone="oven", demand=2.5, name="XY#")
    errs = _errs(exc_info)
    assert errs["temperature_zone"]["msg"] == "Input should be 'dry', 'cold' or 'frozen'"
    assert errs["demand"]["msg"] == "Input should be less than or equal to 1.0"
    assert errs["name"]["msg"] == "String should match pattern '^[a-z]+$'"
    assert errs["demand"]["type"] == "value_error.rowvalue"


def test_instance_validation_types():
    with pytest.raises(pt.DataFrameValidationError) as exc_info:
        Product(product_id=1.5, temperature_zone="dry", demand=None, name=7)
    errs = _errs(exc_info)
    assert "fractional part" in errs["product_id"]["msg"]
    assert errs["demand"]["msg"] == "Input should not be None"
    assert errs["name"]["msg"] == "Input should be a valid string"
    # bool is never an int, pydantic-style
    with pytest.raises(pt.DataFrameValidationError):
        Product(product_id=True, temperature_zone="dry", demand=0.1, name="ok")

    class Timed(pt.Model):
        span: dt.timedelta
        bounded: dt.timedelta = pt.Field(ge=dt.timedelta(0))
        at: dt.time
        xs: list[int]

    # every dtype checks its values, a bounded one before comparing them;
    # list items are checked and coerced one by one at <field>.<i>
    with pytest.raises(pt.DataFrameValidationError) as exc_info:
        Timed(span="abc", bounded="abc", at="abc", xs=["a", 1.5])
    assert [(e["loc"], e["type"], e["msg"]) for e in exc_info.value.errors()] == [
        (("span",), "type_error.columndtype", "Input should be a valid timedelta"),
        (("bounded",), "type_error.columndtype", "Input should be a valid timedelta"),
        (("at",), "type_error.columndtype", "Input should be a valid time"),
        (
            ("xs.0",),
            "type_error.columndtype",
            "Input should be a valid integer, unable to parse string as an integer",
        ),
        (
            ("xs.1",),
            "type_error.columndtype",
            "Input should be a valid integer, got a number with a fractional part",
        ),
    ]
    ok = Timed(span=dt.timedelta(1), bounded=dt.timedelta(0), at=dt.time(9), xs=[1.0, "2"])
    assert ok.xs == [1, 2]


def test_instance_validation_accepts_decimal():
    # pydantic v2 lax mode accepts decimal.Decimal for numeric fields; a
    # DecimalType field keeps Decimal precision (no float round-trip)
    import decimal

    p = Product(
        product_id=1,
        temperature_zone="dry",
        demand=decimal.Decimal("0.25"),
        name="apple",
    )
    assert p.demand == 0.25

    class Priced(pt.Model):
        price: decimal.Decimal = pt.Field(dtype="decimal(12,4)")

    exact = decimal.Decimal("19.0001")
    got = Priced(price=exact).price
    assert isinstance(got, decimal.Decimal) and got == exact
    # string input parses to Decimal for decimal dtype
    assert Priced(price="19.0001").price == exact


def test_instance_validation_missing_field_collected():
    with pytest.raises(pt.DataFrameValidationError) as exc_info:
        Product(temperature_zone="dry", demand=0.1, name="ok")
    assert _errs(exc_info)["product_id"]["msg"] == "Field required"


def test_instance_validation_nested_struct():
    class Inner(pt.Model):
        x: int = pt.Field(ge=0)

    class Outer(pt.Model):
        inner: Inner

    assert Outer(inner={"x": 3}).inner.x == 3
    with pytest.raises(pt.DataFrameValidationError) as exc_info:
        Outer(inner={"x": -1})
    assert exc_info.value.errors()[0]["loc"] == ("inner.x",)


class Tagged(pt.Model):
    tags: list[Literal["a", "b"]]
    ys: list[int]
    zs: list[Optional[int]]


def test_instance_validation_applies_item_rules_to_each_item():
    # a list's allowed values and item nullability hold per item, reported
    # at <field>.<i> (pydantic's loc `tags.0`)
    ok = Tagged(tags=["a", "b"], ys=[1], zs=[None, 2])
    assert ok.tags == ["a", "b"]
    with pytest.raises(pt.DataFrameValidationError) as exc_info:
        Tagged(tags=["a", "c"], ys=[1, None], zs=[None])
    assert [(e["loc"], e["msg"]) for e in exc_info.value.errors()] == [
        (("tags.1",), "Input should be 'a' or 'b'"),
        (("ys.1",), "Input should not be None"),
    ]

    # a bound on a list holds per item; a length measures the list
    class Dated(pt.Model):
        days: list[dt.date] = pt.Field(ge=dt.date(2020, 1, 1))
        xs: list[int] = pt.Field(min_length=1, max_length=2)

    ok = Dated(days=[dt.date(2020, 1, 1), dt.date(2021, 1, 1)], xs=[1, 2])
    assert ok.days == [dt.date(2020, 1, 1), dt.date(2021, 1, 1)]
    for xs, msg in [
        ([], "List should have at least 1 item after validation, not 0"),
        ([1, 2, 3], "List should have at most 2 items after validation, not 3"),
    ]:
        with pytest.raises(pt.DataFrameValidationError) as exc_info:
            Dated(days=[dt.date(2021, 1, 1), dt.date(2019, 1, 1)], xs=xs)
        assert [(e["loc"], e["msg"]) for e in exc_info.value.errors()] == [
            (("days.1",), "Input should be greater than or equal to 2020-01-01"),
            (("xs",), msg),
        ]

    class Long(pt.Model):  # a list's example holds as many items as its lengths ask
        tags: list[str] = pt.Field(min_length=2, max_length=3)
        kinds: list[Literal["a"]] = pt.Field(min_length=3)

    ex = Long.example()
    assert (len(ex.tags), ex.kinds) == (2, ["a", "a", "a"])
    assert Long(**ex.model_dump()) == ex


def test_list_enum_examples_and_rows_validate(spark):
    assert Tagged.example_value("tags") == ["a"]
    ex = Tagged.example()
    assert Tagged(**ex.model_dump()) == ex
    df = Tagged.examples(spark=spark)
    Tagged.validate(df.as_spark())
    assert df.get().tags == ["a"]
    row = df.as_spark().collect()[0]
    assert Tagged.from_row(row, validate=True).tags == ["a"]
    (model,) = list(df.iter_models(validate_model=True))
    assert model.tags == ["a"]


def test_construct_skips_validation():
    p = Product._construct(
        {"product_id": 1, "temperature_zone": "oven", "demand": 9.0, "name": "X"}
    )
    assert p.demand == 9.0


def test_from_row_validate_flag(spark):
    df = spark.createDataFrame(
        [(1, "dry", 5.0, "apple")],
        "product_id long, temperature_zone string, demand double, name string",
    )
    row = df.collect()[0]
    with pytest.raises(pt.DataFrameValidationError):
        Product.from_row(row, validate=True)
    assert Product.from_row(row, validate=False).demand == 5.0


# -- examples → validate round-trip (reference test_model.py:569-573) ---------


def test_examples_validate_roundtrip(spark):
    class Complete(pt.Model):
        id: int = pt.Field(unique=True)
        name: str = pt.Field(min_length=3)
        zone: Literal["dry", "cold", "frozen"]
        pct: float = pt.Field(ge=0.0, le=1.0)
        flag: bool
        opt: Optional[int]
        bounded: int = pt.Field(ge=10, le=20)
        when: dt.date

    df = Complete.examples({"id": [1, 2, 3]}, spark=spark)
    Complete.validate(df.as_spark())


def test_example_instance_passes_instance_validation():
    # §2.d ↔ instance validator coherence: a generated example must survive
    # full per-field validation when re-constructed through __init__
    class Complete(pt.Model):
        id: int = pt.Field(unique=True)
        name: str = pt.Field(min_length=3)
        zone: Literal["dry", "cold", "frozen"]
        pct: float = pt.Field(ge=0.0, le=1.0)
        flag: bool
        opt: Optional[int]
        bounded: int = pt.Field(ge=10, le=20)
        when: dt.date

    ex = Complete.example()
    revalidated = Complete(**ex.model_dump())  # raises on any bad value
    assert revalidated == ex


def test_exceptions_module_alias():
    # reference exposes `pt.exceptions` (patito __init__.py:5)
    assert pt.exceptions.MultipleRowsReturned is pt.MultipleRowsReturned
    assert pt.LazyFrame is pt.DataFrame  # Spark frames are lazy already


def test_example_value_bounds():
    class M(pt.Model):
        two_sided: int = pt.Field(ge=10, le=20)
        one_sided: int = pt.Field(gt=100)
        plain: int
        plain_f: float

    assert 10 <= M.example_value("two_sided") <= 20
    assert M.example_value("one_sided") > 100
    assert M.example_value("plain") == -1
    assert M.example_value("plain_f") == -0.5


def test_example_instance():
    class M(pt.Model):
        a: int
        b: str = "given"
        c: Optional[float]

    m = M.example(a=7)
    assert m.a == 7
    assert m.b == "given"
    assert m.c is None


def test_example_unique_sequence(spark):
    class M(pt.Model):
        uid: int = pt.Field(unique=True)
        val: str

    df = M.examples({"val": ["x", "y", "z"]}, spark=spark)
    rows = sorted(r["uid"] for r in df.collect())
    assert rows == [1, 2, 3]


# ---------------------------------------------------------------------------
# schema evolution diff (diff_models)
# ---------------------------------------------------------------------------


def test_diff_models_identical_is_clean():
    class V1(pt.Model):
        a: int
        b: Optional[str]

    assert pt.diff_models(V1, V1) == {
        "added": [],
        "removed": [],
        "retyped": [],
        "nullability": [],
        "constraints": [],
        "breaking": False,
    }


def test_diff_models_classifies_breaking_changes():
    class Old(pt.Model):
        a: int
        b: Optional[str]
        c: float = pt.Field(ge=0.0)
        gone: int
        x: int
        y: int = pt.Field(constraints=pt.field < 9)
        z: int = pt.Field(constraints=[pt.field > 0, pt.field < 9])

    class New(pt.Model):
        a: int  # unchanged
        b: str  # tightened nullability → breaking
        c: float = pt.Field(ge=10.0)  # raised lower bound → breaking
        extra_req: int  # added non-nullable, no default → breaking
        extra_opt: Optional[str]  # added nullable → fine
        x: int = pt.Field(constraints=pt.field > 0)  # new constraint → breaking
        y: int = pt.Field(constraints=pt.field < 8)  # changed constraint → breaking
        z: int = pt.Field(constraints=pt.field > 0)  # one dropped → fine

    d = pt.diff_models(Old, New)
    assert d["breaking"] is True
    assert {e["column"]: e["breaking"] for e in d["added"]} == {
        "extra_req": True,
        "extra_opt": False,
    }
    assert d["removed"] == [{"column": "gone", "breaking": True}]
    (nul,) = d["nullability"]
    assert (nul["column"], nul["breaking"]) == ("b", True)
    assert {
        con["column"]: (con["changed"], con["breaking"]) for con in d["constraints"]
    } == {
        "c": (["ge"], True),
        "x": (["constraints"], True),
        "y": (["constraints"], True),
        "z": (["constraints"], False),
    }

    # a change inside a struct's sub-model is classified like a flat one
    class OldSub(pt.Model):
        a: int = pt.Field(ge=0)
        b: Optional[int] = pt.Field(le=9)

    class NewSub(pt.Model):
        a: int = pt.Field(ge=5)  # raised lower bound → breaking
        b: Optional[int] = pt.Field(le=10)  # loosened → fine

    class OldNested(pt.Model):
        s: OldSub
        items: list[OldSub]

    class NewNested(pt.Model):
        s: NewSub
        items: list[NewSub]

    d = pt.diff_models(OldNested, NewNested)
    assert d["breaking"] is True
    assert {
        con["column"]: (con["changed"], con["breaking"]) for con in d["constraints"]
    } == {
        "s.a": (["ge"], True),
        "s.b": (["le"], False),
        "items.a": (["ge"], True),
        "items.b": (["le"], False),
    }
    assert d["retyped"] == d["added"] == d["removed"] == d["nullability"] == []


def test_diff_models_list_items_becoming_required_break():
    # the new model flags every row holding a null item (<col>__list_null),
    # so items turning required is a breaking nullability change
    class Old(pt.Model):
        tags: list[Optional[int]]
        grid: list[list[Optional[int]]]
        loose: list[int]

    class New(pt.Model):
        tags: list[int]
        grid: list[list[int]]
        loose: list[Optional[int]]

    d = pt.diff_models(Old, New)
    assert d["breaking"] is True
    assert d["nullability"] == [
        {"column": "tags", "items": 1, "old": True, "new": False, "breaking": True},
        {"column": "grid", "items": 2, "old": True, "new": False, "breaking": True},
        {"column": "loose", "items": 1, "old": False, "new": True, "breaking": False},
    ]
    assert d["retyped"] == d["constraints"] == []

    # inside a list-of-struct sub-model, too
    class OldRow(pt.Model):
        xs: Optional[list[Optional[str]]]

    class NewRow(pt.Model):
        xs: Optional[list[str]]

    class OldNested(pt.Model):
        rows: list[OldRow]

    class NewNested(pt.Model):
        rows: list[NewRow]

    d = pt.diff_models(OldNested, NewNested)
    assert d["breaking"] is True
    assert d["nullability"] == [
        {"column": "rows.xs", "items": 1, "old": True, "new": False, "breaking": True}
    ]
    assert pt.diff_models(NewNested, OldNested)["breaking"] is False


def test_diff_models_widening_and_loosening_not_breaking():
    class Old(pt.Model):
        n: int = pt.Field(dtype="int", le=100)
        lang: str = pt.Field(allowed=["en", "de"])

    class New(pt.Model):
        n: int = pt.Field(dtype="bigint", le=200)  # widen type, loosen bound
        lang: str = pt.Field(allowed=["en", "de", "fr"])  # domain grew

    d = pt.diff_models(Old, New)
    assert d["breaking"] is False
    (rt,) = d["retyped"]
    assert (rt["old"], rt["new"], rt["breaking"]) == ("int", "bigint", False)
    assert all(not c["breaking"] for c in d["constraints"])


def test_diff_models_narrowing_type_breaks():
    class Old(pt.Model):
        n: int = pt.Field(dtype="bigint")

    class New(pt.Model):
        n: int = pt.Field(dtype="int")

    d = pt.diff_models(Old, New)
    assert d["breaking"] is True and d["retyped"][0]["breaking"] is True


def test_create_table_ddl(spark):
    class Page(pt.Model):
        url: str = pt.Field(unique=True)
        warc_ts: dt.datetime
        html: Optional[bytes]
        n_chars: Optional[int]

    ddl = Page.create_table_ddl(
        "lake.web.pages",
        partition_by=["days(warc_ts)", "bucket(64, url)"],
        table_properties={"write.format.default": "parquet"},
    )
    assert "CREATE TABLE IF NOT EXISTS lake.web.pages" in ddl
    assert "url string NOT NULL" in ddl
    assert "warc_ts timestamp NOT NULL" in ddl
    assert "html binary" in ddl and "html binary NOT NULL" not in ddl
    assert "USING iceberg" in ddl
    assert "PARTITIONED BY (days(warc_ts), bucket(64, url))" in ddl
    assert "TBLPROPERTIES ('write.format.default' = 'parquet')" in ddl
    # the DDL round-trips through a real catalog (parquet source — the
    # session has no Iceberg jars; the SQL shape is source-agnostic)
    spark.sql("DROP TABLE IF EXISTS ddl_roundtrip")
    spark.sql(
        Page.create_table_ddl("ddl_roundtrip", using="parquet").replace(
            " NOT NULL", ""
        )
    )
    got = {f.name: f.dataType for f in spark.table("ddl_roundtrip").schema.fields}
    assert got == {f.name: f.dataType for f in Page.spark_schema().fields}
    spark.sql("DROP TABLE ddl_roundtrip")
