"""Cross-mode parity: every executor of the compiled checks gives the same
verdict on the same rows.

One planted-violation matrix, spread over three partitions, runs through
``find_errors`` (unkeyed aggregate executor), ``ValidationRunner`` (the
same executor keyed by partition), ``flag_violations`` and
``windowed_violation_counts`` (the row executor), and ``jobs.main``.
"""

import datetime as dt
import decimal
import json
from typing import Literal, Optional

import pytest
from pyspark.sql import functions as F

import patito_spark as pt
from patito_spark import jobs
from patito_spark.errors import get_exc_type
from patito_spark.plans.checks import find_errors
from patito_spark.plans.runner import ValidationRunner
from patito_spark.sources import write_validated
from patito_spark.spec import ColumnSpec, FieldInfo, model_from_spec_json
from patito_spark.streaming.validate import flag_violations, windowed_violation_counts


class Item(pt.Model):
    price: int = pt.Field(ge=0)


class Inner(pt.Model):
    x: int = pt.Field(gt=0)
    y: int


class Planted(pt.Model):
    part: str
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
    s: Inner
    tags: list[str]
    kinds: list[Literal["a", "b"]]
    kind: Literal["a", "b"]
    even: int = pt.Field(constraints=pt.field % 2 == 0)
    small_sum: int = pt.Field(constraints=pt.field.sum() < 100)
    near_mean: float = pt.Field(constraints=pt.field - pt.field.mean() < 5.0)
    items: list[Item]
    u: int = pt.Field(unique=True)


_VALID = {
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
    "s": (1, 1),
    "tags": ["t"],
    "kinds": ["a"],
    "kind": "a",
    "even": 2,
    "small_sum": 1,
    "near_mean": 1.0,
    "items": [(1,), (2,)],
}

#: one planted violation per row (the F7 bound matrix first); distinct bad
#: enum values and at most one bad item per list, so row counts and
#: find_errors counts measure the same thing
_PLANTED = [
    {"le_column": 42.6},
    {"lt_column": 42.5},
    {"ge_column": 42.4},
    {"gt_column": 42.5},
    {"combined_column": 43.1},
    {"multiple_column": 19.75},
    {"const_column": "3.2"},
    {"regex_column": "value x"},
    {"min_length_column": "a"},
    {"max_length_column": "abc"},
    {"s": (-1, 1)},
    {"s": (1, None)},
    {"tags": ["t", None]},
    {"kinds": ["a", "q"]},
    {"kinds": ["r"]},
    {"kind": "x"},
    {"kind": "z"},
    {"even": 3},
    {"items": [(1,), (-5,)]},
    {"items": [(-1,)]},
    {"small_sum": 150},  # fails the aggregate constraint of its partition
    {"near_mean": 50.0},  # fails the mixed constraint of its partition
    {},
    {},
    {},
]

_SCHEMA = (
    "part string, le_column double, lt_column double, ge_column double, "
    "gt_column double, combined_column double, multiple_column double, "
    "const_column string, regex_column string, min_length_column string, "
    "max_length_column string, s struct<x: bigint, y: bigint>, "
    "tags array<string>, kinds array<string>, kind string, even bigint, "
    "small_sum bigint, near_mean double, items array<struct<price: bigint>>, "
    "u bigint, ts timestamp, junk string"
)

_PARTS = ["p0", "p1", "p2"]


@pytest.fixture(scope="module")
def planted(spark):
    rows = []
    for i, bad in enumerate(_PLANTED):
        row = {"part": _PARTS[i % 3], **_VALID, **bad}
        # two duplicate groups: one across partitions, one inside p0
        row["u"] = {0: 1000, 1: 1000, 3: 2000, 6: 2000}.get(i, i)
        row["ts"] = dt.datetime(2024, 1, 1)
        row["junk"] = "superfluous"
        rows.append(row)
    names = [*Planted.columns, "ts", "junk"]
    return spark.createDataFrame([tuple(r[n] for n in names) for r in rows], _SCHEMA)


def _kind(message: str) -> str:
    for marker, kind in [
        ("in lists", "list_null"),
        ("missing value", "null"),
        ("out of bound", "bound"),
        ("invalid values", "enum"),
        ("custom constraints", "constraint"),
        ("duplicated", "unique"),
    ]:
        if marker in message:
            return kind
    return "schema"


def _counts(errors) -> dict:
    return {
        (e.loc_tuple()[0], _kind(str(e.exc))): getattr(e.exc, "count", 1)
        for e in errors
    }


def test_runner_matches_find_errors_per_partition(spark, planted, tmp_path):
    result = ValidationRunner(
        Planted, "part", checkpoint_dir=str(tmp_path / "ckpt")
    ).run(planted)
    by_partition: dict = {}
    for v in result.violations:
        key = (v["column"], _kind(v["message"]))
        by_partition.setdefault(v["partition"], {})[key] = v["violation_count"]

    whole = _counts(find_errors(planted, Planted))
    schema_locs = {loc for loc, kind in whole if kind == "schema"}
    assert schema_locs == {"ts", "junk"}
    assert set(by_partition.pop("*")) == {(loc, "schema") for loc in schema_locs}

    assert sorted(by_partition) == _PARTS
    for p in _PARTS:
        want = _counts(find_errors(planted.where(F.col("part") == p), Planted))
        want = {k: n for k, n in want.items() if k[1] not in ("schema", "unique")}
        got = {k: n for k, n in by_partition[p].items() if k[1] != "unique"}
        assert got == want, p
    # every planted family reached the runner, nested and exploded included
    seen = {k for counts in by_partition.values() for k in counts}
    assert {
        ("s.x", "bound"),
        ("s.y", "null"),
        ("tags", "list_null"),
        ("kinds", "enum"),
        ("small_sum", "constraint"),
        ("near_mean", "constraint"),
        ("items.price", "bound"),
    } <= seen
    # uniqueness stays globally charged: the partition charges add up
    unique = sum(
        n for c in by_partition.values() for (_, k), n in c.items() if k == "unique"
    )
    assert unique == whole[("u", "unique")] == 4


def test_row_flags_match_find_errors(spark, planted):
    from patito_spark.plans.checks import compile_checks

    whole = _counts(find_errors(planted, Planted))
    flagged = flag_violations(planted, Planted)
    flag_counts = {
        r["name"]: r["n"]
        for r in flagged.select(F.explode("_violations").alias("name"))
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    (window,) = windowed_violation_counts(
        planted, Planted, "ts", window="1 hour"
    ).collect()
    window = window.asDict()

    plan = compile_checks(Planted, planted.schema)
    checked = set()
    for check in plan.checks:
        if not check.flags:
            continue  # batch-only: uniqueness, aggregate and mixed constraints
        rows = sum(flag_counts.get(name, 0) for name in check.flags)
        assert rows == whole.get((check.loc, check.kind), 0), check.flags
        assert sum(window[name] for name in check.flags) == rows, check.flags
        if rows:
            checked.add((check.loc, check.kind))
    assert {
        ("le_column", "bound"),
        ("max_length_column", "bound"),
        ("s.x", "bound"),
        ("s.y", "null"),
        ("tags", "list_null"),
        ("kinds", "enum"),
        ("kind", "enum"),
        ("even", "constraint"),
        ("items.price", "bound"),
    } <= checked
    # top-level names keep the <column>__<check> form; nested ones are dotted
    assert {
        "even__constraint",
        "s.x__bound0",
        "tags__list_null",
        "items.price__bound0",
    } <= set(flag_counts)
    assert flagged.filter(~F.col("_valid")).count() == sum(flag_counts.values())


class Rules(pt.Model):
    """Every value rule on the scalar types it compiles against."""

    i: int = pt.Field(le=10, lt=11, ge=-5, gt=-6, multiple_of=5, const=5)
    i32: int = pt.Field(dtype="int32", ge=0, le=100)
    u8: int = pt.Field(dtype="uint8")
    f: float = pt.Field(ge=0.5, lt=1e3, multiple_of=0.25)
    dec: decimal.Decimal = pt.Field(
        ge=decimal.Decimal("-1.5"),
        lt=decimal.Decimal("1E+3"),
        multiple_of=decimal.Decimal("0.5"),
    )
    u64: int = pt.Field(dtype="uint64")
    day: dt.date = pt.Field(ge=dt.date(2020, 1, 1), lt=dt.date(2030, 1, 1))
    ts: dt.datetime = pt.Field(
        gt=dt.datetime(2020, 1, 1, 12, 30), le=dt.datetime(2030, 1, 1, 0, 0, 0, 250)
    )
    span: dt.timedelta = pt.Field(
        ge=dt.timedelta(0), lt=dt.timedelta(days=3, microseconds=7)
    )
    raw: bytes = pt.Field(const=b"\x00ab")
    s: str = pt.Field(pattern=r"^[a-z]+$", min_length=1, max_length=8)
    c: str = pt.Field(const="x", le="z")


#: each rule flag of ``Rules`` → ``str(Column)`` as compiled before the rule
#: table (a bytes literal prints a JVM identity hash after ``[B@``)
RULE_GOLDEN = [
    ("i__bound0", "Column<'!(coalesce(<=(i, 10), true))'>"),
    ("i__bound1", "Column<'!(coalesce(<(i, 11), true))'>"),
    ("i__bound2", "Column<'!(coalesce(>=(i, -5), true))'>"),
    ("i__bound3", "Column<'!(coalesce(>(i, -6), true))'>"),
    ("i__bound4", "Column<'!(coalesce(or(=(i, 0), =(%(i, 5), 0)), true))'>"),
    ("i__bound5", "Column<'!(coalesce(=(i, 5), true))'>"),
    ("i32__bound0", "Column<'!(coalesce(<=(i32, 100), true))'>"),
    ("i32__bound1", "Column<'!(coalesce(>=(i32, 0), true))'>"),
    ("u8__bound0", "Column<'!(coalesce(<=(u8, 255), true))'>"),
    ("u8__bound1", "Column<'!(coalesce(>=(u8, 0), true))'>"),
    ("f__bound0", "Column<'!(coalesce(<(f, 1000.0), true))'>"),
    ("f__bound1", "Column<'!(coalesce(>=(f, 0.5), true))'>"),
    ("f__bound2", "Column<'!(coalesce(or(=(f, 0), =(%(f, 0.25), 0)), true))'>"),
    ("dec__bound0", "Column<'!(coalesce(<(dec, 1E+3), true))'>"),
    ("dec__bound1", "Column<'!(coalesce(>=(dec, -1.5), true))'>"),
    ("dec__bound2", "Column<'!(coalesce(or(=(dec, 0), =(%(dec, 0.5), 0)), true))'>"),
    ("u64__bound0", "Column<'!(coalesce(<=(u64, 18446744073709551615), true))'>"),
    ("u64__bound1", "Column<'!(coalesce(>=(u64, 0), true))'>"),
    ("day__bound0", "Column<'!(coalesce(<(day, 2030-01-01), true))'>"),
    ("day__bound1", "Column<'!(coalesce(>=(day, 2020-01-01), true))'>"),
    ("ts__bound0", "Column<'!(coalesce(<=(ts, 2030-01-01 00:00:00.00025), true))'>"),
    ("ts__bound1", "Column<'!(coalesce(>(ts, 2020-01-01 12:30:00.0), true))'>"),
    ("span__bound0", "Column<'!(coalesce(<(span, PT72H0.000007S), true))'>"),
    ("span__bound1", "Column<'!(coalesce(>=(span, PT0S), true))'>"),
    ("raw__bound0", "Column<'!(coalesce(=(raw, [B@), true))'>"),
    ("s__bound0", "Column<'!(coalesce(rlike(s, '^[a-z]+$'), true))'>"),
    ("s__bound1", "Column<'!(coalesce(>=(char_length(s), 1), true))'>"),
    ("s__bound2", "Column<'!(coalesce(<=(char_length(s), 8), true))'>"),
    ("c__bound0", "Column<'!(coalesce(<=(c, 'z'), true))'>"),
    ("c__bound1", "Column<'!(coalesce(=(c, 'x'), true))'>"),
]

#: every row flag of ``WebPage`` (names, order and Columns)
WEBPAGE_GOLDEN = [
    ("url__null", "Column<'isNull(url)'>"),
    ("url__bound0", "Column<'!(coalesce(rlike(url, '^https?://'), true))'>"),
    ("warc_ts__null", "Column<'isNull(warc_ts)'>"),
    ("warc_ts__bound0", "Column<'!(coalesce(<=(warc_ts, 2030-01-01 00:00:00.0), true))'>"),
    ("warc_ts__bound1", "Column<'!(coalesce(>=(warc_ts, 1996-01-01 00:00:00.0), true))'>"),
    ("lang__null", "Column<'isNull(lang)'>"),
    (
        "lang__enum",
        "Column<'coalesce(!(in(lang, 'en', 'de', 'fr', 'es', 'zh', 'ru', 'ja', "
        "'pt', 'it', 'nl', 'other')), false)'>",
    ),
]


def test_every_rule_compiles_to_its_golden_column(spark):
    """Each row of the rule table compiles every scalar column to the
    Column it compiled to before the table, numbered in the same order."""
    import re

    from patito_spark.plans.checks import row_flags
    from patito_spark.spec import _RULES
    from patito_spark.testing import WebPage

    declared = {
        r.slot for s in Rules.specs.values() for r in _RULES if getattr(s, r.slot) is not None
    }
    assert declared == {r.slot for r in _RULES}
    got = [
        (name, re.sub(r"\[B@[0-9a-f]+", "[B@", str(c)))
        for name, c in row_flags(Rules, Rules.spark_schema()).items()
        if "__bound" in name
    ]
    assert got == RULE_GOLDEN
    webpage = row_flags(WebPage, WebPage.spark_schema()).items()
    assert [(name, str(c)) for name, c in webpage] == WEBPAGE_GOLDEN


class Flat(pt.Model):
    p: int
    v: float = pt.Field(ge=0.0, constraints=pt.field - pt.field.mean() < 5.0)


def test_jobs_main_runs_mixed_constraints(spark, tmp_path, capsys):
    df = spark.createDataFrame(
        [(p, v) for p in range(3) for v in (1.0, 1.0, 1.0, 1.0)]
        + [(0, 30.0), (1, -2.0)],
        "p bigint, v double",
    )
    spec = tmp_path / "spec.json"
    spec.write_text(Flat.spec_json())
    data = str(tmp_path / "input")
    df.write.parquet(data)

    code = jobs.main(
        [
            "--spec", str(spec),
            "--input", data,
            "--partition-col", "p",
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ]
    )
    assert code == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    want = sum(
        getattr(e.exc, "count", 1)
        for p in range(3)
        for e in find_errors(df.where(F.col("p") == p), Flat)
    )
    assert want == 2  # partition 0's outlier and partition 1's negative value
    assert out["passed"] is False
    assert out["violations"] == want


class Keyed(pt.Model):
    p: int
    u: int = pt.Field(unique=True)


def test_jobs_main_resume_matches_uninterrupted(spark, tmp_path):
    """A job cut by ``--where`` and then resumed stores what one
    uninterrupted job stores: u=1 spans partitions 0 and 2, which the two
    runs validate apart, so it is charged to both and fails both — and the
    resume exits 1 under ``--fail-on-violations``."""
    spec = tmp_path / "spec.json"
    spec.write_text(Keyed.spec_json())
    data = str(tmp_path / "input")
    spark.createDataFrame(
        [(0, 1), (0, 7), (1, 2), (1, 2), (2, 1), (2, 9)], "p bigint, u bigint"
    ).write.parquet(data)
    args = ["--spec", str(spec), "--input", data, "--partition-col", "p"]

    def stored(ckpt: str) -> tuple:
        """Per-partition ``u`` violation totals, and stored verdicts (the
        AND of a partition's verdict rows)."""
        dups: dict = {}
        for r in (
            spark.read.parquet(f"{ckpt}/violations")
            .filter(F.col("column") == "u")
            .collect()
        ):
            dups[r["partition"]] = dups.get(r["partition"], 0) + r["violation_count"]
        verdicts = (
            spark.read.parquet(f"{ckpt}/verdicts")
            .groupBy("partition")
            .agg(F.bool_and("passed").alias("passed"))
            .collect()
        )
        return dups, {r["partition"]: r["passed"] for r in verdicts}

    full = str(tmp_path / "full")
    assert jobs.main(args + ["--checkpoint-dir", full]) == 0
    truth = stored(full)
    assert truth == ({"0": 1, "1": 2, "2": 1}, {"0": False, "1": False, "2": False})

    ckpt = str(tmp_path / "resume")
    assert jobs.main(args + ["--checkpoint-dir", ckpt, "--where", "p < 2"]) == 0
    resumed = jobs.main(args + ["--checkpoint-dir", ckpt, "--fail-on-violations"])
    assert stored(ckpt) == truth
    assert resumed == 1


class Bounded(pt.Model):
    p: int
    v: int = pt.Field(ge=0)


@pytest.mark.parametrize("rows, verdict", [([(0, -1), (1, 2)], False), ([(0, 1), (1, 2)], True)])
def test_rerun_of_finished_checkpoint_keeps_its_verdict(spark, tmp_path, rows, verdict):
    """A re-run with nothing pending validates nothing, yet reports the
    checkpoint's stored verdict: a failed checkpoint stays failed, so
    ``jobs.main --fail-on-violations`` keeps exiting 1."""
    df = spark.createDataFrame(rows, "p bigint, v bigint")
    runner = ValidationRunner(Bounded, "p", checkpoint_dir=str(tmp_path / "ckpt"))
    assert runner.run(df).passed is verdict
    again = runner.run(df)
    assert again.verdicts == [] and again.skipped_partitions == ["0", "1"]
    assert again.passed is verdict

    spec = tmp_path / "spec.json"
    spec.write_text(Bounded.spec_json())
    data = str(tmp_path / "input")
    df.write.parquet(data)
    args = [
        "--spec", str(spec), "--input", data, "--partition-col", "p",
        "--checkpoint-dir", str(tmp_path / "jobs_ckpt"), "--fail-on-violations",
    ]
    assert jobs.main(args) == (0 if verdict else 1)
    assert jobs.main(args) == (0 if verdict else 1)


class Typed(pt.Model):
    i: int
    f: float
    s: str
    t: dt.datetime
    xs: list[int]
    n: int = pt.Field(dtype="int32")
    w: int = pt.Field(dtype="long")


def test_spec_json_keeps_valid_dtypes(spark, tmp_path):
    """A rebuilt spec accepts exactly the dtypes the model accepts: an
    undeclared dtype comes back as the annotation's valid set, a declared
    one (even the annotation's default) as itself — so ``jobs.main`` over
    an int32 table checks bounds instead of reporting dtype errors."""
    rebuilt = model_from_spec_json(Typed.spec_json())
    assert rebuilt.valid_dtypes == Typed.valid_dtypes
    assert rebuilt.spec_json() == Typed.spec_json()

    df = spark.createDataFrame([(0, -1), (1, 2)], "p int, v int")
    assert _counts(find_errors(df, model_from_spec_json(Bounded.spec_json()))) == {
        ("v", "bound"): 1
    }
    spec = tmp_path / "spec.json"
    spec.write_text(Bounded.spec_json())
    data = str(tmp_path / "input")
    df.write.parquet(data)
    ckpt = str(tmp_path / "ckpt")
    assert jobs.main(
        ["--spec", str(spec), "--input", data, "--partition-col", "p",
         "--checkpoint-dir", ckpt]
    ) == 0
    stored = spark.read.parquet(f"{ckpt}/violations").collect()
    assert [(r["partition"], r["column"], r["violation_count"]) for r in stored] == [
        ("0", "v", 1)
    ]
    assert not [r for r in stored if r["error_type"] == "type_error.columndtype"]


class Nested(pt.Model):
    p: int
    s: Inner
    box: Optional[Inner]
    items: list[Item]


def test_spec_json_keeps_nested_submodels():
    rebuilt = model_from_spec_json(Nested.spec_json())
    assert rebuilt.spec_json() == Nested.spec_json()
    assert rebuilt.dtypes == Nested.dtypes
    assert rebuilt.specs["s"].model.specs["x"].gt == 0
    assert rebuilt.specs["box"].model.specs["x"].gt == 0
    assert rebuilt.specs["items"].model.specs["price"].ge == 0


def test_jobs_main_checks_nested_fields(spark, tmp_path, capsys):
    """A spec file carries the sub-models, so the job checks nested struct
    and list-of-struct fields exactly as find_errors does."""
    df = spark.createDataFrame(
        [
            (0, (1, 1), None, [(1,)]),
            (0, (-1, 1), (1, 1), [(1,), (-5,)]),
            (1, (1, 1), (0, 1), [(2,)]),
            (1, (1, 1), None, [(-1,)]),
        ],
        "p bigint, s struct<x: bigint, y: bigint>, "
        "box struct<x: bigint, y: bigint>, items array<struct<price: bigint>>",
    )
    spec = tmp_path / "spec.json"
    spec.write_text(Nested.spec_json())
    data = str(tmp_path / "input")
    df.write.parquet(data)

    code = jobs.main(
        [
            "--spec", str(spec),
            "--input", data,
            "--partition-col", "p",
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ]
    )
    assert code == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # row-level checks only, so per-partition and whole-table counts agree
    errors = find_errors(df, Nested)
    assert _counts(errors) == {
        ("s.x", "bound"): 1,
        ("box.x", "bound"): 1,
        ("items.price", "bound"): 2,
    }
    assert out["passed"] is False
    assert out["violations"] == sum(getattr(e.exc, "count", 1) for e in errors)


class Leaf(pt.Model):
    price: decimal.Decimal = pt.Field(ge=decimal.Decimal("0.01"))
    note: Optional[str] = None


class Everything(pt.Model):
    """Every ``Field`` kwarg, the scalar annotations, each declared unsigned
    alias and every value the spec JSON encodes (bytes, decimal, temporal)."""

    i: int = pt.Field(dtype="int32", ge=-5, lt=100, multiple_of=5, unique=True)
    u8: int = pt.Field(dtype="uint8")
    u16: int = pt.Field(dtype="uint16", le=1000)
    u32: Optional[int] = pt.Field(None, dtype="uint32")
    u64: int = pt.Field(dtype="uint64", gt=0)
    f: float = pt.Field(0.5, gt=0.0, le=1.0)
    dec: decimal.Decimal = pt.Field(
        decimal.Decimal("2.25"), ge=decimal.Decimal("-1.5"), lt=decimal.Decimal("1E+3")
    )
    s: str = pt.Field(
        pattern=r"^[a-z]+$",
        min_length=1,
        max_length=8,
        alias="S",
        alias_choices=["s_alt", ("s_arr", 1)],
        alias_path=("s_list", 0),
    )
    raw: bytes = pt.Field(const=b"\x00ab")
    flag: bool = pt.Field(True, allow_missing=True)
    day: dt.date = pt.Field(dt.date(2020, 6, 1), ge=dt.date(2020, 1, 1))
    ts: dt.datetime = pt.Field(
        gt=dt.datetime(2020, 1, 1, 12, 30), le=dt.datetime(2030, 1, 1, 0, 0, 0, 250)
    )
    span: dt.timedelta = pt.Field(
        dt.timedelta(hours=1),
        ge=dt.timedelta(0),
        lt=dt.timedelta(days=3, microseconds=7),
    )
    at: dt.time = pt.Field(dt.time(9, 30), ge=dt.time(8, 0, 0, 5))
    tags: list[Optional[str]] = pt.Field([], allowed=["a", "b"])
    days: list[dt.date] = pt.Field([dt.date(2021, 1, 1)], ge=dt.date(2020, 1, 1))
    kind: Literal["x", "y"] = "x"
    counts: dict[str, int]
    maybe: Optional[float] = pt.Field(
        constraints=[pt.field > 0, pt.field.sum() < 100]
    )
    twice: int = pt.Field(derived_from=2 * pt.col("i"))
    copy: Optional[str] = pt.Field(derived_from="s")
    leaf: Leaf
    leaves: Optional[list[Leaf]]


def _typed(value):
    if isinstance(value, (list, tuple)):
        return type(value), [_typed(v) for v in value]
    return type(value), value


def _slots(spec: ColumnSpec) -> dict:
    """Every resolved slot of *spec* with its type; expressions by their
    serialized form (``==`` on an ``Expr`` builds an ``Expr``), a
    sub-model by its columns' slots."""
    out = {}
    for slot in ColumnSpec.__slots__:
        if slot in ("annotation", "info"):
            continue  # as declared: a dtype alias comes back as its DataType
        value = getattr(spec, slot)
        if slot == "model" and value is not None:
            value = {name: _slots(s) for name, s in value.specs.items()}
        elif slot == "constraints" and value is not None:
            value = [c.serialize() for c in value]
        elif isinstance(value, pt.Expr):
            value = value.serialize()
        out[slot] = _typed(value)
    return out


def test_spec_json_is_an_exact_inverse():
    """``model_from_spec_json(M.spec_json())`` resolves every column as ``M``
    does, and ``spec_json`` is a fixed point.  The model declares every
    ``Field`` kwarg, so one the codec leaves out fails here."""
    unset = FieldInfo()
    declared = {
        slot
        for spec in [*Everything.specs.values(), *Leaf.specs.values()]
        for slot in FieldInfo.__slots__
        if getattr(spec.info, slot) is not getattr(unset, slot)
    }
    assert declared == set(FieldInfo.__slots__)
    resolved_as = {"allowed": "allowed_values"}
    assert {resolved_as.get(s, s) for s in FieldInfo.__slots__} <= set(
        ColumnSpec.__slots__
    )

    rebuilt = model_from_spec_json(Everything.spec_json())
    assert rebuilt.spec_json() == Everything.spec_json()
    assert rebuilt.columns == Everything.columns
    # derivation (select, rename, ...) resolves each column's Field() again
    for model in (rebuilt, rebuilt.rename({}), Everything.select(Everything.columns)):
        for name, spec in Everything.specs.items():
            assert _slots(model.specs[name]) == _slots(spec), name


class Exact(pt.Model):
    p: int
    dec: decimal.Decimal = pt.Field(ge=decimal.Decimal("0"))
    n: int = pt.Field(dtype="uint64")
    span: dt.timedelta = pt.Field(ge=dt.timedelta(0), lt=dt.timedelta(days=1))
    days: list[dt.date] = pt.Field(ge=dt.date(2020, 1, 1))
    xs: list[int] = pt.Field(min_length=1)


def test_jobs_main_matches_find_errors_on_decimal_unsigned_interval(spark, tmp_path):
    """The model ``jobs.main`` rebuilds from a spec file stores, per
    partition, exactly the violations ``find_errors`` reports with the
    Python model: decimal columns stay decimal (no dtype errors), uint64's
    range holds past 2^63, timedelta bounds stay intervals, a bound on a
    list holds for each item (a row counts once when any item fails) and a
    length on a list measures the list.  ``flag_violations`` flags exactly
    the columns where ``Exact(**row)`` raises."""
    day = dt.date
    df = spark.createDataFrame(
        [
            (0, decimal.Decimal("1.5"), decimal.Decimal(5), dt.timedelta(hours=1),
             [day(2021, 1, 1)], [1]),
            (0, decimal.Decimal("-1.5"), decimal.Decimal(5), dt.timedelta(days=2),
             [day(2019, 12, 31), day(2021, 1, 1)], [1]),
            (1, decimal.Decimal("2.5"), decimal.Decimal(-1), dt.timedelta(hours=-1),
             [], []),
            (1, decimal.Decimal("0.5"), decimal.Decimal(2**64), dt.timedelta(0),
             [day(2018, 1, 1), day(2019, 1, 1)], [2, 3]),
        ],
        "p bigint, dec decimal(10,2), n decimal(20,0), span interval day to second, "
        "days array<date>, xs array<bigint>",
    )
    spec = tmp_path / "spec.json"
    spec.write_text(Exact.spec_json())
    data = str(tmp_path / "input")
    df.write.parquet(data)
    ckpt = str(tmp_path / "ckpt")
    assert jobs.main(
        ["--spec", str(spec), "--input", data, "--partition-col", "p",
         "--checkpoint-dir", ckpt]
    ) == 0

    keys = ("partition", "column", "error_type", "message", "violation_count")
    stored = sorted(
        tuple(r[k] for k in keys)
        for r in spark.read.parquet(f"{ckpt}/violations").collect()
    )
    table = spark.read.parquet(data)
    want = sorted(
        (str(p), e.loc_tuple()[0], get_exc_type(type(e.exc)), str(e.exc),
         int(getattr(e.exc, "count", 1)))
        for p in (0, 1)
        for e in find_errors(table.where(F.col("p") == p), Exact)
    )
    assert stored == want
    assert [(r[0], r[1], r[4]) for r in want] == [
        ("0", "days", 1), ("0", "dec", 1), ("0", "span", 1),
        ("1", "days", 1), ("1", "n", 2), ("1", "span", 1), ("1", "xs", 1),
    ]

    flagged = []
    for r in flag_violations(df, Exact).collect():
        try:
            Exact(**{n: r[n] for n in Exact.columns})
            raised = set()
        except pt.DataFrameValidationError as exc:
            raised = {e["loc"][0].split(".")[0] for e in exc.errors()}
        assert {n.split("__")[0] for n in r["_violations"]} == raised, r
        flagged.append(sorted(r["_violations"]))
    assert flagged == [
        [],
        ["days__bound0", "dec__bound0", "span__bound0"],
        ["n__bound1", "span__bound1", "xs__bound0"],
        ["days__bound0", "n__bound0"],
    ]


class Literals(pt.Model):
    """Custom constraints, ``derived_from``, ``is_in`` and ``fill_null``
    holding literals JSON cannot hold as is."""

    p: int
    day: dt.date = pt.Field(constraints=pt.field >= dt.date(2020, 1, 1))
    ts: Optional[dt.datetime] = pt.Field(
        constraints=pt.field.fill_null(dt.datetime(2021, 1, 1))
        < dt.datetime(2030, 1, 1, 0, 0, 0, 250)
    )
    span: dt.timedelta = pt.Field(constraints=pt.field < dt.timedelta(days=1))
    raw: bytes = pt.Field(constraints=pt.field.is_in([b"\x00", b"\x01"]))
    amount: Optional[decimal.Decimal] = pt.Field(
        dtype="decimal(10,2)",
        constraints=pt.field.fill_null(decimal.Decimal("0")) <= decimal.Decimal("9.99"),
    )
    amount_or_half: decimal.Decimal = pt.Field(
        dtype="decimal(10,2)",
        derived_from=pt.col("amount").fill_null(decimal.Decimal("0.5")),
    )


def test_expr_literals_survive_the_spec_and_every_router(spark, tmp_path):
    """A model whose expressions hold date, datetime, timedelta, bytes and
    Decimal literals ships as a spec and routes rows: the rebuilt model
    carries every expression unchanged, ``write_validated`` quarantines the
    rows ``flag_violations`` flags, and ``jobs.main`` stores what
    ``find_errors`` reports with the Python model."""
    spec_json = Literals.spec_json()
    rebuilt = model_from_spec_json(spec_json)
    assert rebuilt.spec_json() == spec_json
    for name, spec in Literals.specs.items():
        got = rebuilt.specs[name]
        assert [c.serialize() for c in got.constraints or ()] == [
            c.serialize() for c in spec.constraints or ()
        ], name
        if spec.derived_from is not None:
            assert got.derived_from.serialize() == spec.derived_from.serialize()

    day, d = dt.date, decimal.Decimal
    df = spark.createDataFrame(
        [
            (0, day(2020, 6, 1), None, dt.timedelta(hours=1), b"\x00", d("1.00"), d("1.00")),
            (0, day(2019, 12, 31), dt.datetime(2031, 1, 1), dt.timedelta(days=2),
             b"\x02", d("10.00"), d("10.00")),
            (1, day(2021, 1, 1), dt.datetime(2022, 1, 1), dt.timedelta(0), b"\x01",
             None, d("0.50")),
            (1, day(2020, 1, 1), None, dt.timedelta(days=1), b"\x01", d("9.99"), d("9.99")),
        ],
        "p bigint, day date, ts timestamp, span interval day to second, raw binary, "
        "amount decimal(10,2), amount_or_half decimal(10,2)",
    )
    flagged = {
        (r["p"], r["day"]): sorted(r["_violations"])
        for r in flag_violations(df, Literals).where(~F.col("_valid")).collect()
    }
    assert flagged == {
        (0, day(2019, 12, 31)): [
            "amount__constraint", "day__constraint", "raw__constraint",
            "span__constraint", "ts__constraint",
        ],
        (1, day(2020, 1, 1)): ["span__constraint"],
    }
    counts = write_validated(
        df, Literals, str(tmp_path / "good"), str(tmp_path / "bad")
    )
    assert counts == {"written": 2, "quarantined": 2}
    quarantined = spark.read.parquet(str(tmp_path / "bad")).collect()
    assert {(r["p"], r["day"]): sorted(r["_violations"]) for r in quarantined} == flagged

    spec = tmp_path / "spec.json"
    spec.write_text(spec_json)
    data = str(tmp_path / "input")
    df.write.parquet(data)
    ckpt = str(tmp_path / "ckpt")
    assert jobs.main(
        ["--spec", str(spec), "--input", data, "--partition-col", "p",
         "--checkpoint-dir", ckpt]
    ) == 0
    keys = ("partition", "column", "error_type", "message", "violation_count")
    stored = sorted(
        tuple(r[k] for k in keys)
        for r in spark.read.parquet(f"{ckpt}/violations").collect()
    )
    table = spark.read.parquet(data)
    want = sorted(
        (str(p), e.loc_tuple()[0], get_exc_type(type(e.exc)), str(e.exc),
         int(getattr(e.exc, "count", 1)))
        for p in (0, 1)
        for e in find_errors(table.where(F.col("p") == p), Literals)
    )
    assert stored == want
    assert [(r[0], r[1]) for r in want] == [
        ("0", "amount"), ("0", "day"), ("0", "raw"), ("0", "span"), ("0", "ts"),
        ("1", "span"),
    ]


# ---------------------------------------------------------------------------
# one compiled plan per (model, schema, options); find_errors' two jobs
# overlap; the router's `_valid` reads the predicates directly
# ---------------------------------------------------------------------------


class Small(pt.Model):
    a: int = pt.Field(unique=True, ge=0)
    b: str = pt.Field(allowed=["x"])
    c: int
    d: Optional[int] = pt.Field(le=5)


@pytest.fixture(scope="module")
def small(spark):
    return spark.createDataFrame(
        [(1, "x", "j", 1), (1, "y", "j", 9), (-1, "x", "j", 2), (2, "x", "j", None)],
        "a bigint, b string, junk string, d bigint",
    )


def _compile_counter(monkeypatch) -> dict:
    """A fresh, empty memo and a count of ``_compile_level`` entries (one
    per compile for the flat models below)."""
    from collections import OrderedDict

    from patito_spark.plans import checks

    monkeypatch.setattr(checks, "_memo", OrderedDict())
    entered = {"n": 0}
    compile_level = checks._compile_level

    def counting(*args, **kwargs):
        entered["n"] += 1
        return compile_level(*args, **kwargs)

    monkeypatch.setattr(checks, "_compile_level", counting)
    return entered


def test_compile_memo_compiles_once_per_schema_and_options(
    spark, small, tmp_path, monkeypatch
):
    from patito_spark.plans import checks

    entered = _compile_counter(monkeypatch)
    first = find_errors(small, Small)
    assert entered["n"] == 1
    assert [str(e.exc) for e in find_errors(small, Small)] == [
        str(e.exc) for e in first
    ]
    assert entered["n"] == 1
    # schema errors handed out are fresh objects, never the shared plan's
    again = find_errors(small, Small)
    assert all(x is not y for x, y in zip(first, again))

    flag_violations(small, Small)  # row mode reads find_errors' plan
    assert entered["n"] == 1
    flag_violations(small, Small)
    flag_violations(small.select("a", "b", "junk", "d"), Small)  # equal schema
    assert entered["n"] == 1

    runner = ValidationRunner(Small, "a")
    runner.run(small)
    compiled = entered["n"]
    runner.run(small)
    ValidationRunner(Small, "a", checkpoint_dir=str(tmp_path / "ckpt")).run(small)
    assert entered["n"] == compiled

    find_errors(small.drop("junk"), Small)  # another schema
    assert entered["n"] == compiled + 1
    find_errors(small, Small, allow_superfluous_columns=True)  # other options
    assert entered["n"] == compiled + 2
    find_errors(small, Small, columns=["a", "b"])
    assert entered["n"] == compiled + 3
    # every plan belongs to the context that built it
    assert all(key[0] is spark.sparkContext for key in checks._memo)


def test_compile_memo_is_bounded(spark, monkeypatch):
    import gc
    import weakref

    from pyspark.sql import types as T

    from patito_spark.plans import checks
    from patito_spark.plans.checks import compile_checks, row_flags

    entered = _compile_counter(monkeypatch)
    schema = T.StructType([T.StructField("v", T.LongType())])
    refs = []
    for i in range(checks._MEMO_SIZE + 10):
        local = type(f"Local{i}", (pt.Model,), {"__annotations__": {"v": int}})
        compile_checks(local, schema)
        row_flags(local, schema)
        refs.append(weakref.ref(local))
        assert len(checks._memo) <= checks._MEMO_SIZE
    del local
    assert entered["n"] == len(refs)  # row_flags reuses the plan
    gc.collect()
    # the models evicted from the memo are not kept alive by it
    assert refs[0]() is None


def _job_ids(spark) -> set:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def test_find_errors_overlap_keeps_job_group_and_error_order(spark, small):
    """Both concurrent branches launch their jobs in the caller's job group,
    and the errors keep their order: schema, aggregate, then duplicates."""
    sc = spark.sparkContext
    before = _job_ids(spark)
    sc.setJobGroup("find-errors-jobs", "find_errors")
    try:
        errors = find_errors(small, Small)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    launched = _job_ids(spark) - before
    grouped = set(sc.statusTracker().getJobIdsForGroup("find-errors-jobs"))
    assert launched and launched <= grouped, (launched, grouped)
    assert [(e.loc_tuple(), type(e.exc).__name__, str(e.exc)) for e in errors] == [
        (("c",), "MissingColumnsError", "Missing column"),
        (("junk",), "SuperfluousColumnsError", "Superfluous column"),
        (("a",), "RowValueError", "1 row with out of bound values."),
        (("b",), "RowValueError", "Rows with invalid values: {'y'}."),
        (("d",), "RowValueError", "1 row with out of bound values."),
        (("a",), "RowValueError", "2 rows with duplicated values."),
    ]


def test_find_errors_concurrent_branch_failures(small, monkeypatch):
    from patito_spark.plans import checks

    class AggregateFailed(Exception):
        pass

    class DuplicatesFailed(Exception):
        pass

    def duplicates_fail(*args):
        raise DuplicatesFailed()

    def aggregate_fail(*args):
        raise AggregateFailed()

    monkeypatch.setattr(checks, "_duplicate_counts", duplicates_fail)
    with pytest.raises(DuplicatesFailed):
        find_errors(small, Small)
    # both raise: the first branch in argument order (the aggregate) wins
    monkeypatch.setattr(checks, "_aggregate", aggregate_fail)
    with pytest.raises(AggregateFailed):
        find_errors(small, Small)


class OptionalKinds(pt.Model):
    kinds: Optional[list[Literal["a", "b"]]]


def test_valid_matches_empty_violations(spark, planted):
    """``_valid`` is set from the predicates, yet equals ``size(_violations)
    == 0`` on every row, NULL predicates included; the column order of the
    flagged frame and both sinks is unchanged."""
    from patito_spark.plans.checks import row_flags

    with_nulls = planted.unionByName(
        planted.limit(1).withColumn("kinds", F.lit(None).cast("array<string>"))
    )
    enum = row_flags(Planted, with_nulls.schema)["kinds__enum"]
    assert with_nulls.filter(enum.isNull()).count() == 1
    flagged = flag_violations(with_nulls, Planted)
    assert flagged.columns == [*planted.columns, "_violations", "_valid"]
    assert flagged.filter(F.col("_valid") != (F.size("_violations") == 0)).count() == 0
    assert flagged.filter(F.col("_valid").isNull()).count() == 0
    valid = flagged.filter(F.col("_valid")).drop("_valid", "_violations")
    quarantine = flagged.filter(~F.col("_valid")).drop("_valid")
    assert valid.columns == planted.columns
    assert quarantine.columns == [*planted.columns, "_violations"]

    # a NULL predicate alone is no violation
    lists = spark.createDataFrame([(None,), (["a"],), (["q"],)], "kinds array<string>")
    rows = flag_violations(lists, OptionalKinds).collect()
    assert [(r["_valid"], list(r["_violations"])) for r in rows] == [
        (True, []),
        (True, []),
        (False, ["kinds__enum"]),
    ]
    # no row-level check at all: every row valid, `_valid` first as before
    none = flag_violations(lists.select(F.lit(1).alias("x")), OptionalKinds)
    assert none.columns == ["x", "_valid", "_violations"]
