"""Cross-mode parity: every executor of the compiled checks gives the same
verdict on the same rows.

One planted-violation matrix, spread over three partitions, runs through
``find_errors`` (unkeyed aggregate executor), ``ValidationRunner`` (the
same executor keyed by partition), ``flag_violations`` and
``windowed_violation_counts`` (the row executor), and ``jobs.main``.
"""

import datetime as dt
import json
from typing import Literal, Optional

import pytest
from pyspark.sql import functions as F

import patito_spark as pt
from patito_spark import jobs
from patito_spark.plans.checks import find_errors
from patito_spark.plans.runner import ValidationRunner
from patito_spark.spec import model_from_spec_json
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

    flag_violations(small, Small)  # row mode: other options, one compile
    assert entered["n"] == 2
    flag_violations(small, Small)
    flag_violations(small.select("a", "b", "junk", "d"), Small)  # equal schema
    assert entered["n"] == 2

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
    assert entered["n"] == 2 * len(refs)
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
