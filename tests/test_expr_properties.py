"""Tests for the expression DSL: golden compilation of every op, and
property-based round trips (hypothesis).

The DSL is the engine's serialization boundary (specs ship to executors /
checkpoint tables), so round-trip fidelity and introspection consistency
are worth fuzzing beyond examples.
"""

import datetime as dt
import decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from patito_spark.expr import _OPS, Expr, col, field, lit

_a, _b, _s = col("a"), col("b"), col("s")

#: one expression per op (and per literal type) → ``str(e.to_column())``
GOLDEN = [
    (_a, "Column<'a'>"),
    (lit(3), "Column<'3'>"),
    (lit(dt.date(2020, 1, 2)), "Column<'2020-01-02'>"),
    (lit(dt.datetime(2020, 1, 2, 3, 4, 5)), "Column<'2020-01-02 03:04:05.0'>"),
    (lit(dt.timedelta(hours=1)), "Column<'PT1H'>"),
    (lit(decimal.Decimal("1.25")), "Column<'1.25'>"),
    (_a + _b, "Column<'+(a, b)'>"),
    (1 + _a, "Column<'+(1, a)'>"),
    (_a - 1, "Column<'-(a, 1)'>"),
    (1 - _a, "Column<'-(1, a)'>"),
    (_a * 2, "Column<'*(a, 2)'>"),
    (_a / _b, "Column<'/(a, b)'>"),
    (1 / _a, "Column<'/(1, a)'>"),
    (_a % 2, "Column<'%(a, 2)'>"),
    (_a == 1, "Column<'=(a, 1)'>"),
    (_a != _b, "Column<'!(=(a, b))'>"),
    (_a < 1, "Column<'<(a, 1)'>"),
    (_a <= 1, "Column<'<=(a, 1)'>"),
    (_a > 1, "Column<'>(a, 1)'>"),
    (_a >= dt.date(2020, 1, 1), "Column<'>=(a, 2020-01-01)'>"),
    ((_a > 1) & (_b < 2), "Column<'and(>(a, 1), <(b, 2))'>"),
    ((_a > 1) | (_b < 2), "Column<'or(>(a, 1), <(b, 2))'>"),
    (~(_a > 1), "Column<'!(>(a, 1))'>"),
    ((_a > 1).not_(), "Column<'!(>(a, 1))'>"),
    (-_a, "Column<'negative(a)'>"),
    (_a.alias("x"), "Column<'a AS x'>"),
    (_a.cast("bigint"), "Column<'CAST(a AS BIGINT)'>"),
    (_a.is_null(), "Column<'isNull(a)'>"),
    (_a.is_not_null(), "Column<'isNotNull(a)'>"),
    (_s.is_in(["x", "y"]), "Column<'in(s, 'x', 'y')'>"),
    (
        _a.is_in([dt.date(2020, 1, 1), dt.date(2021, 1, 1)]),
        "Column<'in(a, 2020-01-01, 2021-01-01)'>",
    ),
    (_s.rlike("^a"), "Column<'rlike(s, '^a')'>"),
    (_s.str_starts_with("p"), "Column<'startswith(s, 'p')'>"),
    (_s.str_ends_with("q"), "Column<'endswith(s, 'q')'>"),
    (_s.str_contains("a.b"), "Column<'rlike(s, 'a.b')'>"),
    (_s.str_contains("a.b", literal=True), "Column<'contains(s, 'a.b')'>"),
    (_s.str_to_lowercase(), "Column<'lower(s)'>"),
    (_s.str_to_uppercase(), "Column<'upper(s)'>"),
    (_s.str_strip_chars(), "Column<'trim(s)'>"),
    (_a.fill_null(0), "Column<'coalesce(a, 0)'>"),
    (_a.fill_null(decimal.Decimal("0.5")), "Column<'coalesce(a, 0.5)'>"),
    (_s.str_len_chars(), "Column<'char_length(s)'>"),
    (_a.abs(), "Column<'abs(a)'>"),
    (_a.floor(), "Column<'floor(a)'>"),
    (_a.round(2), "Column<'round(a, 2)'>"),
    (col("st").struct_field("k"), "Column<'st['k']'>"),
    (_a.sum(), "Column<'sum(a)'>"),
    (_a.count(), "Column<'count(a)'>"),
    (_a.mean(), "Column<'avg(a)'>"),
    (_a.min(), "Column<'min(a)'>"),
    (_a.max(), "Column<'max(a)'>"),
    (_a.n_unique(), "Column<'count(a)'>"),
    (Expr("first", _a), "Column<'first(a, false)'>"),
    (_a.stddev(), "Column<'stddev(a)'>"),
    (field - field.mean() < 2, "Column<'<(-(_, avg(_)), 2)'>"),
    (field.sum() == 1, "Column<'=(sum(_), 1)'>"),
]


def test_every_op_compiles_to_its_golden_column(spark):
    """Each op compiles to the Column string it compiled to before the op
    table, and so does its JSON round trip."""
    assert {e.op for e, _ in GOLDEN} == set(_OPS)
    for e, want in GOLDEN:
        back = Expr.deserialize(e.serialize())
        assert (str(e.to_column()), str(back.to_column())) == (want, want), e
        assert repr(back) == repr(e)


def test_serialized_bytes():
    """A literal JSON holds keeps its bytes; one it cannot hold is tagged
    with the Spark type that decodes it, and comes back equal."""
    assert (field - field.mean() < 2).serialize() == (
        '{"op":"lt","args":[{"op":"sub","args":[{"op":"col","args":[{"v":"_"}]},'
        '{"op":"mean","args":[{"op":"col","args":[{"v":"_"}]}]}]},'
        '{"op":"lit","args":[{"v":2}]}]}'
    )
    assert _s.str_contains("a.b", literal=True).serialize() == (
        '{"op":"contains","args":[{"op":"col","args":[{"v":"s"}]},'
        '{"v":"a.b"},{"v":true}]}'
    )
    assert _s.is_in(["x", None]).serialize() == (
        '{"op":"isin","args":[{"op":"col","args":[{"v":"s"}]},{"v":["x",null]}]}'
    )
    assert (_a >= dt.date(2020, 1, 1)).serialize() == (
        '{"op":"ge","args":[{"op":"col","args":[{"v":"a"}]},'
        '{"op":"lit","args":[{"v":"2020-01-01","t":"date"}]}]}'
    )
    values = [
        dt.date(2020, 1, 2),
        dt.datetime(2020, 1, 2, 3, 4, 5, 6),
        dt.datetime(2020, 1, 2, tzinfo=dt.timezone.utc),
        dt.timedelta(days=1, microseconds=7),
        dt.time(12, 30, 1),
        b"\x00\xff",
        decimal.Decimal("-1.250"),
    ]
    for v in values:
        for e in (lit(v), _a.fill_null(v), _a.is_in([v, None])):
            back = Expr.deserialize(e.serialize())
            assert back.args[-1] == e.args[-1] and type(back.args[-1]) is type(
                e.args[-1]
            ), e
    with pytest.raises(TypeError, match="mixes"):
        _a.is_in([dt.date(2020, 1, 1), decimal.Decimal(1)]).serialize()
    with pytest.raises(ValueError, match="Unknown expression op"):
        Expr.deserialize('{"op":"nope","args":[]}')


_names = st.sampled_from(["a", "b", "c", "_", "x1", "long_name"])
_scalars = st.one_of(
    st.integers(-1000, 1000),
    st.floats(-100, 100, allow_nan=False),
    st.text(max_size=8),
    st.booleans(),
    st.dates(),
    st.datetimes(),
    st.timedeltas(-dt.timedelta(days=3650), dt.timedelta(days=3650)),
    st.binary(max_size=4),
    st.decimals(allow_nan=False, allow_infinity=False, places=3),
)


def _exprs(depth: int = 3) -> st.SearchStrategy:
    leaf = st.one_of(_names.map(col), _scalars.map(lit))
    if depth == 0:
        return leaf
    sub = _exprs(depth - 1)
    binop = st.tuples(
        st.sampled_from(["add", "sub", "mul", "eq", "lt", "ge", "and", "or", "mod"]),
        sub,
        sub,
    ).map(lambda t: Expr(t[0], t[1], t[2]))
    unary = st.tuples(
        st.sampled_from(["not", "neg", "is_null", "abs", "sum", "mean", "min",
                         "max", "count", "lower", "upper", "trim"]),
        sub,
    ).map(lambda t: Expr(t[0], t[1]))
    methods = st.one_of(
        st.tuples(sub, st.sampled_from(["p1", "p2"])).map(
            lambda t: t[0].rlike(t[1])
        ),
        st.tuples(sub, st.sampled_from(["p", "q"])).map(
            lambda t: t[0].str_starts_with(t[1])
        ),
        st.tuples(sub, st.sampled_from(["p", "q"]), st.booleans()).map(
            lambda t: t[0].str_contains(t[1], literal=t[2])
        ),
        st.tuples(sub, _scalars).map(lambda t: t[0].fill_null(t[1])),
    )
    return st.one_of(leaf, binop, unary, methods)


def _literals(e: Expr) -> list:
    """Every non-``Expr`` argument of *e*, with its type."""
    return [
        lit
        for a in e.args
        for lit in (_literals(a) if isinstance(a, Expr) else [(type(a), a)])
    ]


@settings(max_examples=200, deadline=None)
@given(_exprs())
def test_serialize_roundtrip_identity(e):
    back = Expr.deserialize(e.serialize())
    assert back.serialize() == e.serialize()
    assert _literals(back) == _literals(e)
    assert back.references() == e.references()
    assert back.is_aggregate() == e.is_aggregate()


@settings(max_examples=200, deadline=None)
@given(_exprs())
def test_extract_aggregates_leaves_pure_row_expr(e):
    acc = {}
    pure = e.extract_aggregates(acc)
    assert not pure.is_aggregate()
    for sub in acc.values():
        assert sub.is_aggregate()
    # placeholders appear exactly as references when aggregates existed
    if e.is_aggregate():
        assert acc
        assert any(ph in pure.references() for ph in acc)
