"""Serializable expression DSL compiled to ``pyspark.sql.Column``.

The reference smuggles serialized polars expressions through pydantic's
``json_schema_extra`` (patito ``_pydantic/column_info.py:25-141``) and relies
on ``Expr.meta.root_names()`` for derive's dependency resolution
(``polars.py:207-213``) and the ``"_"`` self-alias
(``validators.py:385-389``).  Spark ``Column`` exposes neither introspection
nor JSON serialization, so constraints / derived-from expressions are written
in this small DSL instead: a pure-Python tree that

- compiles to a native ``pyspark.sql.Column`` (JVM-side, whole-stage codegen —
  never a Python UDF),
- reports its referenced column names (``references()``) for topological
  derive ordering and ``_`` substitution,
- knows whether it contains an aggregate (``is_aggregate()``) so aggregate
  constraints like ``field.sum() == 1`` can be routed into the single-pass
  aggregation job, and
- round-trips to JSON so a full model spec is a shippable artifact.

Every op is one row of ``_OPS``: compiling applies the row's builder to the
node's arguments, each ``Expr`` argument compiled and every other argument
passed as written; a non-``Expr`` argument serializes through the spec's
value codec (``dtypes._encode_literal``).
"""

from __future__ import annotations

import json
import operator
from typing import Any, Callable, NamedTuple, Optional

from pyspark.sql import functions as F

from .dtypes import _decode_literal, _encode_literal


class _Op(NamedTuple):
    #: compiled arguments → ``Column``
    build: Callable
    #: the infix symbol ``repr`` writes between the two operands
    symbol: Optional[str] = None
    #: an aggregate is evaluated inside the single-pass ``.agg()`` job
    #: instead of as a per-row predicate
    agg: bool = False


_OPS = {
    "col": _Op(F.col),  # `to_column` compiles it with its resolver
    "lit": _Op(F.lit),
    "add": _Op(operator.add, "+"),
    "sub": _Op(operator.sub, "-"),
    "mul": _Op(operator.mul, "*"),
    "truediv": _Op(operator.truediv, "/"),
    "mod": _Op(operator.mod, "%"),
    "eq": _Op(operator.eq, "=="),
    "ne": _Op(operator.ne, "!="),
    "lt": _Op(operator.lt, "<"),
    "le": _Op(operator.le, "<="),
    "gt": _Op(operator.gt, ">"),
    "ge": _Op(operator.ge, ">="),
    "and": _Op(operator.and_, "&"),
    "or": _Op(operator.or_, "|"),
    "not": _Op(operator.invert),
    "neg": _Op(operator.neg),
    "alias": _Op(lambda c, name: c.alias(name)),
    "cast": _Op(lambda c, dtype: c.cast(dtype)),
    "is_null": _Op(lambda c: c.isNull()),
    "is_not_null": _Op(lambda c: c.isNotNull()),
    "isin": _Op(lambda c, values: c.isin(*values)),
    "rlike": _Op(lambda c, pattern: c.rlike(pattern)),
    "starts_with": _Op(lambda c, prefix: c.startswith(prefix)),
    "ends_with": _Op(lambda c, suffix: c.endswith(suffix)),
    "contains": _Op(lambda c, p, literal: c.contains(p) if literal else c.rlike(p)),
    "lower": _Op(F.lower),
    "upper": _Op(F.upper),
    "trim": _Op(F.trim),
    "fill_null": _Op(lambda c, value: F.coalesce(c, F.lit(value))),
    "char_length": _Op(F.char_length),
    "abs": _Op(F.abs),
    "floor": _Op(F.floor),
    "round": _Op(F.round),
    "getfield": _Op(lambda c, name: c.getField(name)),
    "sum": _Op(F.sum, agg=True),
    "count": _Op(F.count, agg=True),
    "mean": _Op(F.mean, agg=True),
    "min": _Op(F.min, agg=True),
    "max": _Op(F.max, agg=True),
    "n_unique": _Op(F.count_distinct, agg=True),
    "first": _Op(F.first, agg=True),
    "stddev": _Op(F.stddev, agg=True),
}


def _binary(op: str, reverse: bool = False) -> Callable:
    def method(self: "Expr", other: Any) -> "Expr":
        other = other if isinstance(other, Expr) else Expr("lit", other)
        return Expr(op, other, self) if reverse else Expr(op, self, other)

    return method


class Expr:
    """Immutable expression node: ``op`` + tuple of children/literal args."""

    __slots__ = ("op", "args")

    def __init__(self, op: str, *args: Any) -> None:
        if op not in _OPS:
            raise ValueError(f"Unknown expression op: {op!r}")
        object.__setattr__(self, "op", op)
        object.__setattr__(self, "args", tuple(args))

    def __setattr__(self, *a: Any) -> None:  # pragma: no cover
        raise AttributeError("Expr is immutable")

    # arithmetic, comparison and boolean operators
    __add__, __radd__ = _binary("add"), _binary("add", True)
    __sub__, __rsub__ = _binary("sub"), _binary("sub", True)
    __mul__, __rmul__ = _binary("mul"), _binary("mul", True)
    __truediv__, __rtruediv__ = _binary("truediv"), _binary("truediv", True)
    __mod__, __rmod__ = _binary("mod"), _binary("mod", True)
    __eq__, __ne__ = _binary("eq"), _binary("ne")  # type: ignore[assignment]
    __lt__, __le__ = _binary("lt"), _binary("le")
    __gt__, __ge__ = _binary("gt"), _binary("ge")
    __and__, __rand__ = _binary("and"), _binary("and", True)
    __or__, __ror__ = _binary("or"), _binary("or", True)

    def __neg__(self) -> "Expr":
        return Expr("neg", self)

    def __invert__(self) -> "Expr":
        return Expr("not", self)

    def not_(self) -> "Expr":
        return Expr("not", self)

    # hashing must survive __eq__ override (Expr == Expr returns an Expr)
    def __hash__(self) -> int:
        return hash((self.op, len(self.args)))

    # methods
    def alias(self, name: str) -> "Expr":
        return Expr("alias", self, name)

    def cast(self, dtype: str) -> "Expr":
        """Cast using a Spark SQL type name string (e.g. ``"bigint"``)."""
        return Expr("cast", self, dtype)

    def is_null(self) -> "Expr":
        return Expr("is_null", self)

    def is_not_null(self) -> "Expr":
        return Expr("is_not_null", self)

    def is_in(self, values: list) -> "Expr":
        return Expr("isin", self, list(values))

    def rlike(self, pattern: str) -> "Expr":
        return Expr("rlike", self, pattern)

    def str_starts_with(self, prefix: str) -> "Expr":
        return Expr("starts_with", self, prefix)

    def str_ends_with(self, suffix: str) -> "Expr":
        return Expr("ends_with", self, suffix)

    def str_contains(self, pattern: str, literal: bool = False) -> "Expr":
        """Substring / regex containment (regex by default, like polars
        ``str.contains``; ``literal=True`` for plain substring match)."""
        return Expr("contains", self, pattern, literal)

    def str_to_lowercase(self) -> "Expr":
        return Expr("lower", self)

    def str_to_uppercase(self) -> "Expr":
        return Expr("upper", self)

    def str_strip_chars(self) -> "Expr":
        return Expr("trim", self)

    def fill_null(self, value: Any) -> "Expr":
        return Expr("fill_null", self, value)

    def str_len_chars(self) -> "Expr":
        return Expr("char_length", self)

    def abs(self) -> "Expr":
        return Expr("abs", self)

    def floor(self) -> "Expr":
        return Expr("floor", self)

    def round(self, scale: int = 0) -> "Expr":
        return Expr("round", self, scale)

    def struct_field(self, name: str) -> "Expr":
        return Expr("getfield", self, name)

    # aggregates
    def sum(self) -> "Expr":
        return Expr("sum", self)

    def count(self) -> "Expr":
        return Expr("count", self)

    def mean(self) -> "Expr":
        return Expr("mean", self)

    def min(self) -> "Expr":
        return Expr("min", self)

    def max(self) -> "Expr":
        return Expr("max", self)

    def n_unique(self) -> "Expr":
        return Expr("n_unique", self)

    def stddev(self) -> "Expr":
        return Expr("stddev", self)

    # -- introspection ---------------------------------------------------------
    def _children(self) -> list:
        return [a for a in self.args if isinstance(a, Expr)]

    def references(self) -> frozenset:
        """Names of all columns this expression reads (≈ polars ``root_names``)."""
        if self.op == "col":
            return frozenset(self.args[:1])
        return frozenset().union(*(a.references() for a in self._children()))

    def is_aggregate(self) -> bool:
        return _OPS[self.op].agg or any(a.is_aggregate() for a in self._children())

    def reads_rows(self) -> bool:
        """True if this expression reads a column outside every aggregate
        subtree: an aggregate constraint that does is a mixed one."""
        if _OPS[self.op].agg:
            return False
        return self.op == "col" or any(a.reads_rows() for a in self._children())

    def extract_aggregates(self, acc: dict) -> "Expr":
        """Replace each maximal aggregate subtree with a placeholder column.

        Placeholders accumulate in *acc* (name → subtree); the result is a
        pure row-level expression.  The check compiler evaluates the
        subtrees in the single-pass aggregation, then resolves the
        placeholders to their values in a second pass — reproducing polars'
        broadcast of aggregates over filters (reference test at
        ``tests/test_validators.py:886-894``).
        """
        if _OPS[self.op].agg:
            placeholder = f"__aggph{len(acc)}"
            acc[placeholder] = self
            return Expr("col", placeholder)
        return Expr(
            self.op,
            *(
                a.extract_aggregates(acc) if isinstance(a, Expr) else a
                for a in self.args
            ),
        )

    # -- compile ----------------------------------------------------------------
    def to_column(self, resolve=None):
        """Compile to a native ``pyspark.sql.Column``; *resolve* maps each
        referenced column name to its Column (default ``F.col``)."""
        resolve = resolve or F.col
        build = resolve if self.op == "col" else _OPS[self.op].build
        return build(
            *(a.to_column(resolve) if isinstance(a, Expr) else a for a in self.args)
        )

    # -- serialization ----------------------------------------------------------
    def to_dict(self) -> dict:
        return {
            "op": self.op,
            "args": [
                a.to_dict() if isinstance(a, Expr) else _encode_literal(a)
                for a in self.args
            ],
        }

    @staticmethod
    def from_dict(d: dict) -> "Expr":
        args = [
            Expr.from_dict(a) if "op" in a else _decode_literal(a)
            for a in d.get("args", [])
        ]
        return Expr(d["op"], *args)

    def serialize(self) -> str:
        return json.dumps(self.to_dict(), separators=(",", ":"))

    @staticmethod
    def deserialize(s: str) -> "Expr":
        return Expr.from_dict(json.loads(s))

    def __repr__(self) -> str:
        symbol = _OPS[self.op].symbol
        if symbol:
            return f"({self.args[0]!r} {symbol} {self.args[1]!r})"
        return f"{self.op}({', '.join(map(repr, self.args))})"


def col(name: str) -> Expr:
    """Reference a column by name."""
    return Expr("col", name)


def lit(value: Any) -> Expr:
    """A literal value."""
    return Expr("lit", value)


#: Alias for "the column this constraint is attached to"
#: (reference: ``pt.field = pl.col("_")``, ``src/patito/__init__.py:11``).
field = col("_")
