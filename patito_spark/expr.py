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
"""

from __future__ import annotations

import json
from typing import Any, Optional

# Aggregate op names: an Expr containing any of these is evaluated inside the
# single-pass .agg() job instead of as a per-row predicate.
_AGG_OPS = frozenset(
    {"sum", "count", "mean", "min", "max", "n_unique", "first", "stddev"}
)

_BINARY_OPS = {
    "add": "+",
    "sub": "-",
    "mul": "*",
    "truediv": "/",
    "mod": "%",
    "eq": "==",
    "ne": "!=",
    "lt": "<",
    "le": "<=",
    "gt": ">",
    "ge": ">=",
    "and": "&",
    "or": "|",
}


class Expr:
    """Immutable expression node: ``op`` + tuple of children/literal args."""

    __slots__ = ("op", "args")

    def __init__(self, op: str, *args: Any) -> None:
        object.__setattr__(self, "op", op)
        object.__setattr__(self, "args", tuple(args))

    def __setattr__(self, *a: Any) -> None:  # pragma: no cover
        raise AttributeError("Expr is immutable")

    # -- construction helpers -------------------------------------------------
    @staticmethod
    def _wrap(value: Any) -> "Expr":
        return value if isinstance(value, Expr) else Expr("lit", value)

    def _bin(self, op: str, other: Any, reverse: bool = False) -> "Expr":
        other = Expr._wrap(other)
        return Expr(op, other, self) if reverse else Expr(op, self, other)

    # arithmetic
    def __add__(self, o: Any) -> "Expr":
        return self._bin("add", o)

    def __radd__(self, o: Any) -> "Expr":
        return self._bin("add", o, True)

    def __sub__(self, o: Any) -> "Expr":
        return self._bin("sub", o)

    def __rsub__(self, o: Any) -> "Expr":
        return self._bin("sub", o, True)

    def __mul__(self, o: Any) -> "Expr":
        return self._bin("mul", o)

    def __rmul__(self, o: Any) -> "Expr":
        return self._bin("mul", o, True)

    def __truediv__(self, o: Any) -> "Expr":
        return self._bin("truediv", o)

    def __rtruediv__(self, o: Any) -> "Expr":
        return self._bin("truediv", o, True)

    def __mod__(self, o: Any) -> "Expr":
        return self._bin("mod", o)

    def __rmod__(self, o: Any) -> "Expr":
        return self._bin("mod", o, True)

    def __neg__(self) -> "Expr":
        return Expr("neg", self)

    # comparison
    def __eq__(self, o: Any) -> "Expr":  # type: ignore[override]
        return self._bin("eq", o)

    def __ne__(self, o: Any) -> "Expr":  # type: ignore[override]
        return self._bin("ne", o)

    def __lt__(self, o: Any) -> "Expr":
        return self._bin("lt", o)

    def __le__(self, o: Any) -> "Expr":
        return self._bin("le", o)

    def __gt__(self, o: Any) -> "Expr":
        return self._bin("gt", o)

    def __ge__(self, o: Any) -> "Expr":
        return self._bin("ge", o)

    # boolean
    def __and__(self, o: Any) -> "Expr":
        return self._bin("and", o)

    def __rand__(self, o: Any) -> "Expr":
        return self._bin("and", o, True)

    def __or__(self, o: Any) -> "Expr":
        return self._bin("or", o)

    def __ror__(self, o: Any) -> "Expr":
        return self._bin("or", o, True)

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
    def references(self) -> frozenset:
        """Names of all columns this expression reads (≈ polars ``root_names``)."""
        out: set = set()
        _collect_refs(self, out)
        return frozenset(out)

    def is_aggregate(self) -> bool:
        if self.op in _AGG_OPS:
            return True
        return any(a.is_aggregate() for a in self.args if isinstance(a, Expr))

    def substitute(self, mapping: dict) -> "Expr":
        """Return a copy with ``col(name)`` nodes renamed via *mapping*.

        Used to bind the ``"_"`` self-alias to the field's actual column
        (reference semantics at ``validators.py:385-389``).
        """
        if self.op == "col":
            name = self.args[0]
            return Expr("col", mapping.get(name, name))
        return Expr(
            self.op,
            *(
                a.substitute(mapping) if isinstance(a, Expr) else a
                for a in self.args
            ),
        )

    def substitute_values(self, mapping: dict) -> "Expr":
        """Replace ``col(name)`` nodes with literal values via *mapping*.

        Used to splice pre-computed aggregate scalars back into a mixed
        aggregate/row constraint for the verification pass.
        """
        if self.op == "col" and self.args[0] in mapping:
            return Expr("lit", mapping[self.args[0]])
        return Expr(
            self.op,
            *(
                a.substitute_values(mapping) if isinstance(a, Expr) else a
                for a in self.args
            ),
        )

    def extract_aggregates(self, acc: dict) -> "Expr":
        """Replace each maximal aggregate subtree with a placeholder column.

        Placeholders accumulate in *acc* (name → subtree); the result is a
        pure row-level expression.  The check compiler evaluates the
        subtrees in the single-pass aggregation, then resolves the
        placeholders to their values in a second pass — reproducing polars'
        broadcast of aggregates over filters (reference test at
        ``tests/test_validators.py:886-894``).
        """
        if self.op in _AGG_OPS:
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
        from pyspark.sql import functions as F

        return _compile(self, F, resolve or F.col)

    # -- serialization ----------------------------------------------------------
    def to_dict(self) -> dict:
        return {
            "op": self.op,
            "args": [
                a.to_dict() if isinstance(a, Expr) else {"v": a} for a in self.args
            ],
        }

    @staticmethod
    def from_dict(d: dict) -> "Expr":
        args = [
            Expr.from_dict(a) if "op" in a else a["v"] for a in d.get("args", [])
        ]
        return Expr(d["op"], *args)

    def serialize(self) -> str:
        return json.dumps(self.to_dict(), separators=(",", ":"))

    @staticmethod
    def deserialize(s: str) -> "Expr":
        return Expr.from_dict(json.loads(s))

    def __repr__(self) -> str:
        if self.op == "col":
            return f"col({self.args[0]!r})"
        if self.op == "lit":
            return f"lit({self.args[0]!r})"
        if self.op in _BINARY_OPS:
            return f"({self.args[0]!r} {_BINARY_OPS[self.op]} {self.args[1]!r})"
        return f"{self.op}({', '.join(map(repr, self.args))})"


def _collect_refs(e: Expr, out: set) -> None:
    if e.op == "col":
        out.add(e.args[0])
        return
    for a in e.args:
        if isinstance(a, Expr):
            _collect_refs(a, out)


def _compile(e: Expr, F, resolve):
    op = e.op
    if op == "col":
        return resolve(e.args[0])
    if op == "lit":
        return F.lit(e.args[0])
    if op in _BINARY_OPS:
        left = _compile(e.args[0], F, resolve)
        right = _compile(e.args[1], F, resolve)
        return {
            "add": lambda a, b: a + b,
            "sub": lambda a, b: a - b,
            "mul": lambda a, b: a * b,
            "truediv": lambda a, b: a / b,
            "mod": lambda a, b: a % b,
            "eq": lambda a, b: a == b,
            "ne": lambda a, b: a != b,
            "lt": lambda a, b: a < b,
            "le": lambda a, b: a <= b,
            "gt": lambda a, b: a > b,
            "ge": lambda a, b: a >= b,
            "and": lambda a, b: a & b,
            "or": lambda a, b: a | b,
        }[op](left, right)
    child = (
        _compile(e.args[0], F, resolve)
        if e.args and isinstance(e.args[0], Expr)
        else None
    )
    if op == "not":
        return ~child
    if op == "neg":
        return -child
    if op == "alias":
        return child.alias(e.args[1])
    if op == "cast":
        return child.cast(e.args[1])
    if op == "is_null":
        return child.isNull()
    if op == "is_not_null":
        return child.isNotNull()
    if op == "isin":
        return child.isin(*e.args[1])
    if op == "rlike":
        return child.rlike(e.args[1])
    if op == "starts_with":
        return child.startswith(e.args[1])
    if op == "ends_with":
        return child.endswith(e.args[1])
    if op == "contains":
        return child.contains(e.args[1]) if e.args[2] else child.rlike(e.args[1])
    if op == "lower":
        return F.lower(child)
    if op == "upper":
        return F.upper(child)
    if op == "trim":
        return F.trim(child)
    if op == "fill_null":
        return F.coalesce(child, F.lit(e.args[1]))
    if op == "char_length":
        return F.char_length(child)
    if op == "abs":
        return F.abs(child)
    if op == "floor":
        return F.floor(child)
    if op == "round":
        return F.round(child, e.args[1])
    if op == "getfield":
        return child.getField(e.args[1])
    if op == "sum":
        return F.sum(child)
    if op == "count":
        return F.count(child)
    if op == "mean":
        return F.mean(child)
    if op == "min":
        return F.min(child)
    if op == "max":
        return F.max(child)
    if op == "n_unique":
        return F.count_distinct(child)
    if op == "first":
        return F.first(child)
    if op == "stddev":
        return F.stddev(child)
    raise ValueError(f"Unknown expression op: {op!r}")


def col(name: str) -> Expr:
    """Reference a column by name."""
    return Expr("col", name)


def lit(value: Any) -> Expr:
    """A literal value."""
    return Expr("lit", value)


#: Alias for "the column this constraint is attached to"
#: (reference: ``pt.field = pl.col("_")``, ``src/patito/__init__.py:11``).
field = col("_")
