"""Schema evolution: structured diff between two model versions.

Pipelines at the north-rule scale redeploy with evolving specs; the
dangerous changes are the ones that silently invalidate data already in
the lake or break downstream readers.  ``diff_models`` compares two
model classes column by column and classifies every change, flagging the
breaking ones:

- **added** non-nullable columns without a default (existing rows cannot
  satisfy them);
- **removed** columns (downstream readers lose them);
- **retyped** columns outside Spark's lossless widening lattice
  (byte→short→int→long, float→double, int→long, etc.);
- **tightened nullability** (Optional → required), of a column or of a
  list's items at any depth (``list[Optional[int]]`` → ``list[int]``);
- **tightened constraints** (bounds narrowed, new pattern/enum/unique or
  custom constraint — previously-valid rows may now fail).

Loosening (widening a bound, making a column Optional, dropping a
constraint) is reported but not breaking.  Pure metadata — no Spark
session, no job.
"""

from __future__ import annotations

from pyspark.sql import types as T

from .dtypes import resolve_annotation
from .spec import MISSING

#: lossless widenings Spark casts implicitly without data change
_WIDENINGS = {
    (T.ByteType, T.ShortType),
    (T.ByteType, T.IntegerType),
    (T.ByteType, T.LongType),
    (T.ShortType, T.IntegerType),
    (T.ShortType, T.LongType),
    (T.IntegerType, T.LongType),
    (T.FloatType, T.DoubleType),
    (T.ByteType, T.DoubleType),
    (T.ShortType, T.DoubleType),
    (T.IntegerType, T.DoubleType),
}

_CONSTRAINT_FIELDS = (
    "ge",
    "gt",
    "le",
    "lt",
    "multiple_of",
    "const",
    "pattern",
    "min_length",
    "max_length",
    "allowed_values",
    "unique",
    "constraints",
)


def _is_widening(old: T.DataType, new: T.DataType) -> bool:
    return (type(old), type(new)) in _WIDENINGS


def _comparable(spec, field: str):
    """*spec*'s *field*; custom constraints as their serialized forms, since
    ``==`` on an ``Expr`` builds an ``Expr``."""
    value = getattr(spec, field)
    if field == "constraints" and value is not None:
        return tuple(c.serialize() for c in value)
    return value


def _item_nullability(spec) -> list:
    """Whether items may be null, per list depth of *spec*'s annotation
    (``[]`` for a column that is not a list)."""
    dtype, nullable = resolve_annotation(spec.annotation).default, []
    while isinstance(dtype, T.ArrayType):
        nullable.append(dtype.containsNull)
        dtype = dtype.elementType
    return nullable


def _tightened(field: str, old, new) -> bool:
    """True when the new constraint can fail rows the old one accepted."""
    if old == new:
        return False
    if new is None or new is False:
        return False  # constraint dropped/loosened
    if old is None or old is False:
        return True  # constraint introduced
    if field in ("ge", "gt", "min_length"):
        return new > old  # raised lower bound
    if field in ("le", "lt", "max_length"):
        return new < old  # lowered upper bound
    if field == "allowed_values":
        return not set(new) >= set(old)  # domain shrank
    if field == "constraints":
        return not set(new) <= set(old)  # a constraint added or changed
    return True  # pattern/const/multiple_of changed → assume tighter


def diff_models(old: type, new: type) -> dict:
    """Structured change report between two model classes.

    Returns ``{added, removed, retyped, nullability, constraints,
    breaking}`` where each entry lists per-column dicts with a
    ``breaking`` flag, and the top-level ``breaking`` is their OR.  A
    ``nullability`` entry with an ``items`` depth is about a list's items
    (1: the list's items, 2: their items, ...).  A struct (or
    list-of-struct) column's sub-model is compared too, its columns named
    ``<column>.<field>``.
    """
    report: dict = {
        "added": [],
        "removed": [],
        "retyped": [],
        "nullability": [],
        "constraints": [],
    }
    _diff_columns(report, old.__column_specs__, new.__column_specs__, "")
    report["breaking"] = any(
        entry["breaking"] for bucket in report.values() for entry in bucket
        if isinstance(entry, dict)
    )
    return report


def _diff_columns(report: dict, os_: dict, ns_: dict, prefix: str) -> None:
    for name, spec in ns_.items():
        if name not in os_:
            report["added"].append(
                {
                    "column": prefix + name,
                    "nullable": spec.nullable,
                    "breaking": not spec.nullable and spec.default is MISSING,
                }
            )
    for name in os_:
        if name not in ns_:
            report["removed"].append({"column": prefix + name, "breaking": True})
    for name, nspec in ns_.items():
        ospec = os_.get(name)
        if ospec is None:
            continue
        column = prefix + name
        if nspec.dtype.simpleString() != ospec.dtype.simpleString():
            report["retyped"].append(
                {
                    "column": column,
                    "old": ospec.dtype.simpleString(),
                    "new": nspec.dtype.simpleString(),
                    "breaking": not _is_widening(ospec.dtype, nspec.dtype),
                }
            )
        if nspec.nullable != ospec.nullable:
            report["nullability"].append(
                {
                    "column": column,
                    "old": ospec.nullable,
                    "new": nspec.nullable,
                    "breaking": not nspec.nullable,  # required-ward = breaking
                }
            )
        depths = zip(_item_nullability(ospec), _item_nullability(nspec))
        for depth, (old_items, new_items) in enumerate(depths, 1):
            if old_items != new_items:
                report["nullability"].append(
                    {
                        "column": column,
                        "items": depth,
                        "old": old_items,
                        "new": new_items,
                        "breaking": not new_items,
                    }
                )
        changed = []
        tightened = False
        for field in _CONSTRAINT_FIELDS:
            ov, nv = _comparable(ospec, field), _comparable(nspec, field)
            if ov != nv:
                changed.append(field)
                tightened = tightened or _tightened(field, ov, nv)
        if changed:
            report["constraints"].append(
                {"column": column, "changed": changed, "breaking": tightened}
            )
        if ospec.model is not None and nspec.model is not None:
            _diff_columns(
                report,
                ospec.model.__column_specs__,
                nspec.model.__column_specs__,
                f"{column}.",
            )
