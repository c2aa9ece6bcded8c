"""Declarative model specs: ``Field()``, ``ColumnSpec``, ``Model`` + algebra.

Re-creates the reference's schema system (patito ``src/patito/pydantic.py``)
without pydantic: a ``Model`` subclass's annotated attributes become columns;
``Field(...)`` attaches per-column metadata equivalent to patito's
``ColumnInfo`` (``_pydantic/column_info.py:83-113``): dtype override, unique,
bounds, pattern, length, allowed values, custom constraint expressions,
derived_from, allow_missing, aliases.  The whole spec is JSON-serializable
(constraints/derived expressions via the DSL in :mod:`patito_spark.expr`) so
it can ship to executors or persist in a checkpoint table.

Model algebra (join/select/drop/prefix/suffix/rename/with_fields) mirrors
patito ``pydantic.py:886-1163`` — pure metadata, no data movement.
"""

from __future__ import annotations

import json
import re
from typing import Any, Callable, NamedTuple, Optional, Union

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dtypes import (
    UNSIGNED_BOUNDS,
    _DECODERS,
    ResolvedType,
    _decode_value,
    _encode_value,
    dtype_in_valid_set,
    parse_dtype,
    resolve_annotation,
)
from .expr import Expr


class _Missing:
    """Sentinel for 'no default provided'."""

    _instance: Optional["_Missing"] = None

    def __new__(cls) -> "_Missing":
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __repr__(self) -> str:
        return "MISSING"

    def __bool__(self) -> bool:
        return False


MISSING = _Missing()


class FieldInfo:
    """Raw (pre-resolution) per-column metadata, as written in the class body."""

    __slots__ = (
        "default",
        "dtype",
        "unique",
        "allow_missing",
        "ge",
        "gt",
        "le",
        "lt",
        "multiple_of",
        "const",
        "pattern",
        "min_length",
        "max_length",
        "allowed",
        "constraints",
        "derived_from",
        "alias",
        "alias_choices",
        "alias_path",
    )

    def __init__(self, default: Any = MISSING, **kwargs: Any) -> None:
        self.default = default
        for slot in self.__slots__:
            if slot == "default":
                continue
            setattr(self, slot, kwargs.pop(slot, None))
        if self.unique is None:
            self.unique = False
        if self.allow_missing is None:
            self.allow_missing = False
        if kwargs:
            raise TypeError(f"Field() got unexpected arguments: {sorted(kwargs)}")


def Field(
    default: Any = MISSING,
    *,
    dtype: Any = None,
    unique: bool = False,
    allow_missing: bool = False,
    ge: Any = None,
    gt: Any = None,
    le: Any = None,
    lt: Any = None,
    multiple_of: Any = None,
    const: Any = None,
    pattern: Optional[str] = None,
    min_length: Optional[int] = None,
    max_length: Optional[int] = None,
    allowed: Optional[list] = None,
    constraints: Union[Expr, list, None] = None,
    derived_from: Union[str, Expr, None] = None,
    alias: Optional[str] = None,
    alias_choices: Optional[list] = None,
    alias_path: Optional[tuple] = None,
) -> FieldInfo:
    """Declare column metadata (≈ patito ``pt.Field``, ``pydantic.py:1328-1345``).

    ``pattern`` uses regex *search* semantics, not full match (reference
    ``validators.py:340``); ``min_length``/``max_length`` count a string's
    characters, not bytes (``validators.py:341-342``), and a bytes value's
    bytes.  On a list column the lengths count its items and every other
    value rule holds for each item.  ``pattern`` on a column that holds no
    strings, or a length on one that is no string, bytes or list, raises a
    ``TypeError`` when the model is defined.
    """
    return FieldInfo(
        default,
        dtype=dtype,
        unique=unique,
        allow_missing=allow_missing,
        ge=ge,
        gt=gt,
        le=le,
        lt=lt,
        multiple_of=multiple_of,
        const=const,
        pattern=pattern,
        min_length=min_length,
        max_length=max_length,
        allowed=allowed,
        constraints=constraints,
        derived_from=derived_from,
        alias=alias,
        alias_choices=alias_choices,
        alias_path=alias_path,
    )


class ColumnSpec:
    """Fully-resolved column: dtype + valid set + nullability + all checks."""

    __slots__ = (
        "name",
        "annotation",
        "info",
        "dtype",
        "valid_dtypes",
        "nullable",
        "item_nullable",
        "default",
        "unique",
        "allow_missing",
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
        "constraints",
        "derived_from",
        "alias",
        "alias_choices",
        "alias_path",
        "model",
    )

    def __init__(self, name: str, annotation: Any, info: FieldInfo) -> None:
        self.name = name
        self.annotation = annotation
        #: the ``Field()`` as declared: model derivation resolves it again,
        #: so a declared dtype stays the only valid one (even when it equals
        #: the annotation's default) and an unsigned alias keeps its widening
        self.info = info
        resolved: ResolvedType = resolve_annotation(annotation)
        self.nullable = resolved.nullable
        self.item_nullable = resolved.item_nullable
        for slot in FieldInfo.__slots__:
            if slot not in ("dtype", "allowed", "constraints"):
                setattr(self, slot, getattr(info, slot))
        self.allowed_values = (
            resolved.allowed_values if info.allowed is None else list(info.allowed)
        )
        cons = info.constraints
        self.constraints = [cons] if isinstance(cons, Expr) else list(cons or ()) or None
        # nested model (struct) recursion target, if any
        self.model = _nested_model(annotation)

        if info.dtype is not None:
            explicit = parse_dtype(info.dtype)
            # explicit dtype must be compatible with the annotation's valid set
            # (reference validate_polars_dtype, dtypes.py:58-84) — unsigned
            # aliases widen past the valid set by design.
            is_unsigned = (
                isinstance(info.dtype, str)
                and info.dtype.strip().lower() in UNSIGNED_BOUNDS
            )
            if not is_unsigned and not dtype_in_valid_set(
                explicit, resolved.valid
            ):
                raise ValueError(
                    f"Invalid dtype {explicit} for column {name!r}: not "
                    f"compatible with annotation {annotation!r}"
                )
            self.dtype = explicit
            self.valid_dtypes = frozenset({explicit})
            if is_unsigned:
                lo, hi = UNSIGNED_BOUNDS[info.dtype.strip().lower()]
                # synthesized unsigned range (SURVEY §1.4: Spark has no
                # unsigned ints)
                if self.ge is None or self.ge < lo:
                    self.ge = lo
                if self.le is None or self.le > hi:
                    self.le = hi
        else:
            self.dtype = resolved.default
            self.valid_dtypes = resolved.valid
        is_list = isinstance(self.dtype, T.ArrayType)
        for rule in _RULES:
            on = self.dtype.elementType if is_list and not rule.list_column else self.dtype
            unfit = rule.types and not isinstance(on, rule.types)
            if unfit and getattr(self, rule.slot) is not None:
                raise TypeError(
                    f"{rule.slot} does not apply to column {name!r} of type {on.simpleString()}"
                )

    # -- serialization --------------------------------------------------------
    def to_dict(self) -> dict:
        d: dict[str, Any] = {
            "name": self.name,
            "dtype": self.dtype.json(),
            "nullable": self.nullable,
        }
        for key, slot, encode, _ in _SPEC_KEYS:
            value = self.info.dtype if slot == "dtype" else getattr(self, key)
            if value is not (MISSING if slot == "default" else None):
                d[key] = encode(value)
        if self.model is not None:
            # struct / list-of-struct: the sub-model's own checks travel too
            d["model"] = _spec_dict(self.model)
        return d

    def struct_field(self) -> T.StructField:
        return T.StructField(self.name, self.dtype, nullable=self.nullable)

    # -- per-instance value validation ------------------------------------------
    def validate_value(self, value: Any) -> tuple:
        """Coerce + validate one Python value against this spec.

        Driver-side per-field validation for model-instance construction.
        The reference constructs instances through pydantic, so wrong-typed
        or out-of-bounds values raise there (``polars.py:846-850``,
        ``tests/test_polars.py``); this mirrors pydantic v2's lax mode
        (the type rows of ``dtypes._DECODERS``) and applies the value rules
        of ``_RULES``, the rows the check compiler compiles.  A list column
        goes through the per-item loop at ``<field>.<i>``; a scalar is its
        own single item.

        Returns ``(coerced_value, errors)`` where each error is a
        ``(sub_loc or None, exception)`` pair — sub_loc is a dotted path
        inside list items and nested struct / list-of-struct fields.
        """
        from .errors import MissingValuesError, RowValueError

        errors: list = []
        rules = [(r, v) for r in _RULES if (v := getattr(self, r.slot)) is not None]
        is_list = isinstance(self.dtype, T.ArrayType) and value is not None
        if is_list:
            value = self._typed(value, self.dtype, None, errors)
            if errors:
                return value, errors
            for rule, v in rules:  # a length checks the list itself
                if rule.list_column and not rule.check(value, v):
                    msg = rule.list_message.format(v=v, s="s" * (v != 1), n=len(value))
                    errors.append((None, RowValueError(msg)))
            rules = [(r, v) for r, v in rules if not r.list_column]
        item_type = self.dtype.elementType if is_list else self.dtype
        nullable = self.item_nullable if is_list else self.nullable
        # each rule value in the item type, as pydantic converts a constraint
        # (a float multiple_of of a Decimal column checks as a Decimal)
        rules = [(r, v, self._typed(v, item_type, None, [])) for r, v in rules]
        coerced = []
        for i, item in enumerate(value if is_list else [value]):
            loc, failed = (str(i) if is_list else None), len(errors)
            if item is None:
                if not nullable:
                    errors.append((loc, MissingValuesError("Input should not be None")))
            else:
                item = self._typed(item, item_type, loc, errors)
            coerced.append(item)
            if item is None or len(errors) > failed:
                continue
            allowed = self.allowed_values
            if allowed is not None and item not in allowed:
                opts = [repr(a) for a in allowed]
                joined = opts[0] if len(opts) == 1 else ", ".join(opts[:-1]) + " or " + opts[-1]
                errors.append((loc, RowValueError(f"Input should be {joined}")))
            for rule, v, typed in rules:
                if not rule.check(item, typed):
                    sized = isinstance(item, (bytes, bytearray)) and rule.bytes_message
                    msg = sized or rule.message
                    errors.append((loc, RowValueError(msg.format(v=v, s="s" * (v != 1)))))
        return (coerced if is_list else coerced[0]), errors

    def _typed(self, value: Any, dtype: T.DataType, loc: Optional[str], errors: list) -> Any:
        """*value* coerced to *dtype* by its ``_DECODERS`` row (a struct
        through the nested model), or as is with an error at *loc*."""
        from .errors import ColumnDTypeError

        if isinstance(dtype, T.StructType) and self.model is not None:
            return self._validate_nested(value, errors, loc)
        row = _DECODERS.get(type(dtype))
        if row is None:
            return value
        try:
            if not isinstance(value, (row.py, *row.lax)) or isinstance(value, row.rejects):
                raise ValueError(f"Input should be a valid {row.name}")
            return value if row.coerce is None else row.coerce(value)
        except ValueError as exc:
            errors.append((loc, ColumnDTypeError(str(exc))))
            return value

    def _validate_nested(self, value: Any, errors: list, sub_loc: Optional[str]) -> Any:
        """Construct (and thereby validate) a nested model value; sub-errors
        are re-located under this field with dotted paths."""
        from .errors import ColumnDTypeError, DataFrameValidationError

        if isinstance(value, self.model):
            return value
        if not isinstance(value, dict):
            errors.append((sub_loc, ColumnDTypeError(
                f"Input should be a valid {self.model.__name__}"
            )))
            return value
        try:
            return self.model(**value)
        except DataFrameValidationError as exc:
            for wrapper in exc.raw_errors:
                inner = ".".join(str(p) for p in wrapper.loc_tuple())
                path = inner if sub_loc is None else f"{sub_loc}.{inner}"
                errors.append((path, wrapper.exc))
            return value


def _plain(value: Any, dtype: Any = None) -> Any:
    return value


_VALUE = (_encode_value, _decode_value)

#: The serialized keys of a column after ``name``, ``dtype`` and
#: ``nullable``, in their JSON order: ``(key, FieldInfo slot, encode,
#: decode)``.  ``to_dict`` writes the ColumnSpec attribute *key* (the
#: declared dtype for ``explicit_dtype``) unless it is unset;
#: ``_model_from_dict`` passes every key present back as ``Field(slot=...)``,
#: ``decode`` getting the column's dtype.  A ``Field`` kwarg missing here
#: does not survive ``spec_json``.
_SPEC_KEYS = (
    ("unique", "unique", _plain, _plain),
    ("allow_missing", "allow_missing", _plain, _plain),
    ("explicit_dtype", "dtype", lambda v: True, lambda v, dtype: dtype),
    ("ge", "ge", *_VALUE),
    ("gt", "gt", *_VALUE),
    ("le", "le", *_VALUE),
    ("lt", "lt", *_VALUE),
    ("multiple_of", "multiple_of", *_VALUE),
    ("const", "const", *_VALUE),
    ("pattern", "pattern", _plain, _plain),
    ("min_length", "min_length", _plain, _plain),
    ("max_length", "max_length", _plain, _plain),
    ("allowed_values", "allowed", *_VALUE),
    ("alias", "alias", _plain, _plain),
    # a tuple choice is an alias path
    (
        "alias_choices",
        "alias_choices",
        _plain,
        lambda v, dtype: [tuple(c) if isinstance(c, list) else c for c in v],
    ),
    ("alias_path", "alias_path", _plain, lambda v, dtype: tuple(v)),
    ("default", "default", *_VALUE),
    (
        "constraints",
        "constraints",
        lambda v: [c.to_dict() for c in v],
        lambda v, dtype: [Expr.from_dict(c) for c in v],
    ),
    (
        "derived_from",
        "derived_from",
        lambda v: v if isinstance(v, str) else {"expr": v.to_dict()},
        lambda v, dtype: Expr.from_dict(v["expr"]) if isinstance(v, dict) else v,
    ),
)


class _Rule(NamedTuple):
    """A value rule: the ``ColumnSpec`` slot holding its value ``v``, the
    Spark predicate ``(col, v) -> Column``, the Python one ``(x, v) ->
    bool`` (each true when the value passes) and pydantic's message (for a
    bytes value ``bytes_message``, where it differs).  On a list column a
    rule with a list form (a length) checks the list with ``list_column``
    and ``check``; every other rule checks each item.  A model that sets a
    rule on a column (a list's items, but for a list form) of no type in
    ``types`` is refused when defined; pydantic refuses it on validation."""

    slot: str
    column: Callable
    check: Callable
    message: str
    list_column: Optional[Callable] = None
    list_message: str = ""
    bytes_message: str = ""
    types: tuple = ()


#: what a length measures (Spark's ``char_length`` of a binary counts bytes)
_SIZED = (T.StringType, T.BinaryType, T.ArrayType)


#: The value rules in the order the check compiler numbers their row flags
#: (``<loc>__bound<i>``, ``le`` first).  ``pattern`` is regex *search*, like
#: polars ``str.contains`` (reference ``validators.py:340``); a string's
#: lengths count characters, a bytes value's its bytes.
_RULES = (
    _Rule("le", lambda c, v: c <= F.lit(v), lambda x, v: x <= v,
          "Input should be less than or equal to {v}"),
    _Rule("lt", lambda c, v: c < F.lit(v), lambda x, v: x < v,
          "Input should be less than {v}"),
    _Rule("ge", lambda c, v: c >= F.lit(v), lambda x, v: x >= v,
          "Input should be greater than or equal to {v}"),
    _Rule("gt", lambda c, v: c > F.lit(v), lambda x, v: x > v,
          "Input should be greater than {v}"),
    _Rule("multiple_of", lambda c, v: (c == 0) | ((c % F.lit(v)) == 0),
          lambda x, v: x % v == 0, "Input should be a multiple of {v}"),
    _Rule("const", lambda c, v: c == F.lit(v), lambda x, v: x == v,
          "Input should be {v!r}"),
    _Rule("pattern", lambda c, v: c.rlike(v),
          lambda x, v: re.search(v, x) is not None,
          "String should match pattern '{v}'", types=(T.StringType,)),
    _Rule("min_length", lambda c, v: F.char_length(c) >= v,
          lambda x, v: len(x) >= v,
          "String should have at least {v} characters",
          lambda c, v: F.array_size(c) >= v,
          "List should have at least {v} item{s} after validation, not {n}",
          "Data should have at least {v} byte{s}", _SIZED),
    _Rule("max_length", lambda c, v: F.char_length(c) <= v,
          lambda x, v: len(x) <= v,
          "String should have at most {v} characters",
          lambda c, v: F.array_size(c) <= v,
          "List should have at most {v} item{s} after validation, not {n}",
          "Data should have at most {v} byte{s}", _SIZED),
)


def _spec_dict(model: type) -> dict:
    return {
        "model": model.__name__,
        "columns": [s.to_dict() for s in model.__column_specs__.values()],
    }


def _nested_model(annotation: Any) -> Optional[type]:
    """Return the nested Model class for struct / list-of-struct annotations."""
    import typing

    origin = typing.get_origin(annotation)
    args = typing.get_args(annotation)
    if origin is Union:
        for a in args:
            if a is not type(None):
                found = _nested_model(a)
                if found is not None:
                    return found
        return None
    if origin in (list,):
        return _nested_model(args[0]) if args else None
    if isinstance(annotation, type) and issubclass(annotation, Model):
        return annotation
    return None


class ModelMetaclass(type):
    """Collects annotated fields into ``ColumnSpec``s; attaches ``.DataFrame``.

    ≈ patito's ``ModelMetaclass`` (``pydantic.py:59-91``).
    """

    def __new__(
        mcs, name: str, bases: tuple, namespace: dict, **kwargs: Any
    ) -> "ModelMetaclass":
        cls = super().__new__(mcs, name, bases, namespace, **kwargs)
        specs: dict[str, ColumnSpec] = {}
        for base in reversed(cls.__mro__[1:]):
            specs.update(getattr(base, "__column_specs__", {}))
        annotations = namespace.get("__annotations__", {})
        if any(isinstance(a, str) for a in annotations.values()):
            # `from __future__ import annotations` in the defining module
            # stringifies annotations — resolve them against module globals
            import typing as _typing

            resolved = _typing.get_type_hints(cls)
            annotations = {k: resolved.get(k, v) for k, v in annotations.items()}
        for field_name, annotation in annotations.items():
            if field_name.startswith("_") or field_name == "model_config":
                continue
            raw = namespace.get(field_name, MISSING)
            info = raw if isinstance(raw, FieldInfo) else FieldInfo(raw)
            specs[field_name] = ColumnSpec(field_name, annotation, info)
        cls.__column_specs__ = specs

        # per-model DataFrame/LazyFrame subclass (≈ pydantic.py:79-91)
        from .frame import DataFrame as _DF

        cls.DataFrame = type(f"{name}DataFrame", (_DF,), {"model": cls})
        cls.LazyFrame = cls.DataFrame  # Spark is lazy by construction
        return cls

    # ---- class-level schema properties (≈ pydantic.py:119-283) -------------
    @property
    def columns(cls) -> list[str]:
        return list(cls.__column_specs__)

    @property
    def specs(cls) -> dict[str, ColumnSpec]:
        return cls.__column_specs__

    @property
    def dtypes(cls) -> dict[str, T.DataType]:
        return {n: s.dtype for n, s in cls.__column_specs__.items()}

    @property
    def valid_dtypes(cls) -> dict[str, frozenset]:
        return {n: s.valid_dtypes for n, s in cls.__column_specs__.items()}

    @property
    def defaults(cls) -> dict[str, Any]:
        return {
            n: s.default
            for n, s in cls.__column_specs__.items()
            if not isinstance(s.default, _Missing)
        }

    @property
    def non_nullable_columns(cls) -> set:
        return {n for n, s in cls.__column_specs__.items() if not s.nullable}

    @property
    def nullable_columns(cls) -> set:
        return {n for n, s in cls.__column_specs__.items() if s.nullable}

    @property
    def unique_columns(cls) -> set:
        return {n for n, s in cls.__column_specs__.items() if s.unique}

    @property
    def derived_columns(cls) -> set:
        return {
            n for n, s in cls.__column_specs__.items() if s.derived_from is not None
        }


class Model(metaclass=ModelMetaclass):
    """Base class for declarative table schemas (≈ patito ``Model``).

    Subclass and annotate columns::

        class Product(Model):
            product_id: int = Field(unique=True)
            temperature_zone: Literal["dry", "cold", "frozen"]
            demand_percentage: float = Field(ge=0.0, le=1.0)
    """

    model_config: dict = {}

    def __init__(self, **values: Any) -> None:
        """Construct AND validate an instance — full per-field type/bound/
        enum checking, like the reference's pydantic-backed ``Model``
        (bad values raise on construction; ``polars.py:846-850``).  All
        field errors are collected into one ``DataFrameValidationError``.
        Use ``_construct`` to skip validation (≈ ``model_construct``)."""
        from .errors import DataFrameValidationError, ErrorWrapper, MissingValuesError

        specs = type(self).__column_specs__
        unknown = set(values) - set(specs)
        extra = type(self).model_config.get("extra")
        if unknown and extra != "allow":
            raise TypeError(f"Unknown fields: {sorted(unknown)}")
        errors: list = []
        for field_name, spec in specs.items():
            if field_name in values:
                coerced, field_errors = spec.validate_value(values[field_name])
                for sub_loc, exc in field_errors:
                    loc = field_name if sub_loc is None else f"{field_name}.{sub_loc}"
                    errors.append(ErrorWrapper(exc, loc))
                setattr(self, field_name, coerced)
            elif not isinstance(spec.default, _Missing):
                setattr(self, field_name, spec.default)
            elif spec.nullable:
                setattr(self, field_name, None)
            else:
                errors.append(
                    ErrorWrapper(MissingValuesError("Field required"), field_name)
                )
                setattr(self, field_name, None)
        for k in unknown:
            setattr(self, k, values[k])
        if errors:
            raise DataFrameValidationError(errors, type(self))

    def __eq__(self, other: Any) -> bool:
        if type(self) is not type(other):
            return NotImplemented
        return all(
            getattr(self, n) == getattr(other, n)
            for n in type(self).__column_specs__
        )

    def __repr__(self) -> str:
        fields = ", ".join(
            f"{n}={getattr(self, n)!r}" for n in type(self).__column_specs__
        )
        return f"{type(self).__name__}({fields})"

    def model_dump(self) -> dict:
        return {n: getattr(self, n) for n in type(self).__column_specs__}

    # -- schema ---------------------------------------------------------------
    @classmethod
    def spark_schema(cls) -> T.StructType:
        """The model as a Spark ``StructType`` (defaults for every column)."""
        return T.StructType(
            [s.struct_field() for s in cls.__column_specs__.values()]
        )

    @classmethod
    def create_table_ddl(
        cls,
        table: str,
        using: str = "iceberg",
        partition_by: Optional[list] = None,
        table_properties: Optional[dict] = None,
        if_not_exists: bool = True,
    ) -> str:
        """``CREATE TABLE`` DDL for this model — the deploy-time glue
        between the spec and the lakehouse catalog.

        Column types and ``NOT NULL`` come from the spec;
        ``partition_by`` entries may be plain columns or Iceberg transform
        expressions (``days(warc_ts)``, ``bucket(1024, url)`` — the
        partitioning the north-rule checkpoint/resume keys on).  The DDL
        string is engine-agnostic SQL: feed it to ``spark.sql`` against an
        Iceberg catalog, or swap ``using`` for any V2 source.
        """
        cols = []
        for spec in cls.__column_specs__.values():
            null_sql = "" if spec.nullable else " NOT NULL"
            cols.append(
                f"  {spec.name} {spec.dtype.simpleString()}{null_sql}"
            )
        exists_sql = "IF NOT EXISTS " if if_not_exists else ""
        ddl = (
            f"CREATE TABLE {exists_sql}{table} (\n"
            + ",\n".join(cols)
            + f"\n) USING {using}"
        )
        if partition_by:
            ddl += "\nPARTITIONED BY (" + ", ".join(partition_by) + ")"
        if table_properties:
            props = ", ".join(
                f"'{k}' = '{v}'" for k, v in sorted(table_properties.items())
            )
            ddl += f"\nTBLPROPERTIES ({props})"
        return ddl

    @classmethod
    def validate_schema(cls) -> None:
        """Pre-flight: every annotation resolvable, dtype overrides compatible.

        ≈ patito ``Model.validate_schema`` (``pydantic.py:289-300``); spec
        resolution already runs eagerly at class creation, so this re-checks
        constraint expressions reference known columns.
        """
        for name, spec in cls.__column_specs__.items():
            for constraint in spec.constraints or ():
                refs = set(constraint.references()) - {"_"}
                unknown = refs - set(cls.__column_specs__)
                if unknown:
                    raise ValueError(
                        f"Constraint on {name!r} references unknown "
                        f"columns: {sorted(unknown)}"
                    )

    # -- validation (delegates to the check compiler) --------------------------
    @classmethod
    def validate(
        cls,
        df,
        columns: Optional[list] = None,
        allow_missing_columns: bool = False,
        allow_superfluous_columns: bool = False,
        drop_superfluous_columns: bool = False,
    ):
        """Validate *df* against this model; raise ``DataFrameValidationError``.

        Compiles every row-level check into ONE aggregation job plus one
        hashed uniqueness count (SURVEY §3.1 Spark redesign) instead of the
        reference's O(#checks) scans (``validators.py:359-366``).
        Returns the validated DataFrame wrapped as ``cls.DataFrame``.
        """
        from .plans.checks import validate as _validate

        inner = df._df if hasattr(df, "_df") else df
        validated = _validate(
            inner,
            cls,
            columns=columns,
            allow_missing_columns=allow_missing_columns,
            allow_superfluous_columns=allow_superfluous_columns,
            drop_superfluous_columns=drop_superfluous_columns,
        )
        return cls.DataFrame(validated)

    # -- row ↔ instance (≈ pydantic.py:302-410) --------------------------------
    @classmethod
    def from_row(cls, row, validate: bool = True) -> "Model":
        data = row.asDict(recursive=True) if hasattr(row, "asDict") else dict(row)
        if not validate:
            return cls._construct(data)
        return cls(**{k: v for k, v in data.items() if k in cls.__column_specs__})

    @classmethod
    def _construct(cls, data: dict) -> "Model":
        obj = object.__new__(cls)
        for field_name, spec in cls.__column_specs__.items():
            if field_name in data:
                object.__setattr__(obj, field_name, data[field_name])
            elif not isinstance(spec.default, _Missing):
                object.__setattr__(obj, field_name, spec.default)
            else:
                object.__setattr__(obj, field_name, None)
        return obj

    # -- dummy data (≈ pydantic.py:498-884) ------------------------------------
    @classmethod
    def example_value(cls, field: str) -> Any:
        from .examples import example_value

        return example_value(cls.__column_specs__[field])

    @classmethod
    def example(cls, **kwargs: Any) -> "Model":
        from .examples import example

        return example(cls, **kwargs)

    @classmethod
    def examples(cls, data: Optional[dict] = None, columns: Optional[list] = None, spark=None):
        from .examples import examples

        return examples(cls, data=data, columns=columns, spark=spark)

    # -- model algebra (≈ pydantic.py:886-1163); metadata only ----------------
    @classmethod
    def join(cls, other: type, how: str = "inner") -> type:
        """Schema of a join result (``pydantic.py:886-953``).

        ``inner`` keeps nullability; ``left`` makes the right side Optional;
        ``outer``/``full`` makes all Optional; ``asof`` like left;
        ``semi``/``anti`` return ``cls`` unchanged.
        """
        if how in ("semi", "anti"):
            return cls
        nullable_methods = {
            "inner": (False, False),
            "left": (False, True),
            "asof": (False, True),
            "outer": (True, True),
            "full": (True, True),
        }
        if how not in nullable_methods:
            raise ValueError(f"Unknown join method {how!r}")
        left_null, right_null = nullable_methods[how]
        fields: dict[str, tuple] = {}
        for spec in cls.__column_specs__.values():
            fields[spec.name] = _spec_as_field(spec, force_nullable=left_null)
        for spec in other.__column_specs__.values():
            if spec.name not in fields:
                fields[spec.name] = _spec_as_field(spec, force_nullable=right_null)
        return _derive_model(f"{cls.__name__}{other.__name__}Join", fields)

    @classmethod
    def select(cls, fields: Union[str, list]) -> type:
        if isinstance(fields, str):
            fields = [fields]
        unknown = set(fields) - set(cls.__column_specs__)
        if unknown:
            raise ValueError(
                f"The following fields do not exist: {', '.join(sorted(unknown))}!"
            )
        kept = {
            n: _spec_as_field(s)
            for n, s in cls.__column_specs__.items()
            if n in fields
        }
        return _derive_model(f"Selected{cls.__name__}", kept)

    @classmethod
    def drop(cls, name: Union[str, list]) -> type:
        names = [name] if isinstance(name, str) else list(name)
        kept = {
            n: _spec_as_field(s)
            for n, s in cls.__column_specs__.items()
            if n not in names
        }
        return _derive_model(f"Dropped{cls.__name__}", kept)

    @classmethod
    def prefix(cls, prefix: str) -> type:
        fields = {
            prefix + n: _spec_as_field(s) for n, s in cls.__column_specs__.items()
        }
        return _derive_model(cls.__name__, fields)

    @classmethod
    def suffix(cls, suffix: str) -> type:
        fields = {
            n + suffix: _spec_as_field(s) for n, s in cls.__column_specs__.items()
        }
        return _derive_model(cls.__name__, fields)

    @classmethod
    def rename(cls, mapping: dict) -> type:
        unknown = set(mapping) - set(cls.__column_specs__)
        if unknown:
            raise ValueError(
                "The following fields do not exist for renaming: "
                f"{', '.join(sorted(unknown))}!"
            )
        fields = {
            mapping.get(n, n): _spec_as_field(s)
            for n, s in cls.__column_specs__.items()
        }
        return _derive_model(f"Renamed{cls.__name__}", fields)

    @classmethod
    def with_fields(cls, **field_definitions: Any) -> type:
        fields = {n: _spec_as_field(s) for n, s in cls.__column_specs__.items()}
        for name, definition in field_definitions.items():
            if isinstance(definition, tuple):
                annotation, info = definition
                if not isinstance(info, FieldInfo):
                    info = FieldInfo(info)
            else:
                annotation, info = definition, FieldInfo()
            fields[name] = (annotation, info)
        return _derive_model(f"{cls.__name__}WithFields", fields)

    # -- (de)serialization ------------------------------------------------------
    @classmethod
    def spec_json(cls) -> str:
        """The full model spec as a JSON artifact (shippable/persistable);
        a struct or list-of-struct column nests its sub-model's spec."""
        return json.dumps(_spec_dict(cls), separators=(",", ":"))


def _spec_as_field(spec: ColumnSpec, force_nullable: bool = False) -> tuple:
    """ColumnSpec → (annotation, FieldInfo) for model derivation
    (≈ ``_derive_field``, patito ``pydantic.py:1219-1246``): the column's
    own ``Field()``, so the derived column resolves as the original did."""
    annotation, info = spec.annotation, spec.info
    if force_nullable:
        if not spec.nullable:
            annotation = Optional[annotation]
        if info.default is MISSING:
            info = FieldInfo(
                **{**{s: getattr(info, s) for s in FieldInfo.__slots__}, "default": None}
            )
    return annotation, info


def _derive_model(name: str, fields: dict) -> type:
    """Create a new Model subclass from {name: (annotation, FieldInfo)}
    (≈ ``_derive_model``, patito ``pydantic.py:1177-1217``)."""
    namespace: dict[str, Any] = {"__annotations__": {}}
    for field_name, (annotation, info) in fields.items():
        namespace["__annotations__"][field_name] = annotation
        namespace[field_name] = info
    return ModelMetaclass(name, (Model,), namespace)


def model_from_spec_json(payload: str) -> type:
    """Reconstruct a Model class from ``Model.spec_json()`` output.

    The spec (including constraint/derived expressions, via the expr DSL's
    JSON form) is a self-contained artifact: it can be persisted next to a
    checkpoint table or shipped to another process and rebuilt without the
    original class definition.  The reference proves the same property for
    polars expressions (``column_info.py:131-149``).
    """
    try:
        data = json.loads(payload)
    except json.JSONDecodeError as exc:
        raise ValueError(
            f"model_from_spec_json expects the JSON produced by "
            f"Model.spec_json(); got invalid JSON: {exc}"
        ) from exc
    if not isinstance(data, dict) or "columns" not in data:
        raise ValueError(
            "model_from_spec_json expects the JSON produced by "
            "Model.spec_json() (an object with a 'columns' list); got "
            f"{type(data).__name__}"
        )
    return _model_from_dict(data)


def _model_from_dict(data: dict) -> type:
    fields: dict[str, tuple] = {}
    for column in data["columns"]:
        dtype = T._parse_datatype_json_string(column["dtype"])  # type: ignore[attr-defined]
        nested = column.get("model")
        nested = _model_from_dict(nested) if nested else None
        annotation = _annotation_for_spark_type(dtype, nested)
        if column.get("nullable"):
            annotation = Optional[annotation]
        info = FieldInfo(
            **{
                slot: decode(column[key], dtype)
                for key, slot, _, decode in _SPEC_KEYS
                if key in column
            }
        )
        fields[column["name"]] = (annotation, info)
    return _derive_model(data.get("model", "DeserializedModel"), fields)


def _annotation_for_spark_type(
    dtype: T.DataType, nested: Optional[type] = None
) -> Any:
    """Annotation for *dtype*; its struct (at any list depth) becomes
    *nested* when the spec carried the sub-model, else a check-free
    ``NestedStruct``."""
    if isinstance(dtype, T.ArrayType):
        inner = _annotation_for_spark_type(dtype.elementType, nested)
        if dtype.containsNull:
            inner = Optional[inner]
        return list[inner]
    if isinstance(dtype, T.MapType):
        return dict[
            _annotation_for_spark_type(dtype.keyType),
            _annotation_for_spark_type(dtype.valueType),
        ]
    if isinstance(dtype, T.StructType):
        if nested is not None:
            return nested
        fields = {
            f.name: (
                Optional[_annotation_for_spark_type(f.dataType)]
                if f.nullable
                else _annotation_for_spark_type(f.dataType),
                FieldInfo(),
            )
            for f in dtype.fields
        }
        return _derive_model("NestedStruct", fields)
    if type(dtype) in _DECODERS:
        return _DECODERS[type(dtype)].py
    raise TypeError(f"No annotation mapping for Spark type {dtype}")
