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

import datetime as dt
import decimal
import json
from typing import Any, Optional, Union

from pyspark.sql import types as T

from .dtypes import (
    UNSIGNED_BOUNDS,
    ResolvedType,
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
    ``validators.py:340``); ``min_length``/``max_length`` count characters,
    not bytes (``validators.py:341-342``).
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


_BOUND_KEYS = ("ge", "gt", "le", "lt", "multiple_of", "const")


class ColumnSpec:
    """Fully-resolved column: dtype + valid set + nullability + all checks."""

    __slots__ = (
        "name",
        "annotation",
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
        "explicit_dtype",
    )

    def __init__(self, name: str, annotation: Any, info: FieldInfo) -> None:
        self.name = name
        self.annotation = annotation
        resolved: ResolvedType = resolve_annotation(annotation)
        self.nullable = resolved.nullable
        self.item_nullable = resolved.item_nullable
        self.allowed_values = resolved.allowed_values
        self.default = info.default
        self.unique = info.unique
        self.allow_missing = info.allow_missing
        for key in _BOUND_KEYS:
            setattr(self, key, getattr(info, key))
        self.pattern = info.pattern
        self.min_length = info.min_length
        self.max_length = info.max_length
        if info.allowed is not None:
            self.allowed_values = list(info.allowed)
        cons = info.constraints
        if cons is None:
            self.constraints = None
        elif isinstance(cons, Expr):
            self.constraints = [cons]
        else:
            self.constraints = list(cons)
        self.derived_from = info.derived_from
        self.alias = info.alias
        self.alias_choices = info.alias_choices
        self.alias_path = info.alias_path
        # nested model (struct) recursion target, if any
        self.model = _nested_model(annotation)
        #: the column declared its dtype (``Field(dtype=...)``), so only that
        #: dtype is valid — even when it equals the annotation's default
        self.explicit_dtype = info.dtype is not None

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

    # -- serialization --------------------------------------------------------
    def to_dict(self) -> dict:
        d: dict[str, Any] = {
            "name": self.name,
            "dtype": self.dtype.json(),
            "nullable": self.nullable,
            "unique": self.unique,
            "allow_missing": self.allow_missing,
        }
        if self.explicit_dtype:
            d["explicit_dtype"] = True
        for key in (
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
            "alias",
            "alias_choices",
        ):
            value = getattr(self, key)
            if value is not None:
                d[key] = _json_safe(value) if key in _BOUND_KEYS else value
        if not isinstance(self.default, _Missing):
            d["default"] = _json_safe(self.default)
        if self.constraints:
            d["constraints"] = [c.to_dict() for c in self.constraints]
        if self.derived_from is not None:
            d["derived_from"] = (
                self.derived_from
                if isinstance(self.derived_from, str)
                else {"expr": self.derived_from.to_dict()}
            )
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
        ``tests/test_polars.py``); this mirrors pydantic v2's lax mode:
        int/float/str cross-coercion where lossless, bool never coerced to
        int, fractional floats never truncated to int.

        Returns ``(coerced_value, errors)`` where each error is a
        ``(sub_loc or None, exception)`` pair — sub_loc is a dotted path
        inside nested struct / list-of-struct fields.
        """
        from .errors import ColumnDTypeError, MissingValuesError, RowValueError

        errors: list = []
        if value is None:
            if not self.nullable:
                errors.append((None, MissingValuesError("Input should not be None")))
            return None, errors

        dtype = self.dtype
        coerced = value
        # -- type coercion -----------------------------------------------------
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            if isinstance(value, bool) or not isinstance(value, (int, float, str)):
                errors.append((None, ColumnDTypeError("Input should be a valid integer")))
            elif isinstance(value, float):
                if value.is_integer():
                    coerced = int(value)
                else:
                    errors.append((None, ColumnDTypeError(
                        "Input should be a valid integer, got a number with a fractional part"
                    )))
            elif isinstance(value, str):
                try:
                    coerced = int(value)
                except ValueError:
                    errors.append((None, ColumnDTypeError(
                        "Input should be a valid integer, unable to parse string as an integer"
                    )))
        elif isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
            # pydantic v2 lax mode accepts decimal.Decimal for numeric
            # fields; DecimalType values keep Decimal precision (no float
            # round-trip)
            if isinstance(value, bool) or not isinstance(
                value, (int, float, str, decimal.Decimal)
            ):
                errors.append((None, ColumnDTypeError("Input should be a valid number")))
            elif isinstance(value, str):
                try:
                    coerced = (
                        decimal.Decimal(value)
                        if isinstance(dtype, T.DecimalType)
                        else float(value)
                    )
                except (ValueError, decimal.InvalidOperation):
                    errors.append((None, ColumnDTypeError(
                        "Input should be a valid number, unable to parse string as a number"
                    )))
            elif isinstance(dtype, T.DecimalType):
                coerced = (
                    value
                    if isinstance(value, decimal.Decimal)
                    else decimal.Decimal(str(value))
                )
            else:
                coerced = float(value)
        elif isinstance(dtype, T.StringType):
            if not isinstance(value, str):
                errors.append((None, ColumnDTypeError("Input should be a valid string")))
        elif isinstance(dtype, T.BooleanType):
            if not isinstance(value, bool):
                errors.append((None, ColumnDTypeError("Input should be a valid boolean")))
        elif isinstance(dtype, T.TimestampType) or (
            hasattr(T, "TimestampNTZType") and isinstance(dtype, T.TimestampNTZType)
        ):
            if not isinstance(value, dt.datetime):
                errors.append((None, ColumnDTypeError("Input should be a valid datetime")))
        elif isinstance(dtype, T.DateType):
            if isinstance(value, dt.datetime) or not isinstance(value, dt.date):
                errors.append((None, ColumnDTypeError("Input should be a valid date")))
        elif isinstance(dtype, T.BinaryType):
            if not isinstance(value, (bytes, bytearray)):
                errors.append((None, ColumnDTypeError("Input should be a valid bytes")))
        elif isinstance(dtype, T.ArrayType):
            if not isinstance(value, (list, tuple)):
                errors.append((None, ColumnDTypeError("Input should be a valid list")))
            else:
                coerced = list(value)
                if self.model is not None:
                    coerced = [
                        self._validate_nested(item, errors, sub_loc=str(i))
                        for i, item in enumerate(coerced)
                    ]
        elif isinstance(dtype, T.StructType) and self.model is not None:
            coerced = self._validate_nested(value, errors, sub_loc=None)
        elif isinstance(dtype, T.MapType):
            if not isinstance(value, dict):
                errors.append((None, ColumnDTypeError("Input should be a valid dictionary")))
        if errors:
            return coerced, errors

        # -- constraints (same semantics as the df-level compiler) --------------
        def _rv(msg: str) -> None:
            errors.append((None, RowValueError(msg)))

        if self.allowed_values is not None and coerced not in self.allowed_values:
            opts = [repr(v) for v in self.allowed_values]
            joined = opts[0] if len(opts) == 1 else ", ".join(opts[:-1]) + " or " + opts[-1]
            _rv(f"Input should be {joined}")
        if self.const is not None and coerced != self.const:
            _rv(f"Input should be {self.const!r}")
        if self.ge is not None and not coerced >= self.ge:
            _rv(f"Input should be greater than or equal to {self.ge}")
        if self.gt is not None and not coerced > self.gt:
            _rv(f"Input should be greater than {self.gt}")
        if self.le is not None and not coerced <= self.le:
            _rv(f"Input should be less than or equal to {self.le}")
        if self.lt is not None and not coerced < self.lt:
            _rv(f"Input should be less than {self.lt}")
        if self.multiple_of is not None and coerced % self.multiple_of != 0:
            _rv(f"Input should be a multiple of {self.multiple_of}")
        if isinstance(coerced, str):
            import re as _re

            if self.pattern is not None and not _re.search(self.pattern, coerced):
                _rv(f"String should match pattern '{self.pattern}'")
            if self.min_length is not None and len(coerced) < self.min_length:
                _rv(f"String should have at least {self.min_length} characters")
            if self.max_length is not None and len(coerced) > self.max_length:
                _rv(f"String should have at most {self.max_length} characters")
        return coerced, errors

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


def _json_safe(v: Any) -> Any:
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, dt.timedelta):
        return v.total_seconds()
    if isinstance(v, bytes):
        return v.hex()
    return v


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
    (≈ ``_derive_field``, patito ``pydantic.py:1219-1246``)."""
    annotation = spec.annotation
    if force_nullable and not spec.nullable:
        annotation = Optional[annotation]
    info = FieldInfo(
        spec.default if not force_nullable else (
            spec.default if not isinstance(spec.default, _Missing) else None
        ),
        unique=spec.unique,
        allow_missing=spec.allow_missing,
        ge=spec.ge,
        gt=spec.gt,
        le=spec.le,
        lt=spec.lt,
        multiple_of=spec.multiple_of,
        const=spec.const,
        pattern=spec.pattern,
        min_length=spec.min_length,
        max_length=spec.max_length,
        allowed=spec.allowed_values,
        constraints=list(spec.constraints) if spec.constraints else None,
        derived_from=spec.derived_from,
        alias=spec.alias,
        alias_choices=spec.alias_choices,
        alias_path=spec.alias_path,
    )
    return (annotation, info)


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
    import json as _json

    try:
        data = _json.loads(payload)
    except _json.JSONDecodeError as exc:
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
    import datetime as _dt

    fields: dict[str, tuple] = {}
    for col_spec in data["columns"]:
        dtype = T._parse_datatype_json_string(col_spec["dtype"])  # type: ignore[attr-defined]
        nested = col_spec.get("model")
        nested = _model_from_dict(nested) if nested else None
        annotation = _annotation_for_spark_type(dtype, nested)
        if col_spec.get("nullable"):
            annotation = Optional[annotation]
        constraints = None
        if col_spec.get("constraints"):
            constraints = [Expr.from_dict(c) for c in col_spec["constraints"]]
        derived = col_spec.get("derived_from")
        if isinstance(derived, dict):
            derived = Expr.from_dict(derived["expr"])
        values = {key: col_spec.get(key) for key in _BOUND_KEYS}
        values["default"] = col_spec.get("default", MISSING)
        # date and timestamp values were serialized as ISO strings
        if isinstance(dtype, T.DateType):
            parse = _dt.date.fromisoformat
        elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            parse = _dt.datetime.fromisoformat
        else:
            parse = None
        if parse is not None:
            values = {
                k: parse(v) if isinstance(v, str) else v for k, v in values.items()
            }
        # an undeclared dtype is the annotation's default: passing it back
        # as explicit would narrow e.g. an int column to {LongType}
        info = FieldInfo(
            values["default"],
            dtype=(
                dtype
                if col_spec.get("explicit_dtype")
                and nested is None
                and not isinstance(dtype, T.StructType)
                else None
            ),
            unique=col_spec.get("unique", False),
            allow_missing=col_spec.get("allow_missing", False),
            ge=values["ge"],
            gt=values["gt"],
            le=values["le"],
            lt=values["lt"],
            multiple_of=values["multiple_of"],
            const=values["const"],
            pattern=col_spec.get("pattern"),
            min_length=col_spec.get("min_length"),
            max_length=col_spec.get("max_length"),
            allowed=col_spec.get("allowed_values"),
            constraints=constraints,
            derived_from=derived,
            alias=col_spec.get("alias"),
            alias_choices=col_spec.get("alias_choices"),
        )
        try:
            ColumnSpec(col_spec["name"], annotation, info)
        except ValueError:
            # e.g. uint64 → DecimalType: the serialized dtype widened past
            # the annotation's valid set; keep the annotation, drop the
            # explicit dtype (bounds were serialized separately)
            info.dtype = None
        fields[col_spec["name"]] = (annotation, info)
    return _derive_model(data.get("model", "DeserializedModel"), fields)


def _annotation_for_spark_type(
    dtype: T.DataType, nested: Optional[type] = None
) -> Any:
    """Annotation for *dtype*; its struct (at any list depth) becomes
    *nested* when the spec carried the sub-model, else a check-free
    ``NestedStruct``."""
    import datetime as _dt

    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        return float
    if isinstance(dtype, T.BooleanType):
        return bool
    if isinstance(dtype, T.StringType):
        return str
    if isinstance(dtype, T.BinaryType):
        return bytes
    if isinstance(dtype, T.DateType):
        return _dt.date
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return _dt.datetime
    if isinstance(dtype, T.DayTimeIntervalType):
        return _dt.timedelta
    if isinstance(dtype, T.ArrayType):
        inner = _annotation_for_spark_type(dtype.elementType, nested)
        if dtype.containsNull:
            inner = Optional[inner]
        return list[inner]
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
    raise TypeError(f"No annotation mapping for Spark type {dtype}")
