"""Python annotation → Spark ``DataType`` resolution.

Re-creates the reference's ``DtypeResolver`` semantics
(``/root/reference/src/patito/_pydantic/dtypes/dtypes.py:115-260`` and
``utils.py:36-231``) directly on typing annotations (no pydantic JSON-schema
round-trip needed): each annotation resolves to a *default* Spark type plus a
*set of valid* Spark types; an explicit ``Field(dtype=...)`` overrides the
default and narrows the valid set to exactly that dtype after a
compatibility check (reference ``dtypes.py:31-38, 58-84``).

Spark divergences from polars (documented, with synthesized checks):

- no unsigned ints → ``uint8/16/32`` map to the next-wider signed type and
  ``uint64`` to ``DecimalType(20,0)``, each with synthesized ``[0, 2^w - 1]``
  bound checks attached by the spec layer;
- no categorical/enum dtype → ``Literal``/string-``Enum`` become ``StringType``
  and the domain check carries the semantics (reference ``utils.py:123-125``);
- ``Duration`` → ``DayTimeIntervalType``; naive vs aware datetime →
  ``TimestampNTZType`` vs ``TimestampType``.

The table at the end holds, per Spark type, its Python values: the value
codec that writes what a spec or an expression carries (bounds, defaults,
allowed values, literals) as JSON and reads it back, and the type check and
lax coercion of instance validation.
"""

from __future__ import annotations

import datetime as dt
import decimal
import enum
import re
import types
import typing
from typing import Any, Callable, NamedTuple, Optional, Union

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# dtype families (≈ PT_BASE_SUPPORTED_DTYPES, reference utils.py:36-45)
# ---------------------------------------------------------------------------

INTEGER_TYPES: frozenset = frozenset(
    {T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()}
)
FLOAT_TYPES: frozenset = frozenset({T.FloatType(), T.DoubleType()})
DATETIME_TYPES: frozenset = frozenset({T.TimestampType(), T.TimestampNTZType()})


class _AnyDecimalType(T.DecimalType):
    """Valid-set marker: matches a DecimalType of ANY precision/scale.

    A ``decimal.Decimal`` annotation doesn't pin precision (the reference
    maps it to an unparametrized ``pl.Decimal``); an explicit
    ``Field(dtype="decimal(p,s)")`` narrows it.
    """


#: any-precision decimal family (annotation ``decimal.Decimal``)
DECIMAL_TYPES: frozenset = frozenset({_AnyDecimalType(38, 18)})

_STRING_ALIASES: dict[str, T.DataType] = {
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "byte": T.ByteType(),
    "short": T.ShortType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "long": T.LongType(),
    "bigint": T.LongType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "str": T.StringType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "timestamp_ntz": T.TimestampNTZType(),
    "interval": T.DayTimeIntervalType(),
    # unsigned ints: widened signed type; spec layer synthesizes range checks
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.DecimalType(20, 0),
}

#: For an explicit unsigned dtype string, the synthesized [min, max] bounds;
#: uint64's maximum is a Decimal, as a Python int past 2^63 - 1 is no Spark
#: literal.
UNSIGNED_BOUNDS: dict[str, tuple] = {
    "uint8": (0, 2**8 - 1),
    "uint16": (0, 2**16 - 1),
    "uint32": (0, 2**32 - 1),
    "uint64": (0, decimal.Decimal(2**64 - 1)),
}


def parse_dtype(dtype: Any) -> T.DataType:
    """Normalize an explicit ``Field(dtype=...)`` value to a Spark DataType."""
    if isinstance(dtype, T.DataType):
        return dtype
    if isinstance(dtype, type) and issubclass(dtype, T.DataType):
        return dtype()
    if isinstance(dtype, str):
        key = dtype.strip().lower()
        if key in _STRING_ALIASES:
            return _STRING_ALIASES[key]
        # decimal(p,s) parsed Python-side: Spark's DDL parser needs a live
        # SparkContext, and model definition must stay metadata-only
        m = re.fullmatch(r"decimal(?:\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?", key)
        if m:
            return T.DecimalType(int(m.group(1) or 10), int(m.group(2) or 0))
        # fall back to Spark's own DDL parser ("array<int>", "struct<...>", ...)
        return T._parse_datatype_string(dtype)  # type: ignore[attr-defined]
    raise TypeError(f"Cannot interpret {dtype!r} as a Spark dtype")


class ResolvedType:
    """Resolution result: default dtype, valid dtype set, nullability, domain."""

    __slots__ = ("default", "valid", "nullable", "allowed_values", "item_nullable")

    def __init__(
        self,
        default: T.DataType,
        valid: frozenset,
        nullable: bool = False,
        allowed_values: Optional[list] = None,
        item_nullable: Optional[bool] = None,
    ) -> None:
        self.default = default
        self.valid = valid
        self.nullable = nullable
        # Literal / Enum domain — carried as an allowed-values check because
        # Spark has no categorical dtype (reference: pl.Enum, utils.py:123-125)
        self.allowed_values = allowed_values
        # for ArrayType: whether list items may be null (list[Optional[T]])
        self.item_nullable = item_nullable


def resolve_annotation(annotation: Any) -> ResolvedType:
    """Annotation → (default Spark dtype, valid set, nullable, domain).

    Mirrors the reference resolution table (``utils.py:126-209``):
    int→Int64-analogue ``LongType``, float→``DoubleType``, etc.
    """
    nullable = False
    anno = annotation

    origin = typing.get_origin(anno)
    args = typing.get_args(anno)

    # Optional[T] / Union[T, None] / PEP-604 `T | None`
    # (reference utils.py:71-106; get_origin returns types.UnionType for
    # the `|` spelling on Python < 3.14)
    if origin is Union or origin is getattr(types, "UnionType", None):
        non_none = [a for a in args if a is not type(None)]
        if len(non_none) < len(args):
            nullable = True
        if len(non_none) == 0:
            return ResolvedType(T.NullType(), frozenset({T.NullType()}), True)
        if len(non_none) > 1:
            # int|float style unions: union of both valid sets, default from
            # the first member (reference resolves via anyOf branches)
            first = resolve_annotation(non_none[0])
            valid: set = set(first.valid)
            for other in non_none[1:]:
                valid |= set(resolve_annotation(other).valid)
            return ResolvedType(first.default, frozenset(valid), nullable)
        inner = resolve_annotation(non_none[0])
        return ResolvedType(
            inner.default, inner.valid, True, inner.allowed_values, inner.item_nullable
        )

    # Literal["a", "b"]  → StringType + allowed values (utils.py:123-125)
    if origin is typing.Literal:
        values = list(args)
        kinds = {type(v) for v in values}
        if kinds <= {str}:
            return ResolvedType(
                T.StringType(), frozenset({T.StringType()}), allowed_values=values
            )
        if kinds <= {int}:
            return ResolvedType(
                T.LongType(), INTEGER_TYPES, allowed_values=values
            )
        raise TypeError(
            f"Mixed-type literals not supported: {values!r} "
            "(reference rejects these too, utils.py:222-231)"
        )

    # list[T] → ArrayType (reference dtypes.py:163-173)
    if origin in (list, typing.List):  # noqa: UP006
        inner = resolve_annotation(args[0]) if args else ResolvedType(
            T.StringType(), frozenset({T.StringType()})
        )
        item_nullable = inner.nullable
        default = T.ArrayType(inner.default, containsNull=item_nullable)
        valid = frozenset(
            T.ArrayType(v, containsNull=item_nullable) for v in inner.valid
        )
        return ResolvedType(
            default,
            valid,
            allowed_values=inner.allowed_values,
            item_nullable=item_nullable,
        )

    if origin in (dict, typing.Dict):  # noqa: UP006
        # extension beyond the reference (patito rejects dicts,
        # dtypes.py:246-248); we map to MapType
        key = resolve_annotation(args[0]).default if args else T.StringType()
        val = resolve_annotation(args[1]).default if args else T.StringType()
        m = T.MapType(key, val)
        return ResolvedType(m, frozenset({m}))

    # plain classes -----------------------------------------------------------
    if isinstance(anno, type):
        # nested model → StructType; import here to avoid a cycle
        from .spec import Model

        if issubclass(anno, Model):
            st = anno.spark_schema()
            return ResolvedType(st, frozenset({st}))
        if issubclass(anno, enum.Enum):
            values = [m.value for m in anno]
            if not all(isinstance(v, str) for v in values):
                raise TypeError(
                    "Enums with non-string values are not supported "
                    "(reference utils.py:228-231)"
                )
            return ResolvedType(
                T.StringType(), frozenset({T.StringType()}), allowed_values=values
            )
        if anno is bool:  # must precede int (bool is an int subclass)
            return ResolvedType(T.BooleanType(), frozenset({T.BooleanType()}))
        if anno is int:
            return ResolvedType(T.LongType(), INTEGER_TYPES)
        if anno is float:
            return ResolvedType(T.DoubleType(), FLOAT_TYPES)
        if anno is str:
            return ResolvedType(T.StringType(), frozenset({T.StringType()}))
        if anno is bytes:
            return ResolvedType(T.BinaryType(), frozenset({T.BinaryType()}))
        if anno is dt.datetime:
            return ResolvedType(T.TimestampType(), DATETIME_TYPES)
        if anno is dt.date:
            return ResolvedType(T.DateType(), frozenset({T.DateType()}))
        if anno is dt.timedelta:
            return ResolvedType(
                T.DayTimeIntervalType(), frozenset({T.DayTimeIntervalType()})
            )
        if anno is decimal.Decimal:
            # Spark's inferred type for Python Decimal values is (38,18);
            # the valid set accepts any precision/scale (see _AnyDecimalType)
            return ResolvedType(T.DecimalType(38, 18), DECIMAL_TYPES)
        if anno is dt.time:
            time_type = getattr(T, "TimeType", None)
            if time_type is not None:
                return ResolvedType(time_type(), frozenset({time_type()}))
            return ResolvedType(T.LongType(), INTEGER_TYPES)

    if anno is None or anno is type(None):
        return ResolvedType(T.NullType(), frozenset({T.NullType()}), True)

    raise TypeError(f"Unsupported annotation for a model field: {annotation!r}")


def dtype_in_valid_set(dtype: T.DataType, valid: frozenset) -> bool:
    """Membership with structural equality for nested types.

    For arrays/structs only the element/field types matter, not the
    ``containsNull``/``nullable`` flags (Spark readers set these from data).
    """
    if any(_types_equivalent(dtype, v) for v in valid):
        return True
    return False


def _types_equivalent(a: T.DataType, b: T.DataType) -> bool:
    if isinstance(a, _AnyDecimalType) or isinstance(b, _AnyDecimalType):
        # the marker matches any concrete precision/scale
        return isinstance(a, T.DecimalType) and isinstance(b, T.DecimalType)
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return _types_equivalent(a.elementType, b.elementType)
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        if [f.name for f in a.fields] != [f.name for f in b.fields]:
            return False
        return all(
            _types_equivalent(fa.dataType, fb.dataType)
            for fa, fb in zip(a.fields, b.fields)
        )
    if isinstance(a, (T.TimestampType, T.TimestampNTZType)) and isinstance(
        b, (T.TimestampType, T.TimestampNTZType)
    ):
        # tz-awareness matters: exact class match
        return type(a) is type(b)
    return a == b


# ---------------------------------------------------------------------------
# value codec: the JSON form of a column's bound, const, default or allowed
# values, and of an expression literal
# ---------------------------------------------------------------------------


def _encode_value(value: Any) -> Any:
    """JSON form of a bound, ``const``, ``default``, allowed value or
    expression literal; ``_decode_value`` inverts it by the Spark type.  A
    timedelta is its seconds (exact to the microsecond below about 70
    years)."""
    if isinstance(value, (list, tuple)):
        return [_encode_value(v) for v in value]
    if isinstance(value, (dt.date, dt.time)):  # datetime is a date
        return value.isoformat()
    if isinstance(value, dt.timedelta):
        return value.total_seconds()
    if isinstance(value, bytes):
        return value.hex()
    if isinstance(value, decimal.Decimal):
        return str(value)
    return value


class _ValueType(NamedTuple):
    """A Spark type's values in Python.  ``py`` is the annotation type and
    ``name`` pydantic's name for it.  ``_encode_value`` writes a value as
    the JSON type ``json`` and ``parse`` reads it back (``json`` is None
    where JSON holds the value as is).  Instance validation accepts a value
    of ``py`` or of the ``lax`` types that is none of the ``rejects`` (a
    bool is no number, a datetime no date), and ``coerce`` converts it
    (pydantic's lax mode; it raises ``ValueError`` with pydantic's message)."""

    py: type
    name: str
    json: Any = None
    parse: Optional[Callable] = None
    lax: tuple = ()
    rejects: tuple = ()
    coerce: Optional[Callable] = None


def _to_int(value: Any) -> int:
    if isinstance(value, float) and not value.is_integer():
        raise ValueError(
            "Input should be a valid integer, got a number with a fractional part"
        )
    try:
        return int(value)
    except ValueError:
        raise ValueError(
            "Input should be a valid integer, unable to parse string as an integer"
        ) from None


def _to_number(parse: Callable) -> Callable:
    def coerce(value: Any) -> Any:
        try:  # a float becomes the Decimal of its repr, not of its binary value
            return parse(str(value) if isinstance(value, float) else value)
        except (ValueError, ArithmeticError):
            raise ValueError(
                "Input should be a valid number, unable to parse string as a number"
            ) from None

    return coerce


#: Spark type of a column (or list item) → its ``_ValueType``: one row per
#: type for the value codec, the annotation of a rebuilt spec and the
#: instance type check
_DECODERS: dict = {
    **dict.fromkeys(
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
        _ValueType(int, "integer", lax=(float, str), rejects=(bool,), coerce=_to_int),
    ),
    **dict.fromkeys(
        (T.FloatType, T.DoubleType),
        _ValueType(
            float, "number", lax=(int, str, decimal.Decimal), rejects=(bool,),
            coerce=_to_number(float),
        ),
    ),
    T.BooleanType: _ValueType(bool, "boolean"),
    T.StringType: _ValueType(str, "string"),
    T.DateType: _ValueType(
        dt.date, "date", str, dt.date.fromisoformat, rejects=(dt.datetime,)
    ),
    **dict.fromkeys(
        (T.TimestampType, T.TimestampNTZType),
        _ValueType(dt.datetime, "datetime", str, dt.datetime.fromisoformat),
    ),
    T.DayTimeIntervalType: _ValueType(
        dt.timedelta, "timedelta", (int, float), lambda s: dt.timedelta(seconds=s)
    ),
    T.BinaryType: _ValueType(bytes, "bytes", str, bytes.fromhex, lax=(bytearray,)),
    T.DecimalType: _ValueType(
        decimal.Decimal, "number", str, decimal.Decimal, lax=(int, float, str),
        rejects=(bool,), coerce=_to_number(decimal.Decimal),
    ),
    T.ArrayType: _ValueType(list, "list", lax=(tuple,), coerce=list),
    T.MapType: _ValueType(dict, "dictionary"),
}
if hasattr(T, "TimeType"):  # pyspark >= 4.1
    _DECODERS[T.TimeType] = _ValueType(dt.time, "time", str, dt.time.fromisoformat)


def _decode_value(value: Any, dtype: T.DataType) -> Any:
    if isinstance(value, list):  # allowed values, or a list column's default
        item = dtype.elementType if isinstance(dtype, T.ArrayType) else dtype
        return [_decode_value(v, item) for v in value]
    while isinstance(dtype, T.ArrayType):  # a bound on a list's items
        dtype = dtype.elementType
    row = _DECODERS.get(type(dtype))
    return row.parse(value) if row and row.json and isinstance(value, row.json) else value


#: name of each Spark type whose row parses a JSON form → the type, and
#: back from the Python type (the first row wins: a datetime literal is a
#: ``timestamp``)
_TAGGED_TYPES = {cls.typeName(): cls for cls, row in _DECODERS.items() if row.json}
_LITERAL_TAGS = {_DECODERS[cls].py: tag for tag, cls in reversed(_TAGGED_TYPES.items())}


def _encode_literal(value: Any) -> dict:
    """``{"v": <JSON form>}`` of an expression literal (a value, or the list
    of an ``is_in``).  An expression carries no column type, so a value JSON
    cannot hold is tagged ``"t"`` with the Spark type that decodes it."""
    items = value if isinstance(value, (list, tuple)) else [value]
    tags = {  # the nearest tagged class (a pandas Timestamp is a datetime)
        next((_LITERAL_TAGS[c] for c in type(v).__mro__ if c in _LITERAL_TAGS), None)
        for v in items
    } - {None}
    if len(tags) > 1:
        raise TypeError(f"A literal mixes values of the types {sorted(tags)}")
    encoded = {"v": _encode_value(value)}
    return {**encoded, "t": tags.pop()} if tags else encoded


def _decode_literal(arg: dict) -> Any:
    if "t" not in arg:
        return arg["v"]
    return _decode_value(arg["v"], _TAGGED_TYPES[arg["t"]]())
