"""patito_spark — a PySpark-native schema + constraint validation engine.

A from-scratch re-creation of the query/data-processing capabilities of
JakobGM/patito (reference studied at /root/reference, v0.8.6), re-designed
for Spark's distributed execution model: the whole check suite compiles to
ONE single-pass DataFrame aggregation plus one hashed uniqueness count, scales
to web-size tables, and emits per-partition verdicts with checkpoint/resume
(see patito_spark.plans.runner).

Public surface mirrors patito's::

    import patito_spark as pt

    class Product(pt.Model):
        product_id: int = pt.Field(unique=True)
        temperature_zone: Literal["dry", "cold", "frozen"]
        demand_percentage: float = pt.Field(ge=0.0, le=1.0)

    Product.validate(df)          # raises pt.DataFrameValidationError
    Product.examples({"product_id": [1, 2]})
"""

from . import errors as exceptions  # ≈ patito `pt.exceptions` (reference __init__.py:5)
from .errors import (
    ColumnDTypeError,
    DataFrameValidationError,
    ErrorWrapper,
    MissingColumnsError,
    MissingValuesError,
    MultipleRowsReturned,
    RowDoesNotExist,
    RowValueError,
    SuperfluousColumnsError,
    WrongColumnsError,
)
from .evolution import diff_models
from .expr import Expr, col, field, lit
from .frame import DataFrame, ModelGenerator
from .frame import DataFrame as LazyFrame  # Spark frames are lazy already
from .spec import Field, Model

__version__ = "0.1.0"

__all__ = [
    "Model",
    "Field",
    "DataFrame",
    "LazyFrame",
    "ModelGenerator",
    "diff_models",
    "exceptions",
    "Expr",
    "col",
    "lit",
    "field",
    "DataFrameValidationError",
    "ErrorWrapper",
    "WrongColumnsError",
    "MissingColumnsError",
    "SuperfluousColumnsError",
    "MissingValuesError",
    "ColumnDTypeError",
    "RowValueError",
    "RowDoesNotExist",
    "MultipleRowsReturned",
    "__version__",
]
