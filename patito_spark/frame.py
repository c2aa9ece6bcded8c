"""Model-aware DataFrame wrapper: the engine's ``DataFrame[Model]``.

≈ reference ``src/patito/polars.py`` — a thin wrapper over
``pyspark.sql.DataFrame`` carrying a ``model`` class attribute.  There is no
eager/lazy split: Spark frames are lazy until an action, so this one class
covers both the reference's ``DataFrame`` and ``LazyFrame``
(``polars.py:52-56, 345-374``).

Every operator compiles to native Column expressions (one ``select``/
``withColumns`` — Catalyst collapses chains), never per-row Python.
"""

from __future__ import annotations

from typing import Any, Iterator, Optional, Union

from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .errors import MultipleRowsReturned, RowDoesNotExist
from .expr import Expr

_PASSTHROUGH_RETURNS_DF = {
    "filter",
    "where",
    "limit",
    "distinct",
    "dropDuplicates",
    "drop_duplicates",
    "repartition",
    "coalesce",
    "sort",
    "orderBy",
    "sample",
    "cache",
    "persist",
    "unpersist",
    "alias",
    "hint",
    "checkpoint",
    "localCheckpoint",
}


class DataFrame:
    """A ``pyspark.sql.DataFrame`` plus an attached model spec.

    Operations that keep the schema intact re-attach the model
    (≈ ``polars.py:136-171`` model preservation).
    """

    model: Optional[type] = None  # set on per-model subclasses by the metaclass

    def __init__(self, df: SparkDataFrame) -> None:
        self._df = df

    # -- plumbing ---------------------------------------------------------------
    def as_spark(self) -> SparkDataFrame:
        """Unwrap to the plain pyspark DataFrame (≈ ``as_polars``, polars.py:875-877)."""
        return self._df

    def set_model(self, model: type) -> "DataFrame":
        """Attach a model, re-typing the wrapper (≈ ``polars.py:57-113``)."""
        return model.DataFrame(self._df)

    def __getattr__(self, name: str) -> Any:
        attr = getattr(self._df, name)
        if name in _PASSTHROUGH_RETURNS_DF:

            def wrapped(*args: Any, **kwargs: Any) -> Any:
                out = attr(*args, **kwargs)
                if isinstance(out, SparkDataFrame):
                    return type(self)(out)
                return out

            return wrapped
        return attr

    @property
    def columns(self) -> list:
        return self._df.columns

    @property
    def schema(self):
        return self._df.schema

    def __repr__(self) -> str:
        model_name = self.model.__name__ if self.model else None
        return f"<patito_spark.DataFrame model={model_name} {self._df}>"

    def _require_model(self) -> type:
        if self.model is None:
            raise TypeError(
                "This method requires a model; use Model.DataFrame(df) or "
                ".set_model(Model) first."
            )
        return self.model

    # -- validation ---------------------------------------------------------------
    def validate(self, columns: Optional[list] = None, **kwargs: Any) -> "DataFrame":
        """Validate against the attached model (≈ ``polars.py:545-598``)."""
        model = self._require_model()
        model.validate(self._df, columns=columns, **kwargs)
        return self

    # -- derive (≈ polars.py:132-219, 600-635) -------------------------------------
    def derive(self, columns: Optional[list] = None) -> "DataFrame":
        """Populate ``derived_from`` columns in dependency order.

        An expression's references are derived first (the reference walks
        ``root_names()`` recursively, ``polars.py:207-213``); output column
        order = model order first, extras appended (``polars.py:181-187``).
        """
        model = self._require_model()
        specs = model.__column_specs__
        targets = [
            n
            for n, s in specs.items()
            if s.derived_from is not None and (columns is None or n in columns)
        ]
        df = self._df
        derived: set = set()

        def _derive_one(name: str, stack: tuple = ()) -> None:
            nonlocal df
            if name in derived:
                return
            if name in stack:
                raise ValueError(
                    f"Cyclic derived-column dependency at {name!r}: {stack}"
                )
            spec = specs.get(name)
            if spec is None or spec.derived_from is None:
                return
            src = spec.derived_from
            if isinstance(src, str):
                expr_col = F.col(src)
            elif isinstance(src, Expr):
                for ref in sorted(src.references()):
                    if ref in specs and specs[ref].derived_from is not None:
                        _derive_one(ref, stack + (name,))
                expr_col = src.to_column()
            else:
                raise TypeError(
                    f"Invalid derived_from for {name!r}: {src!r} "
                    "(expected column name or Expr)"
                )
            df = df.withColumn(name, expr_col.cast(spec.dtype))
            derived.add(name)

        for name in targets:
            _derive_one(name)

        ordered = [c for c in specs if c in df.columns]
        extras = [c for c in df.columns if c not in specs]
        df = df.select(*ordered, *extras)
        return type(self)(df)

    # -- cast (≈ polars.py:279-334, 461-502) ----------------------------------------
    def cast(
        self, strict: bool = False, columns: Optional[list] = None
    ) -> "DataFrame":
        """Cast columns to model dtypes.

        Explicit ``Field(dtype=...)`` columns are always cast; otherwise
        non-strict leaves a column alone when its dtype is already in the
        valid set, strict forces the default dtype.
        """
        from .dtypes import dtype_in_valid_set

        model = self._require_model()
        specs = model.__column_specs__
        df_types = {f.name: f.dataType for f in self._df.schema.fields}
        out: dict[str, Column] = {}
        for name, spec in specs.items():
            if name not in df_types or (columns is not None and name not in columns):
                continue
            # a declared dtype is always the one valid dtype
            explicit = len(spec.valid_dtypes) == 1
            current = df_types[name]
            if explicit or strict or not dtype_in_valid_set(
                current, spec.valid_dtypes
            ):
                if current != spec.dtype:
                    out[name] = F.col(name).cast(spec.dtype)
        return type(self)(self._df.withColumns(out)) if out else self

    # -- unalias (≈ polars.py:221-277) ------------------------------------------------
    def unalias(self) -> "DataFrame":
        """Normalize columns from validation aliases into model field names.

        Plain alias → rename; alias_path ``(col, i)`` → ``F.get(col, i)``;
        alias_choices → first-non-null coalesce chain.  Prefers the model
        field name if already present.
        """
        model = self._require_model()
        specs = model.__column_specs__
        df_cols = set(self._df.columns)
        exprs: list[Column] = []
        consumed: set = set()
        for name, spec in specs.items():
            candidates: list[Column] = []
            if name in df_cols:
                candidates.append(F.col(name))
                consumed.add(name)
            choices: list = []
            if spec.alias:
                choices.append(spec.alias)
            if spec.alias_choices:
                choices.extend(spec.alias_choices)
            if spec.alias_path:
                src, idx = spec.alias_path
                if src in df_cols:
                    candidates.append(F.get(F.col(src), idx))
            for choice in choices:
                if isinstance(choice, tuple):
                    src, idx = choice
                    if src in df_cols:
                        candidates.append(F.get(F.col(src), idx))
                elif choice in df_cols:
                    candidates.append(F.col(choice))
                    consumed.add(choice)
            if not candidates:
                continue
            expr = candidates[0] if len(candidates) == 1 else F.coalesce(*candidates)
            exprs.append(expr.alias(name))
        passthrough = [
            F.col(c)
            for c in self._df.columns
            if c not in consumed
            and not any(
                s.alias == c
                or (s.alias_choices and c in s.alias_choices)
                or (s.alias_path and s.alias_path[0] == c)
                for s in specs.values()
            )
        ]
        return type(self)(self._df.select(*exprs, *passthrough))

    # -- fill_null (≈ polars.py:637-708) ------------------------------------------------
    def fill_null(
        self,
        value: Any = None,
        strategy: Optional[str] = None,
        limit: Optional[int] = None,
        matches_supertype: bool = True,
        order_by: Union[str, list, None] = None,
        partition_by: Union[str, list, None] = None,
    ) -> "DataFrame":
        """Fill nulls with a literal, a strategy, or model defaults.

        Strategies mirror the reference (``polars.py:637-708``):

        - ``"defaults"`` (also the behavior when called with no arguments):
          fill from model field defaults, creating missing columns.
        - ``"zero"`` / ``"one"``: numeric columns filled with 0 / 1.
        - ``"min"`` / ``"max"`` / ``"mean"``: numeric columns filled with the
          column's aggregate — ONE aggregation job, then a coalesce per
          column (the 100 TB shape: a single scan producing one tiny row).
        - ``"forward"`` / ``"backward"``: require an explicit ``order_by``
          (Spark DataFrames have no inherent row order; polars' positional
          semantics are ill-defined on a shuffled table, so calling these
          without ``order_by`` raises).  Implemented as one ordered window
          (``last``/``first`` with ``ignorenulls``); ``limit`` bounds the
          fill to nulls within *limit* rows of the donor value, matching
          polars' consecutive-fill cap.  Pass ``partition_by`` at scale —
          a global ordered window is a single-partition sort.
        """
        if value is not None and strategy is not None:
            # reference parity: polars raises when both are given
            # (polars.py:637-708) rather than silently preferring one
            raise ValueError("cannot specify both `value` and `strategy`")
        if limit is not None and strategy not in ("forward", "backward"):
            raise ValueError(
                "`limit` only applies to the forward/backward strategies"
            )
        if not matches_supertype:
            raise NotImplementedError(
                "matches_supertype=False (exact-dtype fills) is not "
                "supported; Spark's fillna applies type-family matching"
            )
        if value is not None and strategy is None:
            return type(self)(self._df.fillna(value))
        if strategy in ("forward", "backward"):
            return self._fill_null_ordered(strategy, order_by, partition_by, limit)
        if strategy in ("zero", "one"):
            fill = 0 if strategy == "zero" else 1
            numeric = [
                f.name
                for f in self._df.schema.fields
                if isinstance(f.dataType, T.NumericType)
            ]
            out = {
                c: F.coalesce(F.col(c), F.lit(fill).cast(self._df.schema[c].dataType))
                for c in numeric
            }
            return type(self)(self._df.withColumns(out)) if out else self
        if strategy in ("min", "max", "mean"):
            agg_fn = {"min": F.min, "max": F.max, "mean": F.avg}[strategy]
            numeric = [
                f.name
                for f in self._df.schema.fields
                if isinstance(f.dataType, T.NumericType)
            ]
            if not numeric:
                return self
            stats = self._df.agg(
                *[agg_fn(c).alias(c) for c in numeric]
            ).collect()[0]
            out = {
                c: F.coalesce(
                    F.col(c),
                    F.lit(stats[c]).cast(self._df.schema[c].dataType),
                )
                for c in numeric
                if stats[c] is not None
            }
            return type(self)(self._df.withColumns(out)) if out else self
        if strategy not in (None, "defaults"):
            raise ValueError(f"Unknown fill_null strategy: {strategy!r}")
        model = self._require_model()
        df = self._df
        out = {}
        for name, default in model.defaults.items():
            spec = model.__column_specs__[name]
            lit = F.lit(default).cast(spec.dtype)
            if name in df.columns:
                out[name] = F.coalesce(F.col(name), lit)
            else:
                out[name] = lit
        return type(self)(df.withColumns(out)) if out else self

    def _fill_null_ordered(
        self,
        strategy: str,
        order_by: Union[str, list, None],
        partition_by: Union[str, list, None],
        limit: Optional[int],
    ) -> "DataFrame":
        """Forward/backward fill over an explicit ordering.

        One window per direction; every non-key column is filled from the
        nearest non-null value at or before (forward) / after (backward)
        it in ``order_by`` order.  ``limit`` bounds the window frame so a
        null further than *limit* rows from its donor stays null — polars'
        consecutive-fill cap expressed as a frame bound.
        """
        if order_by is None:
            raise ValueError(
                f"strategy={strategy!r} requires an explicit row order on a "
                "Spark DataFrame; pass order_by= (and partition_by= at "
                "scale — a global ordered window is a single-partition sort)"
            )
        from pyspark.sql.window import Window

        order = [order_by] if isinstance(order_by, str) else list(order_by)
        parts = (
            []
            if partition_by is None
            else [partition_by]
            if isinstance(partition_by, str)
            else list(partition_by)
        )
        if parts:
            base = Window.partitionBy(*parts)
        else:
            import warnings  # noqa: PLC0415

            warnings.warn(
                "fill_null(strategy={!r}) without partition_by= plans a "
                "single-partition global window — the whole frame sorts on "
                "one task. Pass partition_by= at scale.".format(strategy),
                stacklevel=3,
            )
            base = Window.partitionBy(F.lit(1))
        # NULLS LAST is pinned to the DuckDB oracle's default null
        # ordering (Spark's .asc() is NULLS FIRST; polars defaults to
        # nulls FIRST too, so this is an oracle-parity choice, not a
        # polars-parity one) — otherwise NULL order keys silently diverge
        # from the cross-engine gate.
        ordered = base.orderBy(*[F.asc_nulls_last(c) for c in order])
        if strategy == "forward":
            w = ordered.rowsBetween(
                Window.unboundedPreceding if limit is None else -limit,
                Window.currentRow,
            )

            def fill(c: str) -> Column:
                return F.last(F.col(c), ignorenulls=True).over(w)

        else:
            w = ordered.rowsBetween(
                Window.currentRow,
                Window.unboundedFollowing if limit is None else limit,
            )

            def fill(c: str) -> Column:
                return F.first(F.col(c), ignorenulls=True).over(w)

        skip = set(order) | set(parts)
        out = {
            c: F.coalesce(F.col(c), fill(c))
            for c in self._df.columns
            if c not in skip
        }
        return type(self)(self._df.withColumns(out)) if out else self

    # -- drop (≈ polars.py:504-543) --------------------------------------------------
    def drop(self, columns: Union[str, list, None] = None, *more: str) -> "DataFrame":
        """With no args: drop all columns NOT in the model."""
        if columns is None:
            model = self._require_model()
            extras = [c for c in self._df.columns if c not in model.__column_specs__]
            return type(self)(self._df.drop(*extras)) if extras else self
        names = [columns] if isinstance(columns, str) else list(columns)
        names += list(more)
        return type(self)(self._df.drop(*names))

    # -- select preserving wrapper ---------------------------------------------------
    def select(self, *cols: Any) -> "DataFrame":
        return type(self)(self._df.select(*cols))

    def with_columns(self, mapping: dict) -> "DataFrame":
        cols = {
            k: (v.to_column() if isinstance(v, Expr) else v)
            for k, v in mapping.items()
        }
        return type(self)(self._df.withColumns(cols))

    # -- get (≈ polars.py:710-790) -----------------------------------------------------
    def get(self, predicate: Union[Column, Expr, None] = None) -> Any:
        """Filter to exactly one row and materialize it as a model instance.

        Without a bound model a dynamic ``UntypedRow`` model is synthesized
        from the frame's schema (reference ``polars.py:855-873``), so the
        result always supports attribute access.  Error messages match the
        reference exactly (``polars.py:781-786``); the exact row count in
        the multiple-rows message costs one extra job, but only on the
        error path.
        """
        df = self._df
        if predicate is not None:
            if isinstance(predicate, Expr):
                predicate = predicate.to_column()
            df = df.filter(predicate)
        rows = df.take(2)
        if len(rows) == 0:
            raise RowDoesNotExist(f"{type(self).__name__}.get() yielded 0 rows.")
        if len(rows) > 1:
            raise MultipleRowsReturned(
                f"{type(self).__name__}.get() yielded {df.count()} rows."
            )
        model = self.model or self._untyped_row_model()
        return model.from_row(rows[0])

    def _untyped_row_model(self) -> type:
        """Dynamic model matching this frame's schema (≈ ``_pydantic_model``,
        reference ``polars.py:855-873``) — every field typed from the Spark
        schema, nullable where the schema says so."""
        from .spec import MISSING, FieldInfo, _annotation_for_spark_type, _derive_model

        fields = {}
        for f in self._df.schema.fields:
            anno = _annotation_for_spark_type(f.dataType)
            if f.nullable:
                anno = Optional[anno]
            fields[f.name] = (anno, FieldInfo(MISSING))
        return _derive_model("UntypedRow", fields)

    # -- iter_models (≈ polars.py:792-853) ----------------------------------------------
    def iter_models(
        self, validate_df: bool = True, validate_model: bool = False
    ) -> "ModelGenerator":
        """Yield one model instance per row (driver-side; use only on small
        or pre-filtered frames at scale — documented caveat)."""
        model = self._require_model()
        df = self._df
        if validate_df:
            extras = set(df.columns) - set(model.__column_specs__)
            clean = df.drop(*extras) if extras else df
            model.validate(clean)
            df = clean

        def _generate() -> Iterator[Any]:
            for row in df.toLocalIterator():
                data = row.asDict(recursive=True)
                if validate_model:
                    yield model(**data)
                else:
                    yield model._construct(data)

        return ModelGenerator(_generate())

    # -- read_csv (≈ polars.py:880-960 classmethod) --------------------------------------
    @classmethod
    def read_csv(
        cls, path: str, has_header: bool = True, derive: bool = True, **options
    ) -> "DataFrame":
        """Model-schema CSV scan, as a classmethod on the model's frame
        (reference ``DataFrame.read_csv``, ``polars.py:880-960``): column
        names/types come from the model (headerless files take the model's
        column order), ``derived_from`` columns are populated on read.

        Divergence: Spark scans distributed paths, not in-memory buffers —
        *path* must be a file/directory/glob, and the session is the active
        SparkSession.
        """
        if cls.model is None:
            raise TypeError(
                "read_csv requires a model-bound frame; use "
                "Model.DataFrame.read_csv(...)"
            )
        from pyspark.sql import SparkSession

        from .sources.io import read_csv as _read_csv

        spark = SparkSession.getActiveSession()
        if spark is None:  # pragma: no cover - tests always have a session
            spark = SparkSession.builder.getOrCreate()
        return _read_csv(
            spark, path, cls.model, header=has_header, derive=derive, **options
        )

    # -- actions ------------------------------------------------------------------------
    def collect(self) -> list:
        return self._df.collect()

    def count(self) -> int:
        return self._df.count()

    def show(self, *args: Any, **kwargs: Any) -> None:
        self._df.show(*args, **kwargs)


class ModelGenerator:
    """Iterator of model instances with a ``to_list`` helper
    (≈ ``polars.py:34-49``)."""

    def __init__(self, it: Iterator[Any]) -> None:
        self._it = it

    def __iter__(self) -> Iterator[Any]:
        return self._it

    def __next__(self) -> Any:
        return next(self._it)

    def to_list(self) -> list:
        return list(self._it)
