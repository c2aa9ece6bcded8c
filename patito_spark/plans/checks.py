"""The validation engine: one check compiler, two executors.

The reference executes **O(#checks) eager scans** — one kernel per null
count (``/root/reference/src/patito/validators.py:144``), one ``collect()``
per bounds check (``validators.py:359-366``), a full unique scan per enum
column (``validators.py:429-432``) and a duplicate mask per unique column
(``validators.py:237``).  That is fine for a single polars process and fatal
for a 10^12-row table.

**Compile** (:func:`compile_checks`, driver only, no Spark job): the
schema-level errors (missing/superfluous columns, dtypes — V1/V2/V5) plus a
flat list of :class:`Check` records, one per error message a column can
produce: loc and kind, per-row violation predicates keyed by row-flag name
(``<loc>__<kind>``), the aggregate terms counting them plus extras (enum
null probes, aggregate-constraint booleans, the row total), the message
renderer, a pass-2 marker for mixed aggregate/row constraints, a uniqueness
target and a scope.  Nested-struct fields (V8) are built off their parent
column, guarded on parent non-nullness; a list-of-struct column (V9) opens
a scope read off its exploded element ``_item``.

A plan is compiled once per (model, schema, options) and SparkContext: the
memo keeps the last ``_MEMO_SIZE`` plans, so a repeated call (every ingest
micro-batch, every runner call) builds DataFrames only — under PySpark's
py4j bridge every ``functions``/Column call is several round trips.  Each
plan also holds, built at compile time, every scope's aliased Job 1 term
list and its uniqueness targets' key-hash generator
(``inline(_key_hashes(...))``, shared by :func:`_duplicate_counts` and the
runner's partials).  A plan is shared, so it holds no DataFrame-bound
Column, is never mutated after compilation, and hands out its schema-level
errors as fresh ErrorWrappers per call.

**Aggregate executor** (:func:`_aggregate`), per scope, unkeyed
(:func:`find_errors`) or keyed by partition (``plans.runner``): Job 1 puts
every record's terms in one ``agg`` (one scan, no shuffle); Job 1a, only on
enum violations, fetches bounded offending-value samples; Job 1b, only with
mixed constraints, resolves the pass-1 aggregates in the row predicates
(literals unkeyed, a broadcast local relation joined per key keyed) and
counts failures in one more scan.  A list-of-struct scope runs over the
exploded column of its parent's frame, the key carried along.  Uniqueness
(V7) stays per executor: one hashed shuffle for all unique columns of a
scope here (:func:`_duplicate_counts`), persisted partials in the runner;
both group on the same pre-shuffle key hash pair (:func:`_key_hashes`).
In :func:`find_errors` a scope's aggregate executor and its duplicate count
need nothing from each other and run concurrently (:func:`_concurrently`);
the errors keep their order: schema, aggregate, then duplicates.

**Row executor** (:func:`row_flags`): the predicates as row flags, for
``flag_violations`` and everything routed by it; a list-of-struct record
becomes ``exists(column, element -> predicate)``, its scope compiled again
against the lambda element; the flag set is memoized like the plan.
Uniqueness, aggregate and mixed constraints and schema-level errors have no
row form.

All expressions are native ``pyspark.sql.functions`` Columns — whole-stage
codegen end to end, zero Python UDFs.  Check semantics mirror the reference
exactly (see SURVEY §7.3): duplicate counts include every member of a
duplicate group; bound-violation counts sum per check (a row can count
twice); nulls never fail bounds/constraints; ``pattern`` is regex *search*;
a string's lengths count characters, a list's its items, and every other
value rule on a list column holds per item.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from dataclasses import dataclass, field, replace
from functools import reduce
from typing import Any, Callable, Optional

from pyspark import InheritableThread, SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import (
    ColumnDTypeError,
    DataFrameValidationError,
    ErrorWrapper,
    MissingColumnsError,
    MissingValuesError,
    RowValueError,
    SuperfluousColumnsError,
)
from ..spec import _RULES, _Rule

#: Upper bound on distinct impermissible enum values shipped to the driver.
#: The reference reports the full set (validators.py:436); at web scale an
#: unbounded collect_set is a driver OOM, so we cap (far above test domains).
_ENUM_SAMPLE_CAP = 1000

#: compiled plans (and the row executor's flag sets) kept per SparkContext,
#: model, schema and options; past this many the least recently used goes
_MEMO_SIZE = 64

#: one builder per counted error message (exact reference wording)
_COUNT_MESSAGES = {
    "null": (MissingValuesError, "{n} missing value{s}"),
    "list_null": (MissingValuesError, "{n} missing value{s} in lists"),
    "bound": (RowValueError, "{n} row{s} with out of bound values."),
    "constraint": (RowValueError, "{n} row{s} does not match custom constraints."),
    "unique": (RowValueError, "{n} rows with duplicated values."),
}


def _wrap(exc_cls, msg: str, loc: str, count: int) -> ErrorWrapper:
    exc = exc_cls(msg)
    exc.count = count  # structured count for the report/checkpoint writer
    return ErrorWrapper(exc, loc=loc)


def count_error(kind: str, loc: str, n) -> Optional[ErrorWrapper]:
    """The error for *n* violations of a counted check kind; None for 0."""
    if not n:
        return None
    exc_cls, message = _COUNT_MESSAGES[kind]
    return _wrap(exc_cls, message.format(n=n, s="" if n == 1 else "s"), loc, n)


@dataclass(eq=False)
class Scope:
    """The row a scope's records read: the frame's row (root) or the element
    of a list-of-struct ``column`` (relative to the parent scope's row)."""

    loc: str = ""
    column: Optional[Column] = None
    model: Optional[type] = None
    element: Optional[T.StructType] = None
    parent: Optional["Scope"] = None
    #: schema-level errors in this scope, as (exception class, message, loc)
    errors: list = field(default_factory=list)
    # executor inputs, derived once the plan is compiled (:func:`_derive`)
    counted: list = field(default_factory=list)  # records with Job 1 terms
    aliases: list = field(default_factory=list)  # per record: name → alias
    terms: list = field(default_factory=list)  # the aliased Job 1 terms
    unique: list = field(default_factory=list)  # uniqueness targets
    #: ``inline`` of the targets' key hashes: one ``(k, h1, h2)`` row each
    key_hashes: Optional[Column] = None

    def schema_errors(self) -> list:
        """Fresh ErrorWrappers of :attr:`errors` (a plan is shared)."""
        return [ErrorWrapper(cls(msg), loc=loc) for cls, msg, loc in self.errors]


@dataclass(eq=False)
class Check:
    """One compiled check: everything both executors need to evaluate it."""

    loc: str
    kind: str  # null | list_null | enum | unique | bound | constraint
    scope: Scope
    #: a result row's values of ``terms`` (+ ``values``/``mixed``) → error
    render: Optional[Callable[[dict], Optional[ErrorWrapper]]] = None
    terms: dict = field(default_factory=dict)  # local name → aggregate
    flags: dict = field(default_factory=dict)  # row-flag name → predicate
    #: enum: (offending-value expression, is_array), sampled when n > 0
    sample: Optional[tuple] = None
    #: pass-2 marker: placeholder name → Column resolver ↦ row predicate
    mixed: Optional[Callable] = None
    #: uniqueness: (loc, guarded key, value)
    unique: Optional[tuple] = None


@dataclass(eq=False)
class CheckPlan:
    """A model compiled against one schema; scopes parent first, root first."""

    checks: list = field(default_factory=list)
    scopes: list = field(default_factory=lambda: [Scope()])

    @property
    def root(self) -> Scope:
        return self.scopes[0]

    @property
    def schema_errors(self) -> list:
        return [e for s in self.scopes for e in s.schema_errors()]

    def in_scope(self, scope: Scope) -> list:
        return [c for c in self.checks if c.scope is scope]


_memo: OrderedDict = OrderedDict()
_memo_lock = threading.Lock()


def _memoized(key: tuple, build: Callable[[], Any]) -> Any:
    """``build()``, kept under *key* and the active SparkContext: Columns
    are JVM objects of one gateway, so no other context ever sees them.
    Least recently used first out past ``_MEMO_SIZE`` entries."""
    key = (SparkContext._active_spark_context, *key)
    with _memo_lock:
        if key in _memo:
            _memo.move_to_end(key)
            return _memo[key]
    value = build()  # outside the lock: a race only compiles twice
    with _memo_lock:
        _memo[key] = value
        while len(_memo) > _MEMO_SIZE:
            _memo.popitem(last=False)
    return value


def compile_checks(
    model: type,
    schema: T.StructType,
    columns: Optional[list] = None,
    allow_missing_columns: bool = False,
    allow_superfluous_columns: bool = False,
) -> CheckPlan:
    """Compile *model* against a frame *schema* (driver only, no job),
    once per (model, schema, options): the plan is shared, never mutated."""

    def build() -> CheckPlan:
        plan = CheckPlan()
        _compile_level(
            plan,
            plan.root,
            model,
            schema,
            F.col,
            guard=None,
            columns=columns,
            allow_missing_columns=allow_missing_columns,
            allow_superfluous_columns=allow_superfluous_columns,
        )
        for scope in plan.scopes:
            _derive(plan, scope)
        return plan

    options = (tuple(columns or ()), allow_missing_columns, allow_superfluous_columns)
    return _memoized(("plan", model, schema.json(), *options), build)


def _derive(plan: CheckPlan, scope: Scope) -> None:
    """Fill *scope*'s executor inputs: its Job 1 term list, aliased, and the
    key-hash generator of its uniqueness targets."""
    checks = plan.in_scope(scope)
    scope.counted = [c for c in checks if c.terms]
    scope.aliases = [
        {n: f"_c{i}_{n}" for n in c.terms} for i, c in enumerate(scope.counted)
    ]
    scope.terms = [
        term.alias(scope.aliases[i][name])
        for i, c in enumerate(scope.counted)
        for name, term in c.terms.items()
    ]
    scope.unique = [c.unique for c in checks if c.unique]
    if scope.unique:
        scope.key_hashes = F.inline(_key_hashes(scope.unique))


# ---------------------------------------------------------------------------
# validate / find_errors
# ---------------------------------------------------------------------------


def validate(
    df: DataFrame,
    model: type,
    columns: Optional[list] = None,
    allow_missing_columns: bool = False,
    allow_superfluous_columns: bool = False,
    drop_superfluous_columns: bool = False,
) -> DataFrame:
    """Validate *df* against *model*; raise :class:`DataFrameValidationError`.

    ≈ reference ``validators.validate`` (``validators.py:442-492``) with the
    O(1)-scan execution strategy described in the module docstring.
    """
    if drop_superfluous_columns and columns:
        raise ValueError(
            "Cannot specify both 'columns' and 'drop_superfluous_columns'."
        )
    df = _transform_df(df, model)
    if drop_superfluous_columns:
        extra = set(df.columns) - set(model.columns)
        if extra:
            df = df.drop(*extra)
    errors = find_errors(
        df,
        model,
        columns=columns,
        allow_missing_columns=allow_missing_columns,
        allow_superfluous_columns=allow_superfluous_columns,
    )
    if errors:
        raise DataFrameValidationError(errors, model)
    return df


def _transform_df(df: DataFrame, model: type) -> DataFrame:
    """Alias-generator column rename pre-pass (≈ ``validators.py:57-81``)."""
    alias_gen = model.model_config.get("alias_generator")
    if alias_gen is None:
        return df
    alias_func = alias_gen if callable(alias_gen) else None
    if alias_func is None:
        # AliasGenerator-like object with .validation_alias / .alias
        alias_func = getattr(alias_gen, "validation_alias", None) or getattr(
            alias_gen, "alias", None
        )
        if alias_func is None:
            raise ValueError(
                "An alias generator must be callable or expose "
                "validation_alias/alias"
            )
    return df.toDF(*[alias_func(c) for c in df.columns])




def find_errors(
    df: DataFrame,
    model: type,
    columns: Optional[list] = None,
    allow_missing_columns: bool = False,
    allow_superfluous_columns: bool = False,
) -> list[ErrorWrapper]:
    """Run every check; return accumulated ErrorWrappers (no raise).  Per
    scope, root first: schema errors, aggregate executor, duplicates; the
    aggregate executor and the duplicate count run concurrently."""
    plan = compile_checks(
        model, df.schema, columns, allow_missing_columns, allow_superfluous_columns
    )
    frames = scope_frames(df, plan)
    errors: list[ErrorWrapper] = []
    for scope in plan.scopes:
        frame = frames[scope]
        errors.extend(scope.schema_errors())
        if scope.unique:
            aggregated, duplicates = _concurrently(
                lambda: _aggregate(frame, scope),
                lambda: _duplicate_counts(frame, scope.key_hashes),
            )
        else:
            aggregated, duplicates = _aggregate(frame, scope), {}
        for _, scope_errors in aggregated.values():
            errors.extend(scope_errors)
        for loc, count in duplicates.items():
            if count > 0:
                errors.append(count_error("unique", loc, count))
    return errors


# ---------------------------------------------------------------------------
# recursive compiler
# ---------------------------------------------------------------------------


def _compile_level(
    plan: CheckPlan,
    scope: Scope,
    model: type,
    schema: T.StructType,
    at: Callable[[str], Column],
    guard: Optional[Column],
    loc: str = "",
    columns: Optional[list] = None,
    allow_missing_columns: bool = False,
    allow_superfluous_columns: bool = False,
) -> None:
    """Compile one model level over *schema*'s fields, each read by
    ``at(name)``."""
    specs = model.__column_specs__
    fields = {f.name: f.dataType for f in schema.fields}
    schema_subset = columns or list(specs)
    column_subset = columns or list(fields)

    # V1 missing columns (validators.py:118-130)
    if not allow_missing_columns:
        for missing in sorted(set(schema_subset) - set(fields)):
            spec = specs.get(missing)
            if spec is None or not spec.allow_missing:
                scope.errors.append(
                    (MissingColumnsError, "Missing column", _join_loc(loc, missing))
                )

    # V2 superfluous columns (validators.py:132-140)
    if not (allow_superfluous_columns or model.model_config.get("extra") == "allow"):
        for extra in sorted(set(column_subset) - set(specs)):
            scope.errors.append(
                (SuperfluousColumnsError, "Superfluous column", _join_loc(loc, extra))
            )

    for name, spec in specs.items():
        if name in fields and name in column_subset:
            _compile_column(plan, scope, spec, fields[name], at, loc, guard)


def _compile_column(
    plan: CheckPlan,
    scope: Scope,
    spec: Any,
    df_type: T.DataType,
    at: Callable[[str], Column],
    loc: str,
    guard: Optional[Column],
) -> None:
    col = at(spec.name)
    col_loc = _join_loc(loc, spec.name)

    def add(kind: str, **kw: Any) -> None:
        plan.checks.append(Check(col_loc, kind, scope, **kw))

    def guarded(cond: Column) -> Column:
        return cond if guard is None else (guard & cond)

    is_struct_in_df = isinstance(df_type, T.StructType)
    is_list_struct_in_df = isinstance(df_type, T.ArrayType) and isinstance(
        df_type.elementType, T.StructType
    )

    # V5 dtype (deferred for struct-ish df columns, validators.py:210-223)
    dtype_ok = True
    if not (is_struct_in_df or is_list_struct_in_df):
        from ..dtypes import dtype_in_valid_set

        if not dtype_in_valid_set(df_type, spec.valid_dtypes):
            dtype_ok = False
            scope.errors.append(_dtype_error(df_type, col_loc))

    # --- V3 null count for non-nullable columns (validators.py:143-154) ----
    if not spec.nullable:
        add("null", **_counted("null", col_loc, {"null": guarded(col.isNull())}))

    # --- V4 nulls inside lists (validators.py:156-197) -----------------------
    if (
        isinstance(spec.dtype, T.ArrayType)
        and not spec.item_nullable
        and isinstance(df_type, T.ArrayType)
    ):
        present = guarded(col.isNotNull())
        n_null = F.size(F.filter(col, lambda x: x.isNull()))
        has_null = F.coalesce(F.exists(col, lambda x: x.isNull()), F.lit(False))
        add(
            "list_null",
            terms={"n": F.sum(F.when(present, n_null).otherwise(0))},
            flags={f"{col_loc}__list_null": present & has_null},
            render=lambda res: count_error("list_null", col_loc, res["n"]),
        )

    # --- V6 enum / allowed values (validators.py:405-439) --------------------
    if spec.allowed_values:
        # Job 1 carries a NATIVE violation count (constant aggregation state
        # per buffer; a collect_set term would hold the full distinct set in
        # every partial buffer — a misdeclared high-cardinality "enum"
        # column, e.g. url, becomes an executor OOM).  Offending values come
        # from the bounded Job 1a sample instead.
        allowed = list(spec.allowed_values)
        terms: dict = {}
        if isinstance(df_type, T.ArrayType):
            bad = F.filter(col, lambda x: ~x.isin(*allowed))
            terms["n"] = F.sum(F.greatest(F.size(bad), F.lit(0)))
            flag = F.size(bad) > 0
            sample = (bad, True)
            if not spec.nullable:
                terms["null_in"] = F.max(
                    F.coalesce(F.exists(col, lambda x: x.isNull()), F.lit(False))
                )
        else:
            flag = F.coalesce(~col.isin(*allowed), F.lit(False))
            terms["n"] = F.sum(flag.cast("long"))
            sample = (F.when(flag, col), False)
        if not spec.nullable:
            terms["nulls"] = F.sum(col.isNull().cast("long"))
        add(
            "enum",
            terms=terms,
            flags={f"{col_loc}__enum": flag},
            sample=sample,
            render=_enum_render(col_loc, spec.nullable),
        )

    # --- V7 uniqueness target (validators.py:235-244) ------------------------
    if spec.unique:
        key = F.lit(col_loc) if guard is None else F.when(guard, F.lit(col_loc))
        add("unique", unique=(col_loc, key, col.cast("string")))

    # --- struct recursion: fields off the parent column (validators.py:246-284)
    if isinstance(spec.dtype, T.StructType) and spec.model is not None:
        if not is_struct_in_df:
            if dtype_ok:
                scope.errors.append(_dtype_error(df_type, col_loc))
            return
        _compile_level(
            plan, scope, spec.model, df_type, col.getField,
            guarded(col.isNotNull()), col_loc,
        )
        return  # no bounds/constraints on the struct itself (reference :283)

    if is_list_struct_in_df or (
        isinstance(spec.dtype, T.ArrayType)
        and isinstance(spec.dtype.elementType, T.StructType)
    ):
        # a new scope over the exploded element (validators.py:286-329)
        if is_list_struct_in_df and spec.model is not None:
            child = Scope(col_loc, col, spec.model, df_type.elementType, scope)
            plan.scopes.append(child)
            _compile_element(plan, child, F.col("_item"), None)
        return

    if not dtype_ok:
        return  # type-sensitive checks below would fail analysis

    # --- V10 value rules (validators.py:331-376): one flag and one term per
    # row of the rule table; counts SUM across rules (a row failing two
    # rules counts twice — reference validators.py:358-366); a null value
    # never fails.  On a list a rule with a list form checks the list, and
    # every other rule flags a row with any failing item.
    preds: dict = {}
    for rule in _RULES:
        v = getattr(spec, rule.slot)
        if v is None:
            continue
        if not isinstance(df_type, T.ArrayType):
            failed = _fails(rule.column(col, v))
        elif rule.list_column is not None:
            failed = _fails(rule.list_column(col, v))
        else:
            failed = F.coalesce(F.exists(col, _item_fails(rule, v)), F.lit(False))
        preds[f"bound{len(preds)}"] = failed
    if preds:
        add("bound", **_counted("bound", col_loc, preds))

    # --- V11 custom constraints (validators.py:378-402) ----------------------
    if spec.constraints:

        def resolve(ref: str) -> Column:  # `_` is the field, else a sibling
            return col if ref == "_" else at(ref)

        row = [c for c in spec.constraints if not c.is_aggregate()]
        agg_full = [c for c in spec.constraints if c.is_aggregate()]
        pure_agg = [c for c in agg_full if not c.reads_rows()]
        mixed = [c for c in agg_full if c.reads_rows()]

        terms = {"total": F.count(F.lit(1))}
        for i, c in enumerate(pure_agg):
            terms[f"agg{i}"] = c.to_column(resolve).cast("boolean")
        flags: dict = {}
        if row:
            # fail if ANY constraint is false (any_horizontal of negations,
            # validators.py:382-384); null predicates don't count as failures
            failed = F.coalesce(_any_false(row, resolve), F.lit(False))
            flags[f"{col_loc}__constraint"] = failed
            if not mixed:
                terms["n"] = F.sum(failed.cast("long"))
        violated = None
        if mixed:
            # e.g. `field - field.mean() < 2`: the aggregate subtrees are
            # Job 1 terms named by their placeholders; Job 1b resolves the
            # placeholders to their values and counts rows failing any row
            # or mixed constraint — polars' agg-over-filter broadcast
            # (tests/test_validators.py:886-894) without a single-partition
            # global window
            placeholders: dict = {}
            rows = row + [c.extract_aggregates(placeholders) for c in mixed]
            for ph, sub in placeholders.items():
                terms[ph] = sub.to_column(resolve)

            def violated(scalar: Callable[[str], Column]) -> Column:
                def bind(ref: str) -> Column:
                    return scalar(ref) if ref in placeholders else resolve(ref)

                return _any_false(rows, bind)

        add(
            "constraint",
            terms=terms,
            flags=flags,
            mixed=violated,
            render=_constraint_render(col_loc, len(pure_agg)),
        )


def _fails(check: Column) -> Column:
    """A rule's violation flag: a NULL check (null input) never fails."""
    return ~F.coalesce(check, F.lit(True))


def _item_fails(rule: _Rule, v: Any) -> Callable[[Column], Column]:
    """Lambda body of ``exists(list, item -> failed)`` for an item rule (a
    factory: Spark HOF lambdas take no default-arg captures)."""
    return lambda item: _fails(rule.column(item, v))


def _compile_element(
    plan: CheckPlan, scope: Scope, item: Column, guard: Optional[Column]
) -> None:
    """Compile a list-of-struct scope's sub-model against one *item*: the
    exploded ``_item`` column, or a higher-order-function lambda element."""
    _compile_level(
        plan, scope, scope.model, scope.element, item.getField, guard, scope.loc
    )


def _counted(kind: str, loc: str, preds: dict) -> dict:
    """A check counting violating rows: per predicate one flag
    ``<loc>__<name>`` and one ``sum`` term."""

    def render(res: dict) -> Optional[ErrorWrapper]:
        return count_error(kind, loc, sum(res[name] or 0 for name in preds))

    return {
        "terms": {name: F.sum(p.cast("long")) for name, p in preds.items()},
        "flags": {f"{loc}__{name}": p for name, p in preds.items()},
        "render": render,
    }


def _enum_render(loc: str, nullable: bool) -> Callable:
    def render(res: dict) -> Optional[ErrorWrapper]:
        values = set(res.get("values") or [])
        # the reference derives "actual" from unique(), which includes
        # nulls; None is impermissible unless the column is Optional
        # (validators.py:426-433)
        if not nullable and (res.get("null_in") or (res.get("nulls") or 0) > 0):
            values.add(None)
        if not values:
            return None
        msg = f"Rows with invalid values: {values}."
        return _wrap(RowValueError, msg, loc, len(values))

    return render


def _constraint_render(loc: str, n_agg: int) -> Callable:
    def render(res: dict) -> Optional[ErrorWrapper]:
        if any(res[f"agg{i}"] is False for i in range(n_agg)):
            # a failed aggregate constraint marks every row illegal
            # (polars broadcasts the agg over the filter,
            # reference test test_validators.py:886-894)
            return count_error("constraint", loc, res["total"])
        return count_error("constraint", loc, res.get("mixed", res.get("n")))

    return render


def _dtype_error(df_type: T.DataType, loc: str) -> tuple:
    message = f"Spark dtype {df_type.simpleString()} does not match model field type."
    return ColumnDTypeError, message, loc


def _any_false(exprs: list, resolve: Callable[[str], Column]) -> Column:
    return reduce(lambda a, b: a | b, [~e.to_column(resolve) for e in exprs])


def _join_loc(prefix: str, name: str) -> str:
    # the reference prefixes nested locs as a dotted *string* inside a
    # 1-tuple (validators.py:279-281), e.g. ("outer.inner",)
    return f"{prefix}.{name}" if prefix else name


# ---------------------------------------------------------------------------
# aggregate executor
# ---------------------------------------------------------------------------


def scope_frames(df: DataFrame, plan: CheckPlan, key: Optional[str] = None) -> dict:
    """The frame each scope's records run over: *df* for the root, the
    non-null exploded ``_item`` of the parent's frame (with *key*) below."""
    frames = {plan.root: df}
    carried = [key] if key else []
    for scope in plan.scopes[1:]:
        frames[scope] = (
            frames[scope.parent]
            .select(*carried, F.explode(scope.column).alias("_item"))
            .filter(F.col("_item").isNotNull())
        )
    return frames


def _aggregate(
    frame: DataFrame,
    scope: Scope,
    key: Optional[str] = None,
    extra: Optional[dict] = None,
) -> dict:
    """Run *scope*'s records over *frame*: ``{key value: (Job 1 row,
    errors)}`` (one entry, key None, unkeyed).  *extra* aggregate terms
    ride Job 1 and come back in its row."""
    checks, aliases = scope.counted, scope.aliases
    terms = scope.terms + [term.alias(name) for name, term in (extra or {}).items()]
    if not terms:
        return {}

    def by_key(f: DataFrame):
        return f.groupBy(key) if key else f

    # Job 1: single-pass aggregation over all terms
    job1 = by_key(frame).agg(*terms)
    rows = {(r[key] if key else None): r.asDict() for r in job1.collect()}
    results = {
        k: [{name: row[a] for name, a in names.items()} for names in aliases]
        for k, row in rows.items()
    }

    # Job 1a: bounded offending-value sample per violating enum column
    for i, c in enumerate(checks):
        if c.sample and any((res[i]["n"] or 0) > 0 for res in results.values()):
            values = _enum_sample_values(frame, *c.sample, key=key)
            for k, res in results.items():
                res[i]["values"] = values.get(k, [])

    # Job 1b: mixed aggregate/row constraints, pass 2
    mixed = [i for i, c in enumerate(checks) if c.mixed]
    if mixed and rows:
        if key is None:  # splice the scalars in as literals
            (row,) = rows.values()
            scanned, value = frame, lambda alias: F.lit(row[alias])
        else:  # join each key's scalars on as columns
            names = [
                alias
                for i in mixed
                for ph, alias in aliases[i].items()
                if ph.startswith("__aggph")
            ]
            scanned = _join_scalars(frame, rows, job1.schema, key, names)
            value = F.col
        # (each placeholder resolver runs inside its own mixed() call)
        preds = [checks[i].mixed(lambda ph: value(aliases[i][ph])) for i in mixed]
        counts = by_key(scanned).agg(
            *[F.sum(p.cast("long")).alias(f"_mix{i}") for i, p in zip(mixed, preds)]
        )
        for r in counts.collect():
            for i in mixed:
                results[r[key] if key else None][i]["mixed"] = r[f"_mix{i}"]

    return {
        k: (row, [e for c, res in zip(checks, results[k]) if (e := c.render(res))])
        for k, row in rows.items()
    }


def _join_scalars(
    frame: DataFrame, rows: dict, schema: T.StructType, key: str, names: list
) -> DataFrame:
    """*frame* with each key's Job 1 values of *names* joined on as columns:
    the collected rows go back as a broadcast local relation, so pass 2
    re-runs no aggregate."""
    from ..sources.io import driver_frame

    scalars = driver_frame(
        frame.sparkSession,
        [{"_mk": k, **{n: row[n] for n in names}} for k, row in rows.items()],
        T.StructType(
            [T.StructField("_mk", schema[key].dataType)] + [schema[n] for n in names]
        ),
    )
    # eqNullSafe: the NULL key's rows must find their scalars
    cond = frame[key].eqNullSafe(scalars["_mk"])
    return frame.join(F.broadcast(scalars), cond).drop("_mk")


def _enum_sample_values(
    frame: DataFrame,
    value_expr: Column,
    is_array: bool,
    key: Optional[str] = None,
    cap: int = _ENUM_SAMPLE_CAP,
) -> dict:
    """Distinct offending enum values per key value, bounded end to end: the
    distinct is a spillable hash aggregate (unlike a collect_set buffer), and
    ``limit`` (unkeyed) or a per-key ``row_number`` (keyed) caps what
    reaches the driver."""
    carried = [key] if key else []
    vals = frame.select(*carried, value_expr.alias("_v"))
    if is_array:
        vals = vals.select(*carried, F.explode("_v").alias("_v"))
    vals = vals.filter(F.col("_v").isNotNull()).distinct()
    if key is None:
        return {None: [r["_v"] for r in vals.limit(cap).collect()]}
    from pyspark.sql.window import Window

    rank = F.row_number().over(Window.partitionBy(key).orderBy("_v"))
    out: dict = {}
    for r in vals.withColumn("_rn", rank).filter(F.col("_rn") <= cap).collect():
        out.setdefault(r[key], []).append(r["_v"])
    return out


# ---------------------------------------------------------------------------
# row executor
# ---------------------------------------------------------------------------


def row_flags(model: type, schema: T.StructType) -> dict:
    """Row-flag name → per-row violation predicate of every record with a
    row form (for the columns of *model* present in *schema*), built once
    per (model, schema) from the plan ``find_errors`` compiles: the column
    options only add or drop schema-level errors, which have no row form."""

    def build() -> dict:
        plan = compile_checks(model, schema)
        return _scope_flags(plan, plan.root)

    return dict(_memoized(("row_flags", model, schema.json()), build))


def _scope_flags(plan: CheckPlan, scope: Scope) -> dict:
    """*scope*'s own flags, then its child scopes' flags (any depth) as
    ``exists`` over the child's column."""
    flags = {n: p for c in plan.in_scope(scope) for n, p in c.flags.items()}
    for child in plan.scopes:
        if child.parent is scope:
            for c in plan.checks:
                if _within(c.scope, child):
                    for name in c.flags:
                        flags[name] = F.exists(child.column, _element_flag(child, name))
    return flags


def _within(scope: Optional[Scope], ancestor: Scope) -> bool:
    while scope is not None and scope is not ancestor:
        scope = scope.parent
    return scope is ancestor


def _element_flag(scope: Scope, name: str) -> Callable[[Column], Column]:
    """Lambda body of ``exists(scope.column, item -> flag)``: the scope's
    sub-model compiled again against the element (a factory: Spark HOF
    lambdas take no default-arg captures)."""

    def flag(item: Column) -> Column:
        element = replace(scope, errors=[])
        plan = CheckPlan(scopes=[element])
        _compile_element(plan, element, item, item.isNotNull())
        return _scope_flags(plan, element)[name]

    return flag


# ---------------------------------------------------------------------------
# uniqueness: one scan, hashed aggregation for ALL unique columns
# ---------------------------------------------------------------------------


def _key_hashes(targets: list[tuple[str, Column, Column]]) -> Column:
    """One ``struct(k, h1, h2)`` per unique target, as an array: its loc
    *key* and two independently-seeded 64-bit hashes of its *value* — the
    one key hash every uniqueness path groups on.  A NULL value hashes to
    a constant pair, so nulls form one group."""
    return F.array(
        *[
            F.struct(
                key.alias("k"),
                F.xxhash64(value, F.lit(41)).alias("h1"),
                F.xxhash64(value, F.lit(97)).alias("h2"),
            )
            for _, key, value in targets
        ]
    )


def _duplicate_counts(df: DataFrame, key_hashes: Column) -> dict[str, int]:
    """Duplicate-member count per unique column: one scan, two shuffles.

    The first shuffle groups the ``(k, h1, h2)`` pairs; the second
    re-groups the few duplicated pairs per column ``k``.  AQE runs each
    shuffle stage as its own job, so a call launches three jobs.

    *key_hashes* (a scope's compiled generator) emits one ``(k, h1, h2)``
    row per unique column, where h1/h2 are two independently-seeded 64-bit
    hashes of the value — the shuffle carries 16 bytes per pair instead of
    raw values (urls can be hundreds of bytes), and a double collision is
    ~2^-128, i.e. never.
    Spark's partial aggregation IS the salted pre-combine: hot keys (hot
    URL domains) collapse map-side, so no reducer ever receives more than
    #map-partitions rows per key — an explicit extra salt stage would just
    run the same hash aggregation twice (measured 2× slower at 3M rows).
    Duplicate groups contribute their full member count, matching the
    reference's ``is_duplicated().sum()`` semantics (``validators.py:
    235-244``: a duplicated pair counts 2; nulls form a group).
    """
    counts = (
        df.select(key_hashes)
        .filter(F.col("k").isNotNull())
        .groupBy("k", "h1", "h2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .groupBy("k")
        .agg(F.sum("cnt").alias("dups"))
        .collect()
    )
    return {row["k"]: row["dups"] for row in counts}


def _concurrently(first, second) -> tuple:
    """``(first(), second())``, the two run at once: *second* on a
    ``pyspark.InheritableThread``, so its Spark jobs keep the caller's job
    group and local properties (a plain thread drops them).  Both finish
    before this returns; the first exception, in argument order, is
    re-raised."""
    out: dict = {}

    def side() -> None:
        try:
            out["value"] = second()
        except BaseException as exc:  # re-raised on the calling thread
            out["error"] = exc

    thread = InheritableThread(side)
    thread.start()
    try:
        result = first()
    finally:
        thread.join()
    if "error" in out:
        raise out["error"]
    return result, out["value"]
