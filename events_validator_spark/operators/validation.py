"""Rule compiler: reference rule specs → vectorized Column expression trees.

The reference validates one JSON event at a time with a tree-walking interpreter
(/root/reference/validator_src/helpers/validationHelpers.js:130-164). Here the rule
spec is compiled ONCE on the driver into a single ``pyspark.sql.Column`` producing
``array<struct<field,error_type,expected,actual>>`` per row; Catalyst folds the
constants and the whole validation pass runs as one whole-stage-codegen projection
over the table — no per-row Python anywhere.

Two field-access models share the same compiler:

* :class:`TypedAccessor` — events live in ordinary typed (nested) columns, e.g. the
  interleaved-docs table ``(doc_id, spans: array<struct<...>>)``. JS ``typeof`` is
  known statically from the Spark schema; a NULL field is treated as *absent*
  (typed rows cannot distinguish missing-vs-null — documented divergence).
* :class:`VariantAccessor` — events live in a JSON string column parsed with
  ``parse_json`` into a VARIANT. Full JS fidelity: missing key (SQL NULL variant)
  vs JSON null (``schema_of_variant == 'VOID'`` → ``typeof`` 'object') vs value
  types, exactly matching ``typeof null === 'object'`` (validationHelpers.js:7).

Cost discipline: every per-key expression is built inside ``let_`` bindings
(functions/exprs.py) so the field's VARIANT value — and its
``schema_of_variant`` — are evaluated once per row per key, and the parsed
root VARIANT once per row, no matter how many checks reference them.

Semantics pinned against :mod:`events_validator_spark.js_oracle` by
tests/test_validation*.py (SURVEY.md §2.2 quirk list V1–V12).
"""

from __future__ import annotations

import json

from dataclasses import dataclass
from typing import Callable, Optional, Union

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from events_validator_spark.functions.exprs import let_
from events_validator_spark.functions.js_compat import (
    js_number_to_string,
    js_regex_to_java,
    js_to_string,
    py_js_to_string,
    static_js_actual,
    static_js_typeof,
    validate_java_regex,
)
from events_validator_spark.operators import validation_sql
from events_validator_spark.operators.validation_sql import (
    TextualFallback, json_path_sql, needs_js_string, rule_cache_key,
    shared_to_string_sql, shared_type_label_sql, variant_key_path,
)

VIOLATION_STRUCT_DDL = "struct<field:string,error_type:string,expected:string,actual:string>"
VIOLATION_ARRAY_DDL = f"array<{VIOLATION_STRUCT_DDL}>"

_TYPED_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                  T.FloatType, T.DoubleType, T.DecimalType)


def _null_str() -> Column:
    return F.lit(None).cast("string")


def _empty() -> Column:
    return F.array().cast(VIOLATION_ARRAY_DDL)


def _one(field: Column, error_type: str, expected: Union[Column, str, None],
         actual: Union[Column, str, None]) -> Column:
    """A 1-element violation array."""
    def c(x):
        if x is None:
            return _null_str()
        return F.lit(x) if isinstance(x, str) else x
    return F.array(F.struct(
        field.alias("field"),
        F.lit(error_type).alias("error_type"),
        c(expected).cast("string").alias("expected"),
        c(actual).cast("string").alias("actual"),
    ))


def _gate(cond: Column, arr: Column) -> Column:
    return F.when(cond, arr).otherwise(_empty())


def _concat(parts: list[Column]) -> Column:
    parts = [p for p in parts if p is not None]
    if not parts:
        return _empty()
    if len(parts) == 1:
        return parts[0]
    return F.concat(*parts)


def _is_optional(rule: dict) -> bool:
    # optional:true OR required:false (validationHelpers.js:12,140)
    return rule.get("optional") is True or rule.get("required") is False


# ---------------------------------------------------------------------------
# Field value abstraction
# ---------------------------------------------------------------------------

@dataclass
class FieldView:
    """Everything a check needs to know about one event field, as Columns.

    Components are LAZY (see the typed/variant subclasses): a check that
    never touches ``as_string`` (the big JS-toString when-chain with its
    recursive array branch) keeps that whole tree out of the plan — smaller
    analyzed plans and far less generated code to janino-compile.

    ``str_value`` is the cheap raw-string accessor (NULL for non-strings):
    all *emptiness* checks use it instead of the full toString coercion.
    """
    present: Column          # JS hasOwnProperty
    typeof: Column           # plain JS typeof (arrays → 'object', null → 'object')
    actual: Column           # array-aware: Array.isArray ? 'array' : typeof
    is_null: Column          # value is JSON/typed null (only meaningful if present)
    as_string: Column        # JS v?.toString() (NULL for null)
    js_length: Column        # v.length — NULL when undefined (numbers, objects)
    str_value: Column        # raw string value; NULL when not a string
    is_falsy: Column         # JS falsy non-null: false, 0, NaN ('' via str path)
    num_value: Column        # double value; NULL when not a number


def _trimmed_empty(fv: "FieldView") -> Column:
    """value is a string AND trims to '' — via the cheap raw-string accessor."""
    return (fv.typeof == "string") & \
        (F.trim(F.coalesce(fv.str_value, F.lit(""))) == "")


class _LazyView(FieldView):
    """FieldView whose components build on first use and are cached."""

    _FIELDS = ("present", "typeof", "actual", "is_null", "as_string",
               "js_length", "str_value", "is_falsy", "num_value")

    def __init__(self):  # noqa: D401 - bypass dataclass init
        object.__setattr__(self, "_cache", {})

    def __getattribute__(self, name):
        if name in _LazyView._FIELDS:
            cache = object.__getattribute__(self, "_cache")
            if name not in cache:
                cache[name] = object.__getattribute__(self, "_mk_" + name)()
            return cache[name]
        return object.__getattribute__(self, name)


def _absent_view() -> FieldView:
    return FieldView(
        F.lit(False), F.lit("undefined"), F.lit("undefined"), F.lit(False),
        _null_str(), F.lit(None).cast("int"), _null_str(), F.lit(False),
        F.lit(None).cast("double"))


class BoundField:
    """One event field, value already bound — checks read ``view``; the type
    check's nested recursion goes through ``array_elements``/``nested``."""

    def __init__(self, view: FieldView):
        self.view = view

    def array_elements(self) -> tuple[Optional[Column],
                                      Optional[Callable[[Column], "Accessor"]]]:
        """(array column, element→Accessor factory); (None, None) if statically
        not an array. The factory applies the JS scalar wrap (js:41-42)."""
        return None, None

    def nested(self) -> "Accessor":
        return _ABSENT_ACCESSOR


class Accessor:
    """Resolves rule keys to bound fields; one per event-data access model."""

    def with_field(self, key: str,
                   fn: Callable[[BoundField], Column]) -> Column:
        raise NotImplementedError  # pragma: no cover - interface


# ---------------------------------------------------------------------------
# Typed (static-schema) accessor
# ---------------------------------------------------------------------------

class _TypedView(_LazyView):
    def __init__(self, col: Column, dtype: T.DataType):
        super().__init__()
        self._col, self._dtype = col, dtype

    def _mk_present(self):
        return self._col.isNotNull()

    def _mk_typeof(self):
        return F.lit(static_js_typeof(self._dtype))

    def _mk_actual(self):
        return F.lit(static_js_actual(self._dtype))

    def _mk_is_null(self):
        return F.lit(False)

    def _mk_as_string(self):
        return js_to_string(self._col, self._dtype)

    def _mk_str_value(self):
        if isinstance(self._dtype, T.StringType):
            return self._col
        return _null_str()

    def _mk_js_length(self):
        if isinstance(self._dtype, T.StringType):
            return F.length(self._col)
        if isinstance(self._dtype, T.ArrayType):
            return F.size(self._col)
        return F.lit(None).cast("int")

    def _mk_is_falsy(self):
        if isinstance(self._dtype, T.BooleanType):
            return F.coalesce(~self._col, F.lit(False))
        if isinstance(self._dtype, (T.FloatType, T.DoubleType)):
            return F.coalesce((self._col == 0) | F.isnan(self._col),
                              F.lit(False))
        if isinstance(self._dtype, _TYPED_NUMERIC):
            return F.coalesce(self._col == 0, F.lit(False))
        return F.lit(False)

    def _mk_num_value(self):
        if isinstance(self._dtype, _TYPED_NUMERIC):
            return self._col.cast("double")
        return F.lit(None).cast("double")


def _typed_view(col: Column, dtype: T.DataType) -> FieldView:
    return _TypedView(col, dtype)


class _TypedBound(BoundField):
    def __init__(self, col: Column, dtype: T.DataType):
        super().__init__(_TypedView(col, dtype))
        self._col, self._dtype = col, dtype

    def array_elements(self):
        if not isinstance(self._dtype, T.ArrayType):
            return None, None
        elem_t = self._dtype.elementType
        if isinstance(elem_t, T.StructType):
            return self._col, lambda elem: TypedAccessor(elem, elem_t)
        if isinstance(elem_t, T.ArrayType):
            # JS recurses DIRECTLY into array elements (typeof [] === 'object',
            # js:41-45); string-key indexing into an array is undefined, so
            # every nested key — including '' — reports missing
            return self._col, lambda elem: _ABSENT_ACCESSOR
        if isinstance(elem_t, T.MapType):
            return self._col, lambda elem: _TypedMapAccessor(elem, elem_t)
        # scalar (or null) elements are wrapped {'': item} (js:41-42):
        # only key '' resolves
        return self._col, lambda elem: _TypedScalarWrap(elem, elem_t)

    def nested(self) -> "Accessor":
        if isinstance(self._dtype, T.StructType):
            return TypedAccessor(self._col, self._dtype)
        if isinstance(self._dtype, T.MapType):
            return _TypedMapAccessor(self._col, self._dtype)
        return _ABSENT_ACCESSOR


class TypedAccessor(Accessor):
    """Fields are ordinary typed columns; NULL ⇒ absent (documented mapping).

    No let_ binding needed: field access is an attribute read, not a compute.
    """

    def __init__(self, col: Optional[Column], dtype: T.DataType,
                 root_df: DataFrame | None = None):
        self._col = col            # None ⇒ root: fields are top-level df columns
        self._dtype = dtype
        self._df = root_df

    def _get(self, key: str) -> tuple[Optional[Column], Optional[T.DataType]]:
        if not isinstance(self._dtype, T.StructType) or key not in self._dtype.fieldNames():
            return None, None
        ft = self._dtype[key].dataType
        if self._col is None:
            return self._df[key], ft
        return self._col[key], ft

    def with_field(self, key, fn):
        col, dtype = self._get(key)
        if col is None:  # statically absent from the Spark schema
            return fn(BoundField(_absent_view()))
        return fn(_TypedBound(col, dtype))


class _AbsentAccessor(Accessor):
    """Every key is statically absent (recursion into a non-struct)."""

    def with_field(self, key, fn):
        return fn(BoundField(_absent_view()))


_ABSENT_ACCESSOR = _AbsentAccessor()


class _TypedMapAccessor(Accessor):
    """A typed map treated as a JS object: key lookup via ``element_at``;
    a missing map key yields NULL, which the typed model maps to absent —
    the same missing-vs-null divergence documented for struct fields."""

    def __init__(self, col: Column, dtype: T.MapType):
        self._col = col
        self._vt = dtype.valueType

    def with_field(self, key, fn):
        return fn(_TypedBound(F.element_at(self._col, F.lit(key)), self._vt))


class _TypedScalarWrap(Accessor):
    """The JS ``{'': item}`` wrapper: only the key ``''`` resolves to the element."""

    def __init__(self, elem: Column, elem_t: T.DataType):
        self._elem = elem
        self._elem_t = elem_t

    def with_field(self, key, fn):
        if key == "":
            return fn(_TypedBound(self._elem, self._elem_t))
        return fn(BoundField(_absent_view()))


# ---------------------------------------------------------------------------
# Variant (JSON) accessor — full JS fidelity
# ---------------------------------------------------------------------------

_NUMBER_TYPES_RE = r"^(BIGINT|INT|SMALLINT|TINYINT|DOUBLE|FLOAT|DECIMAL)"


def _variant_typeof(v: Column, sv: Column, array_aware: bool) -> Column:
    arr_label = "array" if array_aware else "object"
    return (
        F.when(v.isNull(), "undefined")
        .when(sv == "VOID", "object")          # typeof null === 'object'
        .when(sv == "STRING", "string")
        .when(sv == "BOOLEAN", "boolean")
        .when(sv.rlike(_NUMBER_TYPES_RE), "number")
        .when(sv.startswith("ARRAY"), arr_label)
        .otherwise("object")
    )


def _variant_to_string(v: Column, sv: Column | None = None,
                       depth: int = 3) -> Column:
    """JS ``v?.toString()`` over a VARIANT value."""
    if sv is None:
        sv = F.schema_of_variant(v)
    num = F.try_variant_get(v, "$", "double")
    num_s = js_number_to_string(num)  # exact Number::toString, full range
    if depth <= 0:
        arr_s = F.lit("")
    else:
        arr_s = F.array_join(
            F.transform(
                F.try_variant_get(v, "$", "array<variant>"),
                lambda e: F.coalesce(_variant_to_string(e, None, depth - 1),
                                     F.lit(""))),
            ",")
    return (
        F.when(v.isNull() | (sv == "VOID"), _null_str())
        .when(sv == "STRING", F.try_variant_get(v, "$", "string"))
        .when(sv == "BOOLEAN", F.try_variant_get(v, "$", "string"))
        .when(sv.rlike(_NUMBER_TYPES_RE), num_s)
        .when(sv.startswith("ARRAY"), arr_s)
        .otherwise(F.lit("[object Object]"))
    )


class _VariantView(_LazyView):
    def __init__(self, v: Column, sv: Column):
        super().__init__()
        self._v, self._sv = v, sv

    def _mk_present(self):
        return self._v.isNotNull()   # JSON null → VOID variant (still present)

    def _mk_typeof(self):
        return _variant_typeof(self._v, self._sv, array_aware=False)

    def _mk_actual(self):
        return _variant_typeof(self._v, self._sv, array_aware=True)

    def _mk_is_null(self):
        return self._sv == "VOID"

    def _mk_as_string(self):
        return _variant_to_string(self._v, self._sv)

    def _mk_str_value(self):
        return F.when(self._sv == "STRING",
                      F.try_variant_get(self._v, "$", "string"))

    def _mk_js_length(self):
        return (
            F.when(self._sv == "STRING",
                   F.length(F.try_variant_get(self._v, "$", "string")))
            .when(self._sv.startswith("ARRAY"),
                  F.size(F.try_variant_get(self._v, "$", "array<variant>")))
            .otherwise(F.lit(None).cast("int"))
        )

    def _mk_is_falsy(self):
        return F.coalesce(
            F.when(self._sv == "BOOLEAN",
                   ~F.try_variant_get(self._v, "$", "boolean"))
            .when(self._sv.rlike(_NUMBER_TYPES_RE),
                  F.try_variant_get(self._v, "$", "double") == 0)
            .otherwise(F.lit(False)),
            F.lit(False))

    def _mk_num_value(self):
        return F.when(self._sv.rlike(_NUMBER_TYPES_RE),
                      F.try_variant_get(self._v, "$", "double"))


def _variant_view(v: Column, sv: Column) -> FieldView:
    return _VariantView(v, sv)


class _VariantBound(BoundField):
    def __init__(self, v: Column, sv: Column):
        super().__init__(_VariantView(v, sv))
        self._v = v

    def array_elements(self):
        return (F.try_variant_get(self._v, "$", "array<variant>"),
                _VariantElement)

    def nested(self) -> "Accessor":
        return VariantAccessor(self._v)


def _bind_variant(v: Column, fn: Callable[[BoundField], Column]) -> Column:
    """Hand the field's variant + schema to the per-key expression builder.

    Deliberately NOT a let_ binding: wrapping in higher-order functions would
    force the whole projection off whole-stage codegen into interpreted eval
    (~2× slower here, measured); in codegen, runtime subexpression elimination
    already evaluates the repeated ``variant_get``/``schema_of_variant`` trees
    once per row. (let_ remains the right tool where the problem is PLAN-size
    blowup, e.g. MinHash signatures — see operators/dedup.py.)
    """
    return fn(_VariantBound(v, F.schema_of_variant(v)))


class VariantAccessor(Accessor):
    """Fields live under a VARIANT root (``parse_json`` of the event payload)."""

    def __init__(self, root: Column):
        self._root = root

    def _get(self, key: str) -> Column:
        return F.try_variant_get(self._root, variant_key_path(key), "variant")

    def with_field(self, key, fn):
        return _bind_variant(self._get(key), fn)


class _PreboundBound(_VariantBound):
    """A variant-bound field whose JS toString was staged in stage 1:
    ``as_string`` reads the field's slot of the shared toString column
    instead of re-embedding the (large) exact Number::toString tree."""

    def __init__(self, v: Column, sv: Column, s: Column):
        super().__init__(v, sv)
        cache = object.__getattribute__(self.view, "_cache")
        cache["as_string"] = s


class PreboundVariantAccessor(Accessor):
    """Variant accessor over PRE-PROJECTED per-field structs.

    The staged path of :func:`validate_json` / :func:`validate_multi`
    materializes, ONCE per distinct top-level field across the whole
    corpus, a struct of the field's variant value and its
    ``schema_of_variant`` (``structs``: key → column name, ``__f_i``). Two
    shared array columns follow, each built by ONE expression instance
    however many fields it covers: ``__f_type`` holds every field's JS type
    label (slot ``i`` for ``__f_i``), and ``__f_str`` the JS toString of
    every field a value/regex/enum check reads (``slots``: key → index).
    Per-type checks reference these small columns instead of inlining the
    ``try_parse_json``/``try_variant_get``/typeof/Number::toString trees per
    event type: plan size (and with it analysis, optimization, janino
    compile and task deserialization) stops scaling with #types × #fields
    and with the number of string-checked fields. CollapseProject cannot
    merge the stages back: the producer expressions are non-cheap and
    multiply referenced.
    """

    def __init__(self, structs: dict[str, str], slots: dict[str, int],
                 types: str, shared: str):
        self.structs = structs
        self.slots = slots
        self.types = types
        self.shared = shared
        # __f_type lists the structs in sorted-key order
        self._type_slot = {k: i for i, k in enumerate(sorted(structs))}
        self._bound: dict[str, BoundField] = {}

    def view_sql(self, key: str) -> tuple[str, str, str | None]:
        """SQL reading ``key``'s staged (variant, type label, toString);
        the toString is None when no check needs it."""
        j = self.slots.get(key)
        return (f"`{self.structs[key]}`.v",
                f"`{self.types}`[{self._type_slot[key]}]",
                None if j is None else f"`{self.shared}`[{j}]")

    def signature(self) -> tuple:
        """Everything a memoized check built over this accessor reads by
        name: the struct names and the shared columns' slot layouts."""
        return (tuple(sorted(self.structs.items())), self.types, self.shared,
                tuple(sorted(self.slots.items())))

    def with_field(self, key, fn):
        # memoized per key: all event types share ONE BoundField, so lazy
        # FieldView columns are built once per field, not per (type, field) —
        # py4j tree-build cost is part of the fresh-plan bottleneck
        bf = self._bound.get(key)
        if bf is None:
            name = self.structs.get(key)
            j = self.slots.get(key)
            if name is None:
                bf = BoundField(_absent_view())
            elif j is None:
                bf = _VariantBound(F.col(name)["v"], F.col(name)["sv"])
            else:
                bf = _PreboundBound(F.col(name)["v"], F.col(name)["sv"],
                                    F.col(self.shared)[j])
            self._bound[key] = bf
        return fn(bf)


def prebind_fields(df: DataFrame, json_col: str, keys: list[str],
                   string_keys: set[str] | None = None,
                   prefix: str = "__f") -> tuple[
                       DataFrame, PreboundVariantAccessor, Column]:
    """Stage-1 projections: per top-level rule key (sorted), a struct
    ``__f_i`` of the field's variant and its schema string; then one shared
    column ``__f_type`` with every field's JS type label (slot ``i``) and,
    for ``string_keys``, one shared column ``__f_str`` with every such
    field's JS toString (slot ``j`` = the j-th string key in sorted order),
    each computed by ONE expression instance in the plan. Returns (staged
    df, accessor, bad-row predicate for malformed JSON)."""
    # stage the PARSE itself as its own column (round 6): the per-key
    # structs below reference the parsed variant 2-3 times EACH (value,
    # schema_of_variant) plus the bad-row predicate — and variant
    # expressions are CodegenFallback, so neither codegen subexpression
    # elimination nor the interpreter dedups an inlined
    # try_parse_json(col): validate_events paid ~6 parses per row, the
    # 36-schema multi corpus ~100+. Referencing the staged NAME makes it
    # one parse per row; CollapseProject keeps the staging projection
    # because the alias is referenced many times and is non-trivial (the
    # same mechanism _staged_check_chain documents). Measured: 1M-event
    # validate_events steady ~1.9 s → ~1.1 s, identical results (hash
    # oracle at sf0.01/sf0.1).
    parsed_name = f"{prefix}_parsed"
    df = df.withColumn(parsed_name, F.try_parse_json(F.col(json_col)))
    # textual (VERDICT r3 #7): each staged struct is one SQL string parsed
    # by ONE F.expr call instead of a py4j round trip per expression node;
    # the key rides in an escaped SQL literal, so every key stages this way
    structs: dict[str, str] = {}
    cols = {}
    for i, k in enumerate(sorted(keys)):
        v = f"try_variant_get(`{parsed_name}`, {json_path_sql(k)}, 'variant')"
        structs[k] = f"{prefix}_{i}"
        cols[structs[k]] = F.expr(
            f"struct({v} AS v, schema_of_variant({v}) AS sv)")
    # the malformed-JSON predicate is staged too: re-parsing in the consumer
    # projection would cost one extra try_parse_json per row (interpreted
    # subexpression elimination does not reach across projections)
    cols[f"{prefix}_bad"] = (F.col(json_col).isNotNull()
                             & F.col(parsed_name).isNull())
    staged = df.withColumns(cols).drop(parsed_name)
    # the shared columns read the staged structs by name, in their own
    # projection: the type-label CASE and the exact Number::toString text
    # (~14.5k characters with its array-depth copies) each enter the plan
    # once, instead of once per check reading a field's type and once per
    # string-checked key, while each field is still labelled and formatted
    # once per row
    types, shared = f"{prefix}_type", f"{prefix}_str"
    skeys = sorted(k for k in string_keys or () if k in structs)
    shared_cols = {}
    if structs:
        shared_cols[types] = F.expr(shared_type_label_sql(
            [f"`{structs[k]}`" for k in sorted(structs)], "_tx",
            staged=True))
    if skeys:
        shared_cols[shared] = F.expr(shared_to_string_sql(
            [f"`{structs[k]}`.v" for k in skeys], "_tsv"))
    if shared_cols:
        staged = staged.withColumns(shared_cols)
    acc = PreboundVariantAccessor(
        structs, {k: j for j, k in enumerate(skeys)}, types, shared)
    return staged, acc, F.col(f"{prefix}_bad")


class _VariantElement(Accessor):
    """Accessor over one array element variant, with the JS scalar wrap built in.

    JS (validationHelpers.js:41-44): an element that is typeof 'object' and
    non-null recurses directly (this includes ARRAYS — typeof [] is 'object');
    anything else is wrapped as ``{'': item}``. In variant terms,
    ``variant_get(elem, '$["k"]')`` on a non-object is SQL NULL → 'missing',
    which is exactly what the wrap produces for every key except ``''``; only
    the ``''`` key needs a dynamic branch between "the element itself" (wrap)
    and "the object's actual '' member" (direct).
    """

    def __init__(self, elem: Column):
        self._elem = elem
        sv = F.schema_of_variant(elem)
        self._direct = (sv.startswith("OBJECT") | sv.startswith("ARRAY")
                        | sv.startswith("STRUCT"))

    def _get(self, key: str) -> Column:
        member = F.try_variant_get(self._elem, variant_key_path(key),
                                   "variant")
        if key == "":
            return F.when(self._direct, member).otherwise(self._elem)
        return member

    def with_field(self, key, fn):
        return _bind_variant(self._get(key), fn)


# ---------------------------------------------------------------------------
# The compiler
# ---------------------------------------------------------------------------

def compile_violations(rules: dict, accessor: Accessor,
                       parent: Column | None = None,
                       check_cache: dict | None = None) -> Column:
    """Compile a reference rule spec into one ``array<violation>`` Column.

    Mirrors checkWithSchema (validationHelpers.js:130-164): per schema key, in
    spec order — missing gate, optional-empty skip, then independent
    value/type/length/regex checks; nested recursion inside the type check.

    ``check_cache``: memoizes the per-(key, rule-spec) Column subtree ACROSS
    compile calls that share ONE accessor (validate_multi: 36 GA4 schemas
    share most param specs — currency/value/items/... appear in dozens of
    types with byte-identical rules). Column objects are immutable expression
    wrappers, so reuse is semantics-free; what it saves is py4j tree
    construction, the dominant fresh-plan cost (measured 31 s of the
    36-schema 38 s warm build). Only valid while the accessor is the same
    object — callers own the cache lifetime.
    """
    parts: list[Column] = []
    for key, rule in rules.items():
        if key == "version":  # js:134
            continue
        if parent is None:
            parts.append(_top_key_check(key, rule, accessor, check_cache))
            continue
        path = F.concat(parent, F.lit("." + key))
        parts.append(accessor.with_field(
            key, lambda bf, rule=rule, path=path: _per_key(bf, rule, path)))
    return _concat(parts)


def _check_key(key: str, rule: dict) -> tuple[str, str]:
    """Canonical memo key for a top-level (key, rule-spec) check subtree —
    the SAME canonicalization as the textual layer's cache, by construction
    (one function; divergence would silently split the caches)."""
    return rule_cache_key(key, rule)


# session-scoped memo of textual per-key check Columns. The SQL text is a
# pure function of (staged column refs, key, rule), and the
# unresolved Column F.expr returns is immutable and reusable across plans
# within one JVM — so a steady-state driver (same rule corpus, batch after
# batch) pays the text generation + ANTLR parse ONCE per distinct check
# instead of per plan build (measured: GA4 36-schema steady build 4.3 s →
# sub-second). The slot is part of the key because it depends on the whole
# corpus' string-key set: the same (key, rule) reads a different slot under
# another corpus. Keyed on applicationId so a restarted SparkContext never
# sees a stale JavaObject; bounded so unbounded rule-set churn can't leak.
_TOP_CHECK_CACHE: dict = {}
_TOP_CHECK_CACHE_MAX = 8192
# whole-corpus memo for _staged_check_chain (ti, gated projection, dispatch)
_CHAIN_CACHE: dict = {}
_CHAIN_CACHE_MAX = 64


def _session_tag() -> str | None:
    try:
        from pyspark.sql import SparkSession
        return SparkSession.getActiveSession().sparkContext.applicationId
    except Exception:
        return None


def _top_key_check(key: str, rule: dict, accessor: Accessor,
                   check_cache: dict | None,
                   session_tag: str | None = None,
                   fallbacks: list | None = None) -> Column:
    """One top-level key's full check subtree, memoized on the canonical
    (key, rule) pair across compile calls sharing one accessor.

    Textual fast path (VERDICT r3 #7): the whole per-key check subtree —
    including nested-array element recursion — is generated as ONE SQL
    string and parsed JVM-side, instead of ~10^3 py4j round trips per
    (key, rule). Identical expression semantics, pinned by the full-corpus
    differential in tests/test_validation.py.

    ``fallbacks``: when given, keys that could NOT be textualized (and so
    produced an accessor-bound Column) are appended — callers that want to
    cache by-name-resolvable expression trees across plans use it to detect
    when caching would be unsafe.
    """
    ck = _check_key(key, rule)
    col = check_cache.get(ck) if check_cache is not None else None
    if col is not None:
        return col
    if isinstance(accessor, PreboundVariantAccessor) and key in accessor.structs:
        refs = accessor.view_sql(key)
        if session_tag is None:
            session_tag = _session_tag()
        # session_tag None means we cannot prove which JVM we are on
        # (getActiveSession is thread-local) — caching would risk serving a
        # Column whose JavaObject belongs to a stopped JVM, so skip it
        gk = ((session_tag,) + refs + ck
              if session_tag is not None else None)
        col = _TOP_CHECK_CACHE.get(gk) if gk is not None else None
        if col is None:
            try:
                # looked up on the module: the textual-vs-Column
                # differential swaps it out to force the Column fallback
                col = F.expr(validation_sql.top_key_expr_sql(
                    key, rule, *refs))
                if gk is not None:
                    if len(_TOP_CHECK_CACHE) >= _TOP_CHECK_CACHE_MAX:
                        _TOP_CHECK_CACHE.clear()
                    _TOP_CHECK_CACHE[gk] = col
            except TextualFallback:
                col = None
    if col is None:
        if fallbacks is not None:
            fallbacks.append(key)
        path = F.lit(key)
        col = accessor.with_field(
            key, lambda bf, rule=rule, path=path: _per_key(bf, rule, path))
    if check_cache is not None:
        check_cache[ck] = col
    return col


def _per_key(bf: BoundField, rule: dict, path: Column) -> Column:
    fv = bf.view
    optional = _is_optional(rule)
    checks: list[Column] = []
    if "value" in rule:
        checks.append(_check_value(rule, fv, path))
    if "type" in rule:
        checks.append(_check_type(rule, bf, path, optional))
    if "length" in rule:
        checks.append(_check_length(rule, fv, path))
    if "regex" in rule:
        checks.append(_check_regex(rule, fv, path))
    if "enum" in rule:  # engine extension (north rule): enum membership
        checks.append(_check_enum(rule, fv, path))
    body = _concat(checks)

    # optional + (null | trimmed-empty string) → skip all checks (js:148-153)
    if optional:
        skip = fv.is_null | _trimmed_empty(fv)
        return _gate(fv.present & ~skip, body)
    missing = _one(path, "missing", "field present", "field missing")
    return F.when(~fv.present, missing).otherwise(body)


def _check_type(rule: dict, bf: BoundField, path: Column,
                optional: bool) -> Column:
    fv = bf.view
    expected = rule["type"]
    if expected == "string":  # js:10-31 — actual is PLAIN typeof here (js:18)
        wrong = _gate(fv.typeof != "string",
                      _one(path, "type", "string", fv.typeof))
        if optional:
            # js:14 — optional + null → no row even from the type check
            wrong = _gate(~fv.is_null, wrong)
            empty = _empty()
        else:
            empty = _gate(_trimmed_empty(fv),
                          _one(path, "type", "non-empty string", "empty string"))
        return _concat([wrong, empty])

    if expected == "array":  # js:33-51
        not_array = _one(path, "type", "array", fv.actual)
        nested = rule.get("nestedSchema")
        if nested:
            arr, factory = bf.array_elements()
            if arr is not None:
                def per_elem(elem: Column, i: Column) -> Column:
                    ipath = F.concat(path, F.lit("["), i.cast("string"), F.lit("]"))
                    return compile_violations(nested, factory(elem), parent=ipath)
                nested_v = F.flatten(F.transform(arr, per_elem))
                if _ELEM_OK_GATE and isinstance(bf, _TypedBound):
                    # clean-element gate (round 6): on the TYPED path most
                    # elements are clean, the per-element CONDITIONS fold to
                    # a handful of cheap comparisons (typeof/actual are
                    # literals), and the violation-row machinery (struct +
                    # array + concat per check, all interpreted) dominated
                    # the scan (measured 5.0 s → 0.7 s conditions-only at
                    # 31.5M spans). `forall(elements_ok)` short-circuits the
                    # machinery for all-clean arrays; any dirty element
                    # falls through to the UNCHANGED full build, so output
                    # is identical (ok is compiled from the same condition
                    # helpers; complement pinned by
                    # tests/test_validation.py::test_element_ok_gate_*)
                    all_ok = F.forall(arr, lambda e: _elements_ok(
                        nested, factory(e)))
                    nested_v = F.when(F.coalesce(all_ok, F.lit(False)),
                                      _empty()).otherwise(nested_v)
                return F.when(fv.actual != "array", not_array).otherwise(
                    F.coalesce(nested_v, _empty()))
        return _gate(fv.actual != "array", not_array)

    if expected == "object":  # js:53-67
        bad = _gate(fv.is_null | (fv.actual != "object"),
                    _one(path, "type", "object", fv.actual))
        nested = rule.get("nestedSchema")
        if not nested:
            return bad
        sub = compile_violations(nested, bf.nested(), parent=path)
        ok = fv.present & ~fv.is_null & (fv.actual == "object")
        return F.when(ok, sub).otherwise(bad)

    # generic (number / boolean / anything): array-aware actual (js:69-73)
    return _gate(fv.actual != expected,
                 _one(path, "type", py_js_to_string(expected), fv.actual))


def _value_neq(rule: dict, fv: FieldView) -> Column:
    """The value-check's failure condition — shared by the violation builder
    and the clean-element gate so the two can never drift."""
    expected_s = py_js_to_string(rule["value"])  # driver-side toString
    expected = rule["value"]
    if expected_s is None:
        return fv.as_string.isNotNull()  # undefined !== undefined is false
    if (isinstance(expected, (int, float)) and not isinstance(expected, bool)
            and abs(expected) < 1.8e308):  # beyond-double ints: string path
        # numeric literal fast path: String(x) is injective on doubles, so
        # for a NUMBER actual, toString equality ⇔ numeric equality — the
        # (expensive) exact formatter then only evaluates on FAILING rows
        # (the violation's actual string) and on non-number actuals
        return F.when(fv.typeof == "number",
                      fv.num_value != F.lit(float(expected)))\
               .otherwise(fv.as_string.isNull()
                          | (fv.as_string != F.lit(expected_s)))
    return fv.as_string.isNull() | (fv.as_string != F.lit(expected_s))


def _check_value(rule: dict, fv: FieldView, path: Column) -> Column:
    expected_s = py_js_to_string(rule["value"])  # driver-side toString
    return _gate(_value_neq(rule, fv),
                 _one(path, "value", expected_s, fv.as_string))


def _length_neq(rule: dict, fv: FieldView) -> tuple[Column, Column]:
    """(failure condition, JS-coerced actual length) — condition shared with
    the clean-element gate."""
    expected = int(rule["length"])  # parseInt (js:77)
    # (v || []).length (js:78): EVERY falsy value coerces to [] — null, false,
    # 0, NaN all report length 0 ('' is falsy too but its own length is 0);
    # non-string/array truthy values have undefined length
    actual = F.when(fv.is_null | fv.is_falsy, F.lit(0)).otherwise(fv.js_length)
    return actual.isNull() | (actual != F.lit(expected)), actual


def _check_length(rule: dict, fv: FieldView, path: Column) -> Column:
    neq, actual = _length_neq(rule, fv)
    return _gate(neq, _one(path, "length", str(int(rule["length"])),
                           actual.cast("string")))


def _enum_ok(rule: dict, fv: FieldView) -> Column:
    """Membership condition of the enum check (pre-coalesce) — shared with
    the clean-element gate."""
    allowed = [py_js_to_string(e) for e in rule["enum"]]
    ok = fv.as_string.isin([a for a in allowed if a is not None])
    if any(a is None for a in allowed):
        ok = ok | fv.as_string.isNull()
    return ok


def _check_enum(rule: dict, fv: FieldView, path: Column) -> Column:
    """Engine extension: value must be one of the allowed literals (by JS
    toString equality, consistent with the reference's value check)."""
    allowed = [py_js_to_string(e) for e in rule["enum"]]
    expected = ",".join("" if a is None else a for a in allowed)
    return _gate(~F.coalesce(_enum_ok(rule, fv), F.lit(False)),
                 _one(path, "enum", expected, fv.as_string))


def _regex_java_pattern(rule: dict) -> str:
    """Compile-time-validated Java translation of the rule's JS regex."""
    pattern = rule["regex"]
    java_pat = js_regex_to_java(pattern)
    # fail at COMPILE time (driver), not per-row at runtime: one JS-legal but
    # Java-illegal pattern in a rule spec must not kill a 10^12-row job mid-scan
    err = validate_java_regex(java_pat)
    if err is not None:
        raise ValueError(
            f"rule regex {pattern!r} does not compile as a Java regex "
            f"({err}); rewrite it in the common JS/Java subset "
            "(see functions/js_compat.js_regex_to_java)")
    return java_pat


def _check_regex(rule: dict, fv: FieldView, path: Column) -> Column:
    pattern = rule["regex"]
    java_pat = _regex_java_pattern(rule)
    is_empty_value = _trimmed_empty(fv) | fv.is_null

    # let_-bind the toString: it is referenced by both the match input and
    # the violation's actual, and branch subexpressions are not deduplicated
    # in (interpreted) evaluation — unbound it would evaluate twice per row
    def body(s: Column) -> Column:
        coerced = F.coalesce(s, F.lit("undefined"))  # String(undefined)
        return (
            F.when(is_empty_value,
                   _one(path, "regex", pattern, "empty_value"))
            .otherwise(_gate(~coerced.rlike(java_pat),
                             _one(path, "regex", pattern, s))))

    return let_(fv.as_string, body)


# ---------------------------------------------------------------------------
# Clean-element gate (round 6): boolean complements of the checks above
# ---------------------------------------------------------------------------

# flip to False to disable the typed-array clean-element short-circuit (the
# equality tests compare both settings)
_ELEM_OK_GATE = True


def _truthy(c: Column) -> Column:
    """NULL-as-false coercion — `_gate(cond, arr)` emits rows only when cond
    is literally TRUE, so every complement below must treat NULL as ok."""
    return F.coalesce(c, F.lit(False))


def _per_key_ok(bf: BoundField, rule: dict) -> Column:
    """True ⇒ :func:`_per_key` emits NO violation for this field (the gate
    may be conservatively False — that only costs the full build — but must
    never be True for a violating field; conditions are the SAME helper
    expressions the violation builders use)."""
    fv = bf.view
    optional = _is_optional(rule)
    oks: list[Column] = []
    if "value" in rule:
        oks.append(~_truthy(_value_neq(rule, fv)))
    if "type" in rule:
        oks.append(_type_ok(rule, bf, optional))
    if "length" in rule:
        oks.append(~_truthy(_length_neq(rule, fv)[0]))
    if "regex" in rule:
        java_pat = _regex_java_pattern(rule)
        is_empty_value = _trimmed_empty(fv) | fv.is_null
        coerced = F.coalesce(fv.as_string, F.lit("undefined"))
        oks.append(~_truthy(is_empty_value) & _truthy(coerced.rlike(java_pat)))
    if "enum" in rule:
        oks.append(_truthy(_enum_ok(rule, fv)))
    body_ok = oks[0] if oks else F.lit(True)
    for c in oks[1:]:
        body_ok = body_ok & c
    if optional:
        # violations iff truthy(present & ~skip) AND the body emits rows
        skip = fv.is_null | _trimmed_empty(fv)
        return ~_truthy(fv.present & ~skip) | body_ok
    # non-optional: when(~present, missing).otherwise(body)
    return ~_truthy(~fv.present) & body_ok


def _type_ok(rule: dict, bf: BoundField, optional: bool) -> Column:
    """Complement of :func:`_check_type` (no violation ⇔ True)."""
    fv = bf.view
    expected = rule["type"]
    if expected == "string":
        wrong_cond = fv.typeof != "string"
        if optional:
            return ~(_truthy(~fv.is_null) & _truthy(wrong_cond))
        return ~_truthy(wrong_cond) & ~_truthy(_trimmed_empty(fv))
    if expected == "array":
        nested = rule.get("nestedSchema")
        if nested:
            arr, factory = bf.array_elements()
            if arr is not None:
                all_ok = F.forall(arr, lambda e: _elements_ok(
                    nested, factory(e)))
                # null array → flatten(null) → coalesce(empty): no rows
                return ~_truthy(fv.actual != "array") & \
                    (arr.isNull() | _truthy(all_ok))
        return ~_truthy(fv.actual != "array")
    if expected == "object":
        nested = rule.get("nestedSchema")
        bad_cond = fv.is_null | (fv.actual != "object")
        if not nested:
            return ~_truthy(bad_cond)
        sub_ok = _elements_ok(nested, bf.nested())
        okc = fv.present & ~fv.is_null & (fv.actual == "object")
        return F.when(okc, sub_ok).otherwise(~_truthy(bad_cond))
    return ~_truthy(fv.actual != expected)


def _elements_ok(rules: dict, accessor: "Accessor") -> Column:
    """True ⇒ :func:`compile_violations` over the same (rules, accessor)
    yields an empty array."""
    out = None
    for key, rule in rules.items():
        if key == "version":
            continue
        c = accessor.with_field(
            key, lambda bf, rule=rule: _per_key_ok(bf, rule))
        out = c if out is None else out & c
    return out if out is not None else F.lit(True)


# ---------------------------------------------------------------------------
# Public entry points
# ---------------------------------------------------------------------------

def validate_typed(df: DataFrame, rules: dict,
                   out_col: str = "violations") -> DataFrame:
    """Validate typed (nested) columns of ``df`` against ``rules``.

    One projection; no shuffle; whole-stage codegen end to end.
    """
    acc = TypedAccessor(None, df.schema, root_df=df)
    return df.withColumn(out_col, compile_violations(rules, acc))


def _prebind_key_sets(rules_sets: list[dict]) -> tuple[list[str], set[str]]:
    """(all top-level rule keys, keys whose JS toString any check needs)."""
    keys = sorted({k for rules in rules_sets for k in rules if k != "version"})
    skeys = {k for rules in rules_sets for k, r in rules.items()
             if k != "version" and needs_js_string(r)}
    return keys, skeys


# staging names the VARIANT/multi paths add (and drop) — an input column
# with one of them would be shadowed or silently dropped
_STAGING_PREFIXES = ("__f_", "__chk_")
_STAGING_NAMES = ("__ti",)


def _check_staging_names(df: DataFrame, *cols: str | None) -> None:
    """Raise if ``df`` (or a named input column) uses a staging name.
    Case-insensitive, like Spark's default column resolution."""
    clash = sorted({c for c in (*df.columns, *cols) if c is not None
                    and (c.lower().startswith(_STAGING_PREFIXES)
                         or c.lower() in _STAGING_NAMES)})
    if clash:
        raise ValueError(
            f"input column(s) {clash} use a name reserved for validation "
            "staging (__f_*, __chk_*, __ti); rename them before validating")


def validate_json(df: DataFrame, rules: dict, json_col: str,
                  out_col: str = "violations",
                  prebind: bool = True) -> DataFrame:
    """Validate a JSON-string column with full JS fidelity via VARIANT.

    ``prebind`` (default): stage the per-field variant extraction — the
    field's value, its ``schema_of_variant``, and (where a value/regex/enum
    check needs it) its JS toString, one slot of a shared column — in
    explicit projections first (:func:`prebind_fields`). The VARIANT path has NO whole-stage codegen,
    and interpreted evaluation does not deduplicate subexpressions across
    ``when`` branches, so without staging every check re-evaluates the
    ``try_parse_json``/``try_variant_get``/Number::toString trees per row;
    staged, each evaluates once per row per field (measured ~3× faster at
    sf0.1 — the round-2 BENCH regression). Set ``prebind=False`` to inline
    (identical results; useful only for plan-shape debugging).

    Malformed JSON does NOT abort the job (one bad row must not kill a
    10^12-row pass): such rows get a single ``invalid_request`` violation —
    the reference 400s them (validator_src/index.js:28-37).
    """
    _check_staging_names(df, json_col)
    invalid = _one(F.lit("$"), "invalid_request",
                   "well-formed JSON", "malformed JSON")
    if prebind:
        keys, skeys = _prebind_key_sets([rules])
        staged, acc, bad = prebind_fields(df, json_col, keys, skeys)
        out = compile_violations(rules, acc)
        return (staged.withColumn(out_col,
                                  F.when(bad, invalid).otherwise(out))
                .drop(*[c for c in staged.columns if c.startswith("__f_")]))
    parsed = F.try_parse_json(F.col(json_col))
    out = compile_violations(rules, VariantAccessor(parsed))
    bad = F.col(json_col).isNotNull() & parsed.isNull()
    return df.withColumn(out_col, F.when(bad, invalid).otherwise(out))


def _staged_check_chain(staged: DataFrame, accessor: Accessor,
                        rules_by_name: dict[str, dict],
                        name_col: str,
                        skip_rows: Column | None = None,
                        skip_sig: str | None = None) -> tuple[DataFrame,
                                                              Column]:
    """Stage each DISTINCT (key, rule) check subtree as ONE projected column
    and dispatch event types over references to those columns.

    Why (VERDICT r4 #3): the check cache already builds each shared subtree
    once on the driver, but an ``F.when`` chain that INLINES the Column per
    event type ships N copies of the tree to the JVM — analysis cost is
    O(types × subtree), and the GA4 corpus' nested-items subtree alone made
    that ~4.5 s per plan build. Staged, the JVM analyzes each distinct
    subtree exactly once and the dispatch chain is a few hundred tiny
    column references.

    Runtime shape is unchanged: each ``__chk_i`` is gated on an integer
    type-id InSet (one ``__ti`` compare chain per row, then O(1) set probes),
    so a row still evaluates exactly the checks its own event type declares
    — rows of other types, UNKNOWN types (``__ti = -1``), and rows matching
    ``skip_rows`` (the staged malformed-JSON flag, whose dispatch branch
    never reads the checks) see the gate fail and pay only the probe —
    matching the old when-chain's lazy evaluation scope exactly. The
    optimizer keeps the staging Project because the shared columns are
    referenced by many dispatch branches (CollapseProject refuses to
    duplicate non-trivial expressions); a check used by a single type may
    get re-inlined, which costs nothing — it was analyzed once either way.

    The (``__ti``, gated projection, dispatch) triple is additionally
    memoized per (session, corpus, staged-name map): every Column in it is
    resolvable BY NAME (textual F.expr trees plus ``__ti``/``__chk_*``
    references), so a steady-state driver re-validating batch after batch
    reuses the whole build and pays only the per-plan JVM analysis. The memo
    is skipped whenever any key fell back to the accessor-bound Column
    builder — those trees can bind to a specific input DataFrame and must
    be rebuilt per plan.

    Returns (staged df with ``__ti``/``__chk_*`` columns, dispatch Column).
    """
    type_names = list(rules_by_name)
    tag = _session_tag()
    memo_key = None
    # tag None ⇒ unknown JVM (thread-local getActiveSession) — never cache
    if isinstance(accessor, PreboundVariantAccessor) and tag is not None:
        memo_key = (tag, name_col, skip_sig, accessor.signature(),
                    tuple((t, json.dumps(r, sort_keys=True, default=str))
                          for t, r in rules_by_name.items()))
        hit = _CHAIN_CACHE.get(memo_key)
        if hit is not None:
            ti, proj, expr = hit
            return staged.withColumn("__ti", ti).select("*", *proj), expr

    # one string compare chain per row; every gate below is then an int probe
    ti = None
    for i, name in enumerate(type_names):
        cond = F.col(name_col) == name
        ti = F.when(cond, i) if ti is None else ti.when(cond, i)
    ti = ti.otherwise(F.lit(-1))

    cache: dict = {}
    fallbacks: list = []
    reg: dict = {}  # canonical check -> {"name", "col", "tids"}
    per_type: dict[str, list[str]] = {}
    for tid, (tname, rules) in enumerate(rules_by_name.items()):
        cols = per_type.setdefault(tname, [])
        for key, rule in rules.items():
            if key == "version":
                continue
            ck = _check_key(key, rule)
            ent = reg.get(ck)
            if ent is None:
                ent = reg[ck] = {
                    "name": f"__chk_{len(reg)}",
                    "col": _top_key_check(key, rule, accessor, cache,
                                          session_tag=tag,
                                          fallbacks=fallbacks),
                    "tids": [],
                }
            ent["tids"].append(tid)
            cols.append(ent["name"])

    n_types = len(type_names)
    empty = _empty()
    proj = []
    for ent in reg.values():
        gate = (F.col("__ti").isin(ent["tids"])
                if len(ent["tids"]) < n_types
                else F.col("__ti") != F.lit(-1))
        if skip_rows is not None:
            gate = gate & ~skip_rows
        proj.append(F.when(gate, ent["col"]).otherwise(empty)
                    .alias(ent["name"]))
    staged2 = staged.withColumn("__ti", ti).select("*", *proj)

    expr = None
    for tid, tname in enumerate(type_names):
        c = _concat([F.col(n) for n in per_type[tname]])
        cond = F.col("__ti") == tid
        expr = F.when(cond, c) if expr is None else expr.when(cond, c)
    expr = expr.otherwise(F.lit(None).cast(VIOLATION_ARRAY_DDL))

    if memo_key is not None and not fallbacks:
        if len(_CHAIN_CACHE) >= _CHAIN_CACHE_MAX:
            _CHAIN_CACHE.clear()
        _CHAIN_CACHE[memo_key] = (ti, proj, expr)
    return staged2, expr


def validate_multi(df: DataFrame, rules_by_name: dict[str, dict],
                   name_col: str, json_col: str | None = None,
                   out_col: str = "violations",
                   status_col: str = "status",
                   prebind: bool = True) -> DataFrame:
    """Dynamic multi-schema dispatch (SURVEY.md §2.3 J1).

    The reference resolves ``<event_name>.json`` per request
    (validator_src/index.js:45); here every DISTINCT (key, rule) check
    compiles once, is staged as one projected column, and the row's type
    selects its checks via an integer-id dispatch chain over those columns
    (:func:`_staged_check_chain`) — one pass, no join, no shuffle, and the
    JVM analyzes each shared subtree once instead of once per event type.
    An unknown type yields NULL violations and status 'schema_not_found'
    (the reference's HTTP 404, index.js:47-50); otherwise status is
    'validation_failed' / 'valid' (index.js:54-75).

    ``prebind`` (JSON path): stage the per-field variant extraction in an
    explicit projection (:class:`PreboundVariantAccessor`) so each of the
    corpus' distinct top-level fields generates code once instead of once
    per event type — measured ~3x faster fresh-plan compile on the 36-schema
    GA4 corpus (BENCH/CODEGEN.md), identical results.

    Strategy guidance (measured, BENCH/CODEGEN.md): the staged chain is the
    right default at any corpus size tested — 36 GA4 schemas compile in ~70 s
    fresh / run steady like a single projection. The union fallback
    (:func:`validate_multi_union`) benchmarked WORSE (37 branch plans); use
    it only when per-type plans must be isolated (e.g. per-type sinks).

    Raises ``ValueError`` on an empty ``rules_by_name`` and on input columns
    named like the staging columns (``__f_*``, ``__chk_*``, ``__ti``).
    """
    if not rules_by_name:
        raise ValueError("validate_multi needs at least one event type in "
                         "rules_by_name (got an empty corpus)")
    _check_staging_names(df, name_col, json_col)

    def chain(accessor_for: Callable[[], Accessor]) -> Column:
        # one shared check cache: the GA4 corpus reuses most param specs
        # across event types, so identical (key, rule) subtrees build ONCE
        # (py4j construction is the dominant fresh-plan cost; accessor_for
        # returns the same object every call on both multi paths)
        cache: dict = {}
        expr = None
        for name, rules in rules_by_name.items():
            c = compile_violations(rules, accessor_for(), check_cache=cache)
            cond = F.col(name_col) == name
            expr = F.when(cond, c) if expr is None else expr.when(cond, c)
        return expr.otherwise(F.lit(None).cast(VIOLATION_ARRAY_DDL))

    if json_col is None:
        acc = TypedAccessor(None, df.schema, root_df=df)
        staged2, dispatch = _staged_check_chain(df, acc, rules_by_name,
                                                name_col)
        out = staged2.withColumn(out_col, dispatch).drop(
            "__ti", *[c for c in staged2.columns if c.startswith("__chk_")])
    else:
        # try_parse_json, NOT parse_json: one malformed row must not kill a
        # 10^12-row pass. A malformed payload with a KNOWN event name gets the
        # same invalid_request violation as validate_json (the reference 400s
        # that one request, index.js:28-37); unknown names keep NULL/
        # schema_not_found — identical to validate_multi_union's per-branch
        # validate_json behavior.
        known = F.col(name_col).isin(list(rules_by_name))
        invalid = _one(F.lit("$"), "invalid_request",
                       "well-formed JSON", "malformed JSON")
        if prebind:
            # fields whose toString any rule set needs (value/regex/enum
            # checks) each get a slot of the shared toString column
            keys, skeys = _prebind_key_sets(list(rules_by_name.values()))
            staged, acc2, bad = prebind_fields(df, json_col, keys, skeys)
            staged2, dispatch = _staged_check_chain(
                staged, acc2, rules_by_name, name_col,
                skip_rows=bad, skip_sig="bad")
            out = staged2.withColumn(
                out_col,
                F.when(known & bad, invalid).otherwise(dispatch)
            ).drop("__ti", *[c for c in staged2.columns
                             if c.startswith(("__f_", "__chk_"))])
        else:
            bound = let_(F.try_parse_json(F.col(json_col)),
                         lambda v: chain(lambda: VariantAccessor(v)))
            bad = (F.col(json_col).isNotNull()
                   & F.try_parse_json(F.col(json_col)).isNull())
            out = df.withColumn(
                out_col,
                F.when(known & bad, invalid).otherwise(bound))
    return out.withColumn(
        status_col,
        F.when(F.col(out_col).isNull(), "schema_not_found")
        .when(F.size(out_col) > 0, "validation_failed")
        .otherwise("valid"))


def validate_multi_union(df: DataFrame, rules_by_name: dict[str, dict],
                         name_col: str, json_col: str | None = None,
                         out_col: str = "violations",
                         status_col: str = "status") -> DataFrame:
    """Union-of-partitions fallback for :func:`validate_multi`.

    Semantically identical, but each event type validates in its own branch
    of a UNION over type-filtered scans instead of one giant ``F.when`` chain
    — the per-branch expression stays small, so this is the path for rule
    corpora with hundreds+ of event types (SURVEY.md §7.3.6). Catalyst pushes
    the type predicate into each scan; at most one branch matches per row.
    """
    parts = []
    for name, rules in rules_by_name.items():
        sub = df.where(F.col(name_col) == name)
        if json_col is None:
            out = validate_typed(sub, rules, out_col)
        else:
            out = validate_json(sub, rules, json_col, out_col)
        parts.append(out)
    unknown = df.where(
        ~F.col(name_col).isin(list(rules_by_name)) | F.col(name_col).isNull()
    ).withColumn(out_col, F.lit(None).cast(VIOLATION_ARRAY_DDL))
    parts.append(unknown)
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return res.withColumn(
        status_col,
        F.when(F.col(out_col).isNull(), "schema_not_found")
        .when(F.size(out_col) > 0, "validation_failed")
        .otherwise("valid"))


def request_gate(df: DataFrame, name_col: str,
                 required_cols: list[str] | None = None) -> DataFrame:
    """Pre-flight gating (SURVEY.md §2.2 V13): the reference 400s requests with
    no body / no event data / no event name (validator_src/index.js:24-43).
    Batch equivalent: rows failing the gate get status 'invalid_request' and
    are excluded from validation by the caller."""
    cond = F.col(name_col).isNull() | (F.trim(F.col(name_col)) == "")
    for c in required_cols or []:
        cond = cond | F.col(c).isNull()
    return df.withColumn("gate_status",
                         F.when(cond, "invalid_request").otherwise("ok"))


def explode_violations(df: DataFrame, id_cols: list[str],
                       violations_col: str = "violations") -> DataFrame:
    """violations array → one row per violation (the reference's log-row shape)."""
    v = F.explode(F.col(violations_col)).alias("v")
    return (df.select(*id_cols, v)
            .select(*id_cols, "v.field", "v.error_type", "v.expected", "v.actual"))
