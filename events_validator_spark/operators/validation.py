"""Rule compiler: reference rule specs → Spark SQL text → one violations column.

The reference validates one JSON event at a time with a tree-walking interpreter
(/root/reference/validator_src/helpers/validationHelpers.js:130-164). Here the rule
spec is compiled ONCE on the driver into SQL text producing
``array<struct<field,error_type,expected,actual>>`` per row; each text is parsed
by one ``F.expr`` call (one py4j round trip instead of one per expression node —
the GA4 corpus went from 96k to 3k round trips, BENCH/CODEGEN.md), Catalyst folds
the constants, and the whole validation pass runs as projections over the
table — no per-row Python anywhere.

One check emitter serves two field-access models, through a *view* per field
(the field's JS ``typeof``, presence, toString, length, … as SQL text) and a
*scope* per object level (how a rule key resolves to a view):

* typed — events live in ordinary typed (nested) columns, e.g. the
  interleaved-docs table ``(doc_id, spans: array<struct<...>>)``
  (:class:`_TypedView`). JS ``typeof`` is known statically from the Spark
  schema and emitted as a literal; a NULL field is treated as *absent* (typed
  rows cannot distinguish missing-vs-null — documented divergence). Arrays of
  elements get a clean-element ``forall`` gate.
* VARIANT — events live in a JSON string column parsed with ``try_parse_json``
  (:class:`_VariantView`). Full JS fidelity: missing key (SQL NULL variant) vs
  JSON null (``schema_of_variant == 'VOID'`` → ``typeof`` 'object') vs value
  types, exactly matching ``typeof null === 'object'`` (validationHelpers.js:7).
  The top-level fields are staged once per row (:func:`prebind_fields`), and
  every scope computes its keys' type labels and toStrings through one shared
  expression each.

Semantics pinned against :mod:`events_validator_spark.js_oracle` by
tests/test_validation.py and tests/test_property_differential.py (SURVEY.md
§2.2 quirk list V1–V12).
"""

from __future__ import annotations

import itertools
import json

from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from events_validator_spark.functions.js_compat import (
    js_number_to_string_sql,
    js_regex_to_java,
    typed_to_string_sql,
    py_js_to_string,
    static_js_actual,
    static_js_typeof,
    validate_java_regex,
)

VIOLATION_STRUCT_DDL = "struct<field:string,error_type:string,expected:string,actual:string>"
VIOLATION_ARRAY_DDL = f"array<{VIOLATION_STRUCT_DDL}>"

_NUM_RE = "^(BIGINT|INT|SMALLINT|TINYINT|DOUBLE|FLOAT|DECIMAL)"
_EMPTY = f"CAST(array() AS {VIOLATION_ARRAY_DDL})"
_TYPED_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                  T.FloatType, T.DoubleType, T.DecimalType)


# ---------------------------------------------------------------------------
# SQL text helpers
# ---------------------------------------------------------------------------

def _lit(s: str | None) -> str:
    """SQL string literal (NULL for None)."""
    if s is None:
        return "CAST(NULL AS STRING)"
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _quote_ident(name: str) -> str:
    """Backtick-quoted SQL identifier; a backtick inside is doubled."""
    return "`" + name.replace("`", "``") + "`"


def _one(field: str, error_type: str, expected: str, actual: str) -> str:
    """1-element violation array; expected/actual are SQL exprs (use _lit)."""
    return (f"array(named_struct("
            f"'field', CAST({field} AS STRING), "
            f"'error_type', {_lit(error_type)}, "
            f"'expected', CAST({expected} AS STRING), "
            f"'actual', CAST({actual} AS STRING)))")


_INVALID_JSON = _one("'$'", "invalid_request", _lit("well-formed JSON"),
                     _lit("malformed JSON"))


def _gate(cond: str, arr: str) -> str:
    return f"(CASE WHEN {cond} THEN {arr} ELSE {_EMPTY} END)"


def _concat(parts: list[str | None]) -> str:
    parts = [p for p in parts if p is not None]
    if not parts:
        return _EMPTY
    if len(parts) == 1:
        return parts[0]
    return f"concat({', '.join(parts)})"


def _let(value: str, var: str, body: str) -> str:
    """``body`` with ``var`` bound to ``value`` (evaluated once per row)."""
    return f"(transform(array({value}), {var} -> {body}))[0]"


def _truthy(cond: str) -> str:
    """NULL-as-false: a gated check emits rows only where its condition is
    literally TRUE, so every "no violation" condition treats NULL as ok."""
    return f"coalesce({cond}, false)"


def _is_optional(rule: dict) -> bool:
    # optional:true OR required:false (validationHelpers.js:12,140)
    return rule.get("optional") is True or rule.get("required") is False


# ---------------------------------------------------------------------------
# VARIANT access: paths, type labels, JS toString
# ---------------------------------------------------------------------------

def variant_key_path(key: str) -> str:
    """Variant path selecting the object member ``key``. Spark's path
    parser reads a bracketed name verbatim (no escape sequences), so the
    name is quoted with whichever quote character it does not contain."""
    if '"' not in key:
        return f'$["{key}"]'
    if "'" not in key:
        return f"$['{key}']"
    raise ValueError(
        f"rule key {key!r} contains both ' and \"; Spark variant paths "
        "cannot address such a member")


def json_path_sql(key: str) -> str:
    return _lit(variant_key_path(key))


def js_type_label_sql(v: str, sv: str) -> str:
    """A variant's JS type label: 'undefined' (missing), 'null', 'string',
    'boolean', 'number', 'array' or 'object' — JSON null and arrays kept
    apart, so plain and array-aware ``typeof`` both derive from it by a
    relabel."""
    return (f"(CASE WHEN ({v} IS NULL) THEN 'undefined' "
            f"WHEN ({sv} = 'VOID') THEN 'null' "
            f"WHEN ({sv} = 'STRING') THEN 'string' "
            f"WHEN ({sv} = 'BOOLEAN') THEN 'boolean' "
            f"WHEN ({sv} RLIKE '{_NUM_RE}') THEN 'number' "
            f"WHEN startswith({sv}, 'ARRAY') THEN 'array' "
            f"ELSE 'object' END)")


def variant_to_string_sql(v: str, depth: int = 3) -> str:
    """JS ``v?.toString()`` of a VARIANT value (NULL for missing/null)."""
    sv = f"schema_of_variant({v})"
    num_s = js_number_to_string_sql(f"try_variant_get({v}, '$', 'double')")
    if depth <= 0:
        arr_s = "''"
    else:
        var = f"_vts{depth}"
        arr_s = (f"array_join(transform("
                 f"try_variant_get({v}, '$', 'array<variant>'), "
                 f"{var} -> coalesce({variant_to_string_sql(var, depth - 1)},"
                 f" '')), ',')")
    return (f"(CASE WHEN (({v} IS NULL) OR ({sv} = 'VOID')) "
            f"THEN CAST(NULL AS STRING) "
            f"WHEN ({sv} = 'STRING') THEN try_variant_get({v}, '$', 'string') "
            f"WHEN ({sv} = 'BOOLEAN') THEN try_variant_get({v}, '$', 'string') "
            f"WHEN ({sv} RLIKE '{_NUM_RE}') THEN {num_s} "
            f"WHEN startswith({sv}, 'ARRAY') THEN {arr_s} "
            f"ELSE '[object Object]' END)")


# checks that read a field's JS toString (everything else reads the cheap
# type label / raw-string accessors)
STRING_CHECKS = ("value", "regex", "enum")


def needs_js_string(rule) -> bool:
    """True when a key's checks read its JS ``v?.toString()``."""
    return isinstance(rule, dict) and any(c in rule for c in STRING_CHECKS)


def shared_to_string_sql(values: list[str], var: str) -> str:
    """JS toString of every value through ONE formatter instance:
    ``transform(array(v1, …, vn), var -> toString(var))``. Slot ``j`` of the
    result is the toString of ``values[j]``; each value is still formatted
    once per row, but the ~3k-character Number::toString text (four copies,
    one per array depth) appears once per scope instead of once per
    string-checked key — smaller plans to parse, analyze, optimize,
    serialize and ship to every task."""
    return (f"transform(array({', '.join(values)}), "
            f"{var} -> {variant_to_string_sql(var)})")


def shared_type_label_sql(values: list[str], var: str,
                          staged: bool = False) -> str:
    """Every value's JS type label (:func:`js_type_label_sql`) through ONE
    label expression; ``staged``: the values are prebind structs
    (``v``/``sv`` fields) whose schema is already computed."""
    v, sv = ((f"{var}.v", f"{var}.sv") if staged
             else (var, f"schema_of_variant({var})"))
    return (f"transform(array({', '.join(values)}), "
            f"{var} -> {js_type_label_sql(v, sv)})")


# ---------------------------------------------------------------------------
# Field views and scopes
#
# A view exposes one field as SQL text: ``t`` (the type label checks compare
# with), ``present`` (JS hasOwnProperty), ``typeof`` (plain: arrays and null
# are 'object'), ``actual`` (array-aware), ``is_null``, ``as_string`` (JS
# v?.toString()), ``str_value`` (raw string, NULL for non-strings),
# ``js_length`` (NULL when undefined), ``is_falsy`` (false/0/NaN) and
# ``num_value``; ``elements(e)`` and ``members()`` give the scopes the type
# check recurses into. A scope maps the keys of one rule level to
# ``(views, wrap)``: one view per key, and the wrapper its checks' text goes
# through (the VARIANT scopes let-bind their shared arrays there).
# ---------------------------------------------------------------------------

Scope = Callable[[list, dict], tuple[list, Callable[[str], str]]]


def _same(body: str) -> str:
    return body


class _VariantView:
    """A VARIANT field: ``v`` reads its variant; ``t`` its slot in the
    scope's shared type label array (:func:`shared_type_label_sql`); ``s``
    its slot in the scope's shared toString array
    (:func:`shared_to_string_sql`) — only keys with value/regex/enum checks
    have one, and only those checks read ``as_string``. Every check is
    evaluated only where the field is present (non-NULL variant)."""

    gate_elements = False   # see _check_type: the gate pays on typed arrays

    def __init__(self, v: str, t: str, s: str | None = None):
        self.v, self.t, self._s = v, t, s

    @property
    def present(self) -> str:
        return f"({self.t} != 'undefined')"

    @property
    def typeof(self) -> str:
        return (f"(CASE WHEN ({self.t} IN ('null', 'array')) THEN 'object' "
                f"ELSE {self.t} END)")

    @property
    def actual(self) -> str:
        return f"(CASE WHEN ({self.t} = 'null') THEN 'object' ELSE {self.t} END)"

    @property
    def is_null(self) -> str:
        return f"({self.t} = 'null')"

    @property
    def as_string(self) -> str:
        if self._s is None:
            raise AssertionError("toString read on a key without a slot")
        return self._s

    @property
    def str_value(self) -> str:
        return (f"(CASE WHEN ({self.t} = 'string') "
                f"THEN try_variant_get({self.v}, '$', 'string') END)")

    @property
    def js_length(self) -> str:
        return (f"(CASE WHEN ({self.t} = 'string') "
                f"THEN length(try_variant_get({self.v}, '$', 'string')) "
                f"WHEN ({self.t} = 'array') "
                f"THEN size(try_variant_get({self.v}, '$', 'array<variant>')) "
                f"ELSE CAST(NULL AS INT) END)")

    @property
    def is_falsy(self) -> str:
        return (f"coalesce((CASE WHEN ({self.t} = 'boolean') "
                f"THEN (NOT try_variant_get({self.v}, '$', 'boolean')) "
                f"WHEN ({self.t} = 'number') "
                f"THEN (try_variant_get({self.v}, '$', 'double') = 0) "
                f"ELSE false END), false)")

    @property
    def num_value(self) -> str:
        return (f"(CASE WHEN ({self.t} = 'number') "
                f"THEN try_variant_get({self.v}, '$', 'double') END)")

    def elements(self, e: str) -> tuple[str, Scope]:
        """(the array, the scope of its element ``e``). JS
        (validationHelpers.js:41-44): an element that is typeof 'object' and
        non-null recurses directly (ARRAYS too — typeof [] is 'object');
        anything else is wrapped as ``{'': item}``. A member read on a
        non-object is SQL NULL → 'missing', exactly the wrap for every key
        but ``''``, which picks the element itself vs its ``''`` member."""
        def value_for(key: str) -> str:
            m = f"try_variant_get({e}, {json_path_sql(key)}, 'variant')"
            if key == "":
                sv_e = f"schema_of_variant({e})"
                direct = (f"(startswith({sv_e}, 'OBJECT') OR "
                          f"startswith({sv_e}, 'ARRAY') OR "
                          f"startswith({sv_e}, 'STRUCT'))")
                m = f"(CASE WHEN {direct} THEN {m} ELSE {e} END)"
            return m
        return (f"try_variant_get({self.v}, '$', 'array<variant>')",
                _variant_scope(value_for))

    def members(self) -> Scope:
        return _variant_scope(
            lambda key: f"try_variant_get({self.v}, {json_path_sql(key)}, "
                        f"'variant')")


def _variant_scope(value_for: Callable[[str], str]) -> Scope:
    """A nested VARIANT object level (array element or object):
    ``value_for(key)`` is the key's variant SQL. The scope computes every
    key's type label through ONE label expression and every string-checked
    key's toString through ONE formatter, let-binds both arrays over its
    checks, and each view reads its key's slots."""
    def scope(items, ctx):
        values = [value_for(k) for k, _ in items]
        skeys = [k for k, r in items if needs_js_string(r)]
        n = next(ctx["ids"])
        tl, ss = f"_tl{n}", f"_ss{n}"
        views = [_VariantView(v, f"{tl}[{i}]",
                              f"{ss}[{skeys.index(k)}]" if k in skeys
                              else None)
                 for i, ((k, _), v) in enumerate(zip(items, values))]

        def wrap(body: str) -> str:
            if skeys:
                body = _let(shared_to_string_sql(
                    [v for (k, _), v in zip(items, values) if k in skeys],
                    f"_ts{n}"), ss, body)
            return _let(shared_type_label_sql(values, f"_tv{n}"), tl, body)
        return views, wrap
    return scope


class _TypedView:
    """A typed (static-schema) field: ``c`` reads it (None: statically
    absent from the schema), ``dtype`` is its Spark type. A NULL value is
    absent too — typed rows cannot tell missing from null. The type label,
    ``typeof`` and ``actual`` are literals of the Spark type, so Catalyst
    folds every type test to a constant."""

    gate_elements = True
    is_null = "false"

    def __init__(self, c: str | None, dtype: T.DataType | None = None):
        self.c, self.dtype = c, dtype

    @property
    def present(self) -> str:
        return "false" if self.c is None else f"({self.c} IS NOT NULL)"

    @property
    def t(self) -> str:
        if self.c is None:
            return "'undefined'"
        return _lit(static_js_actual(self.dtype))

    actual = t

    @property
    def typeof(self) -> str:
        if self.c is None:
            return "'undefined'"
        return _lit(static_js_typeof(self.dtype))

    @property
    def as_string(self) -> str:
        if self.c is None:
            return "CAST(NULL AS STRING)"
        return typed_to_string_sql(self.c, self.dtype)

    @property
    def str_value(self) -> str:
        if isinstance(self.dtype, T.StringType):
            return self.c
        return "CAST(NULL AS STRING)"

    @property
    def js_length(self) -> str:
        if isinstance(self.dtype, T.StringType):
            return f"length({self.c})"
        if isinstance(self.dtype, T.ArrayType):
            return f"size({self.c})"
        return "CAST(NULL AS INT)"

    @property
    def is_falsy(self) -> str:
        if isinstance(self.dtype, T.BooleanType):
            return f"coalesce((NOT {self.c}), false)"
        if isinstance(self.dtype, (T.FloatType, T.DoubleType)):
            return f"coalesce((({self.c} = 0) OR isnan({self.c})), false)"
        if isinstance(self.dtype, _TYPED_NUMERIC):
            return f"coalesce(({self.c} = 0), false)"
        return "false"

    @property
    def num_value(self) -> str:
        if isinstance(self.dtype, _TYPED_NUMERIC):
            return f"CAST({self.c} AS DOUBLE)"
        return "CAST(NULL AS DOUBLE)"

    def elements(self, e: str) -> tuple[str, Scope] | None:
        """(the array, the scope of its element ``e``); None when the field
        is statically not an array."""
        if not isinstance(self.dtype, T.ArrayType):
            return None
        et = self.dtype.elementType
        if isinstance(et, T.StructType):
            return self.c, _struct_scope(e, et)
        if isinstance(et, T.ArrayType):
            # JS recurses DIRECTLY into array elements (typeof [] ===
            # 'object', js:41-45); string-key indexing into an array is
            # undefined, so every nested key — including '' — is missing
            return self.c, _ABSENT_SCOPE
        if isinstance(et, T.MapType):
            return self.c, _map_scope(e, et)
        # scalar (or null) elements are wrapped {'': item} (js:41-42): only
        # key '' resolves
        return self.c, _typed_scope(
            lambda key: _TypedView(e, et) if key == "" else _ABSENT)

    def members(self) -> Scope:
        if isinstance(self.dtype, T.StructType):
            return _struct_scope(self.c, self.dtype)
        if isinstance(self.dtype, T.MapType):
            return _map_scope(self.c, self.dtype)
        return _ABSENT_SCOPE


_ABSENT = _TypedView(None)


def _typed_scope(view_for: Callable[[str], _TypedView]) -> Scope:
    return lambda items, ctx: ([view_for(k) for k, _ in items], _same)


def _struct_field(base: str | None, dtype: T.DataType,
                  key: str) -> _TypedView:
    """Struct field ``key`` of ``base`` (None: a top-level column of a
    DataFrame whose schema is ``dtype``)."""
    if not isinstance(dtype, T.StructType) or key not in dtype.fieldNames():
        return _ABSENT
    c = _quote_ident(key) if base is None else f"{base}.{_quote_ident(key)}"
    return _TypedView(c, dtype[key].dataType)


def _struct_scope(base: str | None, dtype: T.DataType) -> Scope:
    return _typed_scope(lambda key: _struct_field(base, dtype, key))


def _map_scope(c: str, dtype: T.MapType) -> Scope:
    """A typed map as a JS object: a missing map key reads NULL, which the
    typed model maps to absent — the struct fields' missing-vs-null
    divergence."""
    return _typed_scope(lambda key: _TypedView(
        f"element_at({c}, {_lit(key)})", dtype.valueType))


_ABSENT_SCOPE = _typed_scope(lambda key: _ABSENT)


# ---------------------------------------------------------------------------
# The checks (validationHelpers.js:130-164)
# ---------------------------------------------------------------------------

def _trimmed_empty(fv) -> str:
    """value is a string AND trims to '' — via the cheap raw-string read."""
    return (f"(({fv.t} = 'string') AND "
            f"(trim(coalesce({fv.str_value}, '')) = ''))")


def _skip_unless(fv) -> str:
    """Optional keys run their checks only where this holds: present, not
    null and not a trimmed-empty string (js:148-153)."""
    skip = f"({fv.is_null} OR {_trimmed_empty(fv)})"
    return f"({fv.present} AND (NOT {skip}))"


def per_key_sql(fv, rule: dict, path: str, ctx: dict) -> str:
    """One key's violations: missing gate, optional-empty skip, then the
    independent value/type/length/regex/enum checks in spec order."""
    optional = _is_optional(rule)
    checks: list[str] = []
    if "value" in rule:
        checks.append(_check_value(rule, fv, path))
    if "type" in rule:
        checks.append(_check_type(rule, fv, path, optional, ctx))
    if "length" in rule:
        checks.append(_check_length(rule, fv, path))
    if "regex" in rule:
        checks.append(_check_regex(rule, fv, path))
    if "enum" in rule:  # engine extension (north rule): enum membership
        checks.append(_check_enum(rule, fv, path))
    body = _concat(checks)
    if optional:
        return _gate(_skip_unless(fv), body)
    missing = _one(path, "missing", _lit("field present"), _lit("field missing"))
    return f"(CASE WHEN (NOT {fv.present}) THEN {missing} ELSE {body} END)"


def _rule_items(rules: dict) -> list[tuple[str, dict]]:
    return [(k, r) for k, r in rules.items() if k != "version"]  # js:134


def scope_violations_sql(rules: dict, scope: Scope, parent: str,
                           ctx: dict) -> str:
    """The violations of one nested rule level (an array element or an
    object); ``parent`` is the parent path SQL."""
    items = _rule_items(rules)
    if not items:
        return _EMPTY
    views, wrap = scope(items, ctx)
    return wrap(_concat([
        per_key_sql(fv, r, f"concat({parent}, {_lit('.' + k)})", ctx)
        for (k, r), fv in zip(items, views)]))


def _check_type(rule: dict, fv, path: str, optional: bool, ctx: dict) -> str:
    expected = rule["type"]
    if expected == "string":  # js:10-31 — actual is PLAIN typeof here (js:18)
        wrong = _gate(f"({fv.t} != 'string')",
                      _one(path, "type", _lit("string"), fv.typeof))
        if optional:
            # js:14 — optional + null → no row even from the type check
            wrong = _gate(f"(NOT {fv.is_null})", wrong)
            empty = None
        else:
            empty = _gate(_trimmed_empty(fv),
                          _one(path, "type", _lit("non-empty string"),
                               _lit("empty string")))
        return _concat([wrong, empty])

    if expected == "array":  # js:33-51
        not_array = _one(path, "type", _lit("array"), fv.actual)
        nested = rule.get("nestedSchema")
        el = None
        if nested:
            n = next(ctx["ids"])
            e, i = f"_el{n}", f"_ix{n}"
            el = fv.elements(e)
        if el is not None:
            arr, scope = el
            ipath = f"concat({path}, '[', CAST({i} AS STRING), ']')"
            sub = scope_violations_sql(nested, scope, ipath, ctx)
            nested_v = f"flatten(transform({arr}, ({e}, {i}) -> {sub}))"
            if fv.gate_elements:
                # clean-element gate (round 6): on the TYPED path most
                # elements are clean, their conditions fold to a handful of
                # cheap comparisons (typeof/actual are literals), and the
                # violation-row machinery (struct + array + concat per
                # check, all interpreted) dominated the scan (measured
                # 5.0 s → 0.7 s conditions-only at 31.5M spans). `forall`
                # short-circuits it for all-clean arrays; a dirty element
                # falls through to the full build, so output is identical
                # (the conditions are the checks' own helpers)
                ok = f"forall({arr}, {e} -> {_rules_ok(nested, scope, ctx)})"
                nested_v = (f"(CASE WHEN {_truthy(ok)} THEN {_EMPTY} "
                            f"ELSE {nested_v} END)")
            return (f"(CASE WHEN ({fv.t} != 'array') THEN {not_array} "
                    f"ELSE coalesce({nested_v}, {_EMPTY}) END)")
        return _gate(f"({fv.t} != 'array')", not_array)

    if expected == "object":  # js:53-67
        bad = _gate(_not_object(fv), _one(path, "type", _lit("object"),
                                          fv.actual))
        nested = rule.get("nestedSchema")
        if not nested:
            return bad
        sub = scope_violations_sql(nested, fv.members(), path, ctx)
        return f"(CASE WHEN {_is_object(fv)} THEN {sub} ELSE {bad} END)"

    # generic (number / boolean / anything): array-aware actual (js:69-73)
    exp_s = py_js_to_string(expected)
    return _gate(f"({fv.actual} != {_lit(exp_s)})",
                 _one(path, "type", _lit(exp_s), fv.actual))


def _not_object(fv) -> str:
    return f"({fv.is_null} OR ({fv.actual} != 'object'))"


def _is_object(fv) -> str:
    return (f"({fv.present} AND (NOT {fv.is_null}) "
            f"AND ({fv.actual} = 'object'))")


def _value_neq(rule: dict, fv) -> str:
    """The value check's failure condition (JS toString inequality)."""
    expected = rule["value"]
    expected_s = py_js_to_string(expected)
    if expected_s is None:
        return f"({fv.as_string} IS NOT NULL)"  # undefined !== undefined
    if (isinstance(expected, (int, float)) and not isinstance(expected, bool)
            and abs(expected) < 1.8e308):  # NaN and beyond-double: strings
        # numeric literal fast path: String(x) is injective on doubles, so
        # for a NUMBER actual, toString equality ⇔ numeric equality — the
        # (expensive) exact formatter then only evaluates on FAILING rows
        # (the violation's actual string) and on non-number actuals
        return (f"(CASE WHEN ({fv.typeof} = 'number') "
                f"THEN ({fv.num_value} != CAST('{float(expected)!r}' AS DOUBLE)) "
                f"ELSE (({fv.as_string} IS NULL) OR "
                f"({fv.as_string} != {_lit(expected_s)})) END)")
    return (f"(({fv.as_string} IS NULL) OR "
            f"({fv.as_string} != {_lit(expected_s)}))")


def _check_value(rule: dict, fv, path: str) -> str:
    expected_s = py_js_to_string(rule["value"])  # driver-side toString
    return _gate(_value_neq(rule, fv),
                 _one(path, "value", _lit(expected_s), fv.as_string))


def _length_neq(rule: dict, fv) -> tuple[str, str]:
    """(failure condition, JS-coerced actual length). ``(v || []).length``
    (js:78): EVERY falsy value coerces to [] — null, false, 0, NaN report
    length 0 ('' is falsy too but its own length is 0); non-string/array
    truthy values have undefined length."""
    expected = int(rule["length"])  # parseInt (js:77)
    actual = (f"(CASE WHEN ({fv.is_null} OR {fv.is_falsy}) THEN 0 "
              f"ELSE {fv.js_length} END)")
    return f"(({actual} IS NULL) OR ({actual} != {expected}))", actual


def _check_length(rule: dict, fv, path: str) -> str:
    neq, actual = _length_neq(rule, fv)
    return _gate(neq, _one(path, "length", _lit(str(int(rule["length"]))),
                           f"CAST({actual} AS STRING)"))


def _enum_ok(rule: dict, fv) -> str:
    """Membership by JS toString equality, consistent with the value check
    (engine extension; pre-coalesce)."""
    allowed = [py_js_to_string(e) for e in rule["enum"]]
    non_null = [a for a in allowed if a is not None]
    if non_null:
        ok = f"({fv.as_string} IN ({', '.join(_lit(a) for a in non_null)}))"
    else:
        ok = "false"
    if any(a is None for a in allowed):
        ok = f"({ok} OR ({fv.as_string} IS NULL))"
    return ok


def _check_enum(rule: dict, fv, path: str) -> str:
    allowed = [py_js_to_string(e) for e in rule["enum"]]
    expected = ",".join("" if a is None else a for a in allowed)
    return _gate(f"(NOT {_truthy(_enum_ok(rule, fv))})",
                 _one(path, "enum", _lit(expected), fv.as_string))


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


def _regex_empty(fv) -> str:
    return f"({_trimmed_empty(fv)} OR {fv.is_null})"


def _regex_match(rule: dict, fv) -> str:
    # String(undefined) is 'undefined' (js:124)
    return (f"(coalesce({fv.as_string}, 'undefined') RLIKE "
            f"{_lit(_regex_java_pattern(rule))})")


def _check_regex(rule: dict, fv, path: str) -> str:
    pattern = rule["regex"]
    fail = _gate(f"(NOT {_regex_match(rule, fv)})",
                 _one(path, "regex", _lit(pattern), fv.as_string))
    return (f"(CASE WHEN {_regex_empty(fv)} "
            f"THEN {_one(path, 'regex', _lit(pattern), _lit('empty_value'))} "
            f"ELSE {fail} END)")


# ---------------------------------------------------------------------------
# Clean-element gate: "no violation" conditions, built from the same
# condition helpers as the checks above. May be conservatively false (that
# only costs the full build) but never true for a violating element.
# ---------------------------------------------------------------------------

def _and(conds: list[str]) -> str:
    return "(" + " AND ".join(conds) + ")" if len(conds) > 1 else conds[0]


def _rules_ok(rules: dict, scope: Scope, ctx: dict) -> str:
    """True ⇒ :func:`scope_violations_sql` over the same rules and scope
    yields an empty array."""
    items = _rule_items(rules)
    if not items:
        return "true"
    views, wrap = scope(items, ctx)
    return wrap(_and([_key_ok(fv, r, ctx) for (_, r), fv in zip(items, views)]))


def _key_ok(fv, rule: dict, ctx: dict) -> str:
    """True ⇒ :func:`per_key_sql` emits no violation for this field."""
    optional = _is_optional(rule)
    oks: list[str] = []
    if "value" in rule:
        oks.append(f"(NOT {_truthy(_value_neq(rule, fv))})")
    if "type" in rule:
        oks.append(_type_ok(rule, fv, optional, ctx))
    if "length" in rule:
        oks.append(f"(NOT {_truthy(_length_neq(rule, fv)[0])})")
    if "regex" in rule:
        oks.append(f"((NOT {_truthy(_regex_empty(fv))}) AND "
                   f"{_truthy(_regex_match(rule, fv))})")
    if "enum" in rule:
        oks.append(_truthy(_enum_ok(rule, fv)))
    body = _and(oks) if oks else "true"
    if optional:
        return f"((NOT {_truthy(_skip_unless(fv))}) OR {body})"
    return f"((NOT {_truthy(f'(NOT {fv.present})')}) AND {body})"


def _type_ok(rule: dict, fv, optional: bool, ctx: dict) -> str:
    """True ⇒ :func:`_check_type` emits no violation."""
    expected = rule["type"]
    if expected == "string":
        wrong = _truthy(f"({fv.t} != 'string')")
        if optional:
            return f"(NOT ({_truthy(f'(NOT {fv.is_null})')} AND {wrong}))"
        return f"((NOT {wrong}) AND (NOT {_truthy(_trimmed_empty(fv))}))"
    if expected == "array":
        is_array = f"(NOT {_truthy(f'({fv.t} != {_lit(expected)})')})"
        nested = rule.get("nestedSchema")
        e = f"_el{next(ctx['ids'])}" if nested else None
        el = fv.elements(e) if nested else None
        if el is None:
            return is_array
        arr, scope = el
        ok = f"forall({arr}, {e} -> {_rules_ok(nested, scope, ctx)})"
        # a NULL array flattens to NULL, coalesced to no rows
        return f"({is_array} AND (({arr} IS NULL) OR {_truthy(ok)}))"
    if expected == "object":
        nested = rule.get("nestedSchema")
        if not nested:
            return f"(NOT {_truthy(_not_object(fv))})"
        return (f"(CASE WHEN {_is_object(fv)} "
                f"THEN {_rules_ok(nested, fv.members(), ctx)} "
                f"ELSE (NOT {_truthy(_not_object(fv))}) END)")
    wrong = f"({fv.actual} != {_lit(py_js_to_string(expected))})"
    return f"(NOT {_truthy(wrong)})"


# ---------------------------------------------------------------------------
# One top-level key's check text
# ---------------------------------------------------------------------------

def _key_sql(key: str, rule: dict, fv) -> str:
    return per_key_sql(fv, rule, _lit(key), {"ids": itertools.count()})


def top_key_expr_sql(key: str, rule: dict, v: str, t: str,
                     s: str | None) -> str:
    """One top-level rule key's full violations expression over its staged
    VARIANT columns (:func:`prebind_fields`): ``v`` reads the key's variant,
    ``t`` its type label slot, ``s`` its toString slot (None when no check
    reads it) — the unit the staged dispatch memoizes per (key, rule)."""
    return _key_sql(key, rule, _VariantView(v, t, s))


def typed_key_sql(key: str, rule: dict, schema: T.StructType) -> str:
    """One top-level rule key's full violations expression over the typed
    columns of a DataFrame with ``schema``."""
    return _key_sql(key, rule, _struct_field(None, schema, key))


def rule_cache_key(key: str, rule: dict) -> tuple:
    return (key, json.dumps(rule, sort_keys=True, default=str))


# ---------------------------------------------------------------------------
# VARIANT staging
# ---------------------------------------------------------------------------

class PreboundVariantAccessor:
    """Names of the staged VARIANT columns (:func:`prebind_fields`).

    The staged path of :func:`validate_json` / :func:`validate_multi`
    materializes, ONCE per distinct top-level field across the whole
    corpus, a struct of the field's variant value and its
    ``schema_of_variant`` (``structs``: key → column name, ``__f_i``). Two
    shared array columns follow, each built by ONE expression instance
    however many fields it covers: ``__f_type`` holds every field's JS type
    label (slot ``i`` for ``__f_i``), and ``__f_str`` the JS toString of
    every field a value/regex/enum check reads (``slots``: key → index).
    Per-type checks reference these small columns instead of inlining the
    ``try_parse_json``/``try_variant_get``/typeof/Number::toString text per
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

    def view_sql(self, key: str) -> tuple[str, str, str | None]:
        """SQL reading ``key``'s staged (variant, type label, toString);
        the toString is None when no check needs it."""
        j = self.slots.get(key)
        return (f"`{self.structs[key]}`.v",
                f"`{self.types}`[{self._type_slot[key]}]",
                None if j is None else f"`{self.shared}`[{j}]")

    def signature(self) -> tuple:
        """Everything a memoized check built over these columns reads by
        name: the struct names and the shared columns' slot layouts."""
        return (tuple(sorted(self.structs.items())), self.types, self.shared,
                tuple(sorted(self.slots.items())))


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


# session-scoped memo of per-key check Columns. The SQL text is a pure
# function of (staged column refs, key, rule), and the unresolved Column
# F.expr returns is immutable and reusable across plans within one JVM — so
# a steady-state driver (same rule corpus, batch after batch) pays the text
# generation + ANTLR parse ONCE per distinct check instead of per plan build
# (measured: GA4 36-schema steady build 4.3 s → sub-second). The slot is
# part of the key because it depends on the whole corpus' string-key set:
# the same (key, rule) reads a different slot under another corpus. Keyed on
# applicationId so a restarted SparkContext never sees a stale JavaObject;
# bounded so unbounded rule-set churn can't leak.
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


def _variant_check(key: str, rule: dict, acc: PreboundVariantAccessor,
                   session_tag: str | None) -> Column:
    """One top-level key's check Column over the staged columns, memoized
    per (session, staged refs, key, rule)."""
    refs = acc.view_sql(key)
    # session_tag None means we cannot prove which JVM we are on
    # (getActiveSession is thread-local) — caching would risk serving a
    # Column whose JavaObject belongs to a stopped JVM, so skip it
    gk = ((session_tag,) + refs + rule_cache_key(key, rule)
          if session_tag is not None else None)
    col = _TOP_CHECK_CACHE.get(gk) if gk is not None else None
    if col is None:
        col = F.expr(top_key_expr_sql(key, rule, *refs))
        if gk is not None:
            if len(_TOP_CHECK_CACHE) >= _TOP_CHECK_CACHE_MAX:
                _TOP_CHECK_CACHE.clear()
            _TOP_CHECK_CACHE[gk] = col
    return col


# ---------------------------------------------------------------------------
# Public entry points
# ---------------------------------------------------------------------------

def _empty() -> Column:
    return F.array().cast(VIOLATION_ARRAY_DDL)


def _concat_cols(parts: list[Column]) -> Column:
    if not parts:
        return _empty()
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def validate_typed(df: DataFrame, rules: dict,
                   out_col: str = "violations") -> DataFrame:
    """Validate typed (nested) columns of ``df`` against ``rules``.

    One projection; no shuffle; whole-stage codegen end to end.
    """
    schema = df.schema
    return df.withColumn(out_col, F.expr(_concat([
        typed_key_sql(k, r, schema) for k, r in _rule_items(rules)])))


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
                  out_col: str = "violations") -> DataFrame:
    """Validate a JSON-string column with full JS fidelity via VARIANT.

    The per-field variant extraction — the field's value, its
    ``schema_of_variant``, its JS type label and (where a value/regex/enum
    check needs it) its JS toString — is staged in explicit projections
    first (:func:`prebind_fields`). The VARIANT path has NO whole-stage
    codegen, and interpreted evaluation does not deduplicate subexpressions
    across ``CASE`` branches, so inlined every check would re-evaluate the
    ``try_parse_json``/``try_variant_get``/Number::toString text per row;
    staged, each evaluates once per row per field (measured ~3× faster at
    sf0.1 — the round-2 BENCH regression).

    Malformed JSON does NOT abort the job (one bad row must not kill a
    10^12-row pass): such rows get a single ``invalid_request`` violation —
    the reference 400s them (validator_src/index.js:28-37).
    """
    _check_staging_names(df, json_col)
    keys, skeys = _prebind_key_sets([rules])
    staged, acc, bad = prebind_fields(df, json_col, keys, skeys)
    tag = _session_tag()
    out = _concat_cols([_variant_check(k, r, acc, tag)
                        for k, r in _rule_items(rules)])
    return (staged.withColumn(out_col,
                              F.when(bad, F.expr(_INVALID_JSON)).otherwise(out))
            .drop(*[c for c in staged.columns if c.startswith("__f_")]))


def _staged_check_chain(staged: DataFrame,
                        rules_by_name: dict[str, dict],
                        name_col: str,
                        acc: PreboundVariantAccessor | None = None,
                        skip_rows: Column | None = None,
                        skip_sig: str | None = None) -> tuple[DataFrame,
                                                              Column]:
    """Stage each DISTINCT (key, rule) check as ONE projected column and
    dispatch event types over references to those columns. ``acc`` names
    the staged VARIANT columns the checks read; None compiles them over the
    typed columns of ``staged``.

    Why (VERDICT r4 #3): a chain that INLINES each check per event type
    ships N copies of the tree to the JVM — analysis cost is
    O(types × subtree), and the GA4 corpus' nested-items subtree alone made
    that ~4.5 s per plan build. Staged, the JVM analyzes each distinct
    subtree exactly once and the dispatch chain is a few hundred tiny
    column references.

    Runtime shape: each ``__chk_i`` is gated on an integer type-id InSet
    (one ``__ti`` compare chain per row, then O(1) set probes), so a row
    still evaluates exactly the checks its own event type declares — rows
    of other types, UNKNOWN types (``__ti = -1``), and rows matching
    ``skip_rows`` (the staged malformed-JSON flag, whose dispatch branch
    never reads the checks) see the gate fail and pay only the probe. The
    optimizer keeps the staging Project because the shared columns are
    referenced by many dispatch branches (CollapseProject refuses to
    duplicate non-trivial expressions); a check used by a single type may
    get re-inlined, which costs nothing — it was analyzed once either way.

    On the VARIANT path the (``__ti``, gated projection, dispatch) triple is
    additionally memoized per (session, corpus, staged-name map): every
    Column in it is resolvable BY NAME, so a steady-state driver
    re-validating batch after batch reuses the whole build and pays only
    the per-plan JVM analysis.

    Returns (staged df with ``__ti``/``__chk_*`` columns, dispatch Column).
    """
    type_names = list(rules_by_name)
    tag = _session_tag() if acc is not None else None
    memo_key = None
    # tag None ⇒ unknown JVM (thread-local getActiveSession) — never cache
    if tag is not None:
        memo_key = (tag, name_col, skip_sig, acc.signature(),
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

    schema = staged.schema if acc is None else None
    reg: dict = {}  # canonical check -> {"name", "col", "tids"}
    per_type: dict[str, list[str]] = {}
    for tid, (tname, rules) in enumerate(rules_by_name.items()):
        cols = per_type.setdefault(tname, [])
        for key, rule in _rule_items(rules):
            ck = rule_cache_key(key, rule)
            ent = reg.get(ck)
            if ent is None:
                ent = reg[ck] = {
                    "name": f"__chk_{len(reg)}",
                    "col": (F.expr(typed_key_sql(key, rule, schema))
                            if acc is None
                            else _variant_check(key, rule, acc, tag)),
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
        c = _concat_cols([F.col(n) for n in per_type[tname]])
        cond = F.col("__ti") == tid
        expr = F.when(cond, c) if expr is None else expr.when(cond, c)
    expr = expr.otherwise(F.lit(None).cast(VIOLATION_ARRAY_DDL))

    if memo_key is not None:
        if len(_CHAIN_CACHE) >= _CHAIN_CACHE_MAX:
            _CHAIN_CACHE.clear()
        _CHAIN_CACHE[memo_key] = (ti, proj, expr)
    return staged2, expr


def validate_multi(df: DataFrame, rules_by_name: dict[str, dict],
                   name_col: str, json_col: str | None = None,
                   out_col: str = "violations",
                   status_col: str = "status") -> DataFrame:
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

    JSON path (``json_col``): the per-field variant extraction is staged
    once for the whole corpus (:func:`prebind_fields`), so each of its
    distinct top-level fields generates code once instead of once per event
    type — measured ~3x faster fresh-plan compile on the 36-schema GA4
    corpus (BENCH/CODEGEN.md).

    Strategy guidance (measured, BENCH/CODEGEN.md): the staged chain is the
    right default at any corpus size tested. The union fallback
    (:func:`validate_multi_union`) benchmarked WORSE (37 branch plans); use
    it only when per-type plans must be isolated (e.g. per-type sinks).

    Raises ``ValueError`` on an empty ``rules_by_name`` and on input columns
    named like the staging columns (``__f_*``, ``__chk_*``, ``__ti``).
    """
    if not rules_by_name:
        raise ValueError("validate_multi needs at least one event type in "
                         "rules_by_name (got an empty corpus)")
    _check_staging_names(df, name_col, json_col)

    if json_col is None:
        staged2, dispatch = _staged_check_chain(df, rules_by_name, name_col)
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
        # fields whose toString any rule set needs (value/regex/enum
        # checks) each get a slot of the shared toString column
        keys, skeys = _prebind_key_sets(list(rules_by_name.values()))
        staged, acc, bad = prebind_fields(df, json_col, keys, skeys)
        staged2, dispatch = _staged_check_chain(
            staged, rules_by_name, name_col, acc,
            skip_rows=bad, skip_sig="bad")
        out = staged2.withColumn(
            out_col,
            F.when(known & bad, F.expr(_INVALID_JSON)).otherwise(dispatch)
        ).drop("__ti", *[c for c in staged2.columns
                         if c.startswith(("__f_", "__chk_"))])
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
    of a UNION over type-filtered scans instead of one giant dispatch chain
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
