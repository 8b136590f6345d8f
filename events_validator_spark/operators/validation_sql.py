"""Textual twin of the VARIANT-path check compiler (VERDICT r3 #7).

The Column-based compiler in ``validation.py`` is the semantic source of
truth, but building its per-key check subtrees costs one py4j round trip per
expression node — profiling the 36-schema GA4 corpus showed 96k round trips
≈ 44 s of a 54 s fresh plan build spent in driver-side socket chatter. This
module generates the SAME expressions as SQL text (explicit ``x ->`` lambda
syntax), so each per-key subtree costs ONE ``F.expr`` parse on the JVM.

Equivalence contract: every check here mirrors its Column twin in
``validation.py`` (same check order, same gating, same NULL semantics on
present fields); the results are pinned by
tests/test_validation.py::test_textual_compiler_matches_column_compiler
(full-corpus differential) plus every staged-path driver oracle. Anything
not cleanly expressible as text (non-finite value literals) raises
:class:`TextualFallback` and the caller builds that key with the Column
compiler instead — a per-key fallback, never a correctness trade.

Unlike the Column twin, the text never re-inlines a field's type test or
its JS toString per check: every scope (the staged top level, each array
element, each nested object) computes its keys' type labels through ONE
label expression and its string-checked keys' toStrings through ONE
formatter, and checks read slots of those arrays. Each field is still
labelled and formatted once per row, but the plan carries one copy of each
expression per scope instead of one per check.

Scale note: this is DRIVER-side plan-build cost only. At 10^12 rows the
plan builds once and runs for hours — but the fresh-plan latency is what
every driver restart and every rule-set edit pays, and 40+ s of py4j
chatter per restart is real operational pain the textual path removes.
"""

from __future__ import annotations

import itertools
import json

from events_validator_spark.functions.js_compat import (
    js_number_to_string_sql,
    js_regex_to_java,
    py_js_to_string,
    validate_java_regex,
)

VIOLATION_ARRAY_DDL = \
    "array<struct<field:string,error_type:string,expected:string,actual:string>>"
_NUM_RE = "^(BIGINT|INT|SMALLINT|TINYINT|DOUBLE|FLOAT|DECIMAL)"
_EMPTY = f"CAST(array() AS {VIOLATION_ARRAY_DDL})"


class TextualFallback(Exception):
    """Raised when a rule cannot be textualized; caller uses the Column path."""


def _lit(s: str | None) -> str:
    """SQL string literal (NULL for None)."""
    if s is None:
        return "CAST(NULL AS STRING)"
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _one(field: str, error_type: str, expected: str, actual: str) -> str:
    """1-element violation array; expected/actual are SQL exprs (use _lit)."""
    return (f"array(named_struct("
            f"'field', CAST({field} AS STRING), "
            f"'error_type', {_lit(error_type)}, "
            f"'expected', CAST({expected} AS STRING), "
            f"'actual', CAST({actual} AS STRING)))")


def _gate(cond: str, arr: str) -> str:
    return f"(CASE WHEN {cond} THEN {arr} ELSE {_EMPTY} END)"


def _concat(parts: list[str | None]) -> str:
    parts = [p for p in parts if p is not None]
    if not parts:
        return _EMPTY
    if len(parts) == 1:
        return parts[0]
    return f"concat({', '.join(parts)})"


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
    'boolean', 'number', 'array' or 'object' — the branches of
    validation._variant_typeof with JSON null and arrays kept apart, so
    plain and array-aware ``typeof`` both derive from it by a relabel."""
    return (f"(CASE WHEN ({v} IS NULL) THEN 'undefined' "
            f"WHEN ({sv} = 'VOID') THEN 'null' "
            f"WHEN ({sv} = 'STRING') THEN 'string' "
            f"WHEN ({sv} = 'BOOLEAN') THEN 'boolean' "
            f"WHEN ({sv} RLIKE '{_NUM_RE}') THEN 'number' "
            f"WHEN startswith({sv}, 'ARRAY') THEN 'array' "
            f"ELSE 'object' END)")


def _let(value: str, var: str, body: str) -> str:
    """``body`` with ``var`` bound to ``value`` (evaluated once per row)."""
    return f"(transform(array({value}), {var} -> {body}))[0]"


def variant_to_string_sql(v: str, depth: int = 3) -> str:
    """Mirror of validation._variant_to_string (JS ``v?.toString()``)."""
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


class _TextView:
    """Textual mirror of validation._VariantView (all members are SQL text).

    ``v`` is the field's variant; ``t`` its slot in the scope's shared type
    label array (:func:`shared_type_label_sql`); ``s`` its slot in the
    scope's shared toString array (:func:`shared_to_string_sql`) — only
    keys with value/regex/enum checks have one, and only those checks read
    ``as_string``. Every check is evaluated only where the field is present
    (non-NULL variant), where the labels agree branch for branch with the
    Column twin's ``schema_of_variant`` tests."""

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


def _trimmed_empty(fv: _TextView) -> str:
    return (f"(({fv.t} = 'string') AND "
            f"(trim(coalesce({fv.str_value}, '')) = ''))")


def _is_optional(rule: dict) -> bool:
    return rule.get("optional") is True or rule.get("required") is False


def per_key_sql(fv: _TextView, rule: dict, path: str, ctx: dict) -> str:
    """Mirror of validation._per_key: missing gate, optional-empty skip,
    then value/type/length/regex/enum in spec order."""
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
    if "enum" in rule:
        checks.append(_check_enum(rule, fv, path))
    body = _concat(checks)
    if optional:
        skip = f"({fv.is_null} OR {_trimmed_empty(fv)})"
        return _gate(f"({fv.present} AND (NOT {skip}))", body)
    missing = _one(path, "missing", _lit("field present"), _lit("field missing"))
    return f"(CASE WHEN (NOT {fv.present}) THEN {missing} ELSE {body} END)"


def compile_violations_sql(rules: dict, value_for: "callable", parent: str,
                           ctx: dict) -> str:
    """Mirror of validation.compile_violations for one nested scope (an
    array element or an object): ``value_for(key)`` is the key's variant
    SQL; ``parent`` is the parent path SQL.

    Like the top-level staging, the scope computes every key's type label
    through ONE label expression and every string-checked key's toString
    through ONE formatter, let-binds both arrays over the scope's checks,
    and each check reads its key's slots."""
    items = [(k, r) for k, r in rules.items() if k != "version"]
    if not items:
        return _EMPTY
    values = [value_for(k) for k, _ in items]
    skeys = [k for k, r in items if needs_js_string(r)]
    n = next(ctx["ids"])
    tl, ss = f"_tl{n}", f"_ss{n}"
    body = _concat([
        per_key_sql(_TextView(v, f"{tl}[{i}]",
                              f"{ss}[{skeys.index(k)}]" if k in skeys
                              else None),
                    r, f"concat({parent}, {_lit('.' + k)})", ctx)
        for i, ((k, r), v) in enumerate(zip(items, values))])
    if skeys:
        body = _let(shared_to_string_sql(
            [v for (k, _), v in zip(items, values) if k in skeys],
            f"_ts{n}"), ss, body)
    return _let(shared_type_label_sql(values, f"_tv{n}"), tl, body)


def _check_type(rule: dict, fv: _TextView, path: str, optional: bool,
                ctx: dict) -> str:
    expected = rule["type"]
    if expected == "string":
        wrong = _gate(f"({fv.t} != 'string')",
                      _one(path, "type", _lit("string"), fv.typeof))
        if optional:
            wrong = _gate(f"(NOT {fv.is_null})", wrong)
            empty = None
        else:
            empty = _gate(_trimmed_empty(fv),
                          _one(path, "type", _lit("non-empty string"),
                               _lit("empty string")))
        return _concat([wrong, empty])

    if expected == "array":
        not_array = _one(path, "type", _lit("array"), fv.actual)
        nested = rule.get("nestedSchema")
        if nested:
            n = next(ctx["ids"])
            e, i = f"_el{n}", f"_ix{n}"
            ipath = f"concat({path}, '[', CAST({i} AS STRING), ']')"

            def elem_value(key: str) -> str:
                # mirror of _VariantElement._get: non-'' keys read the member
                # (SQL NULL on non-objects ⇒ 'missing', exactly the JS scalar
                # wrap); '' dynamically picks the element itself vs its ''
                # member
                m = f"try_variant_get({e}, {json_path_sql(key)}, 'variant')"
                if key == "":
                    sv_e = f"schema_of_variant({e})"
                    direct = (f"(startswith({sv_e}, 'OBJECT') OR "
                              f"startswith({sv_e}, 'ARRAY') OR "
                              f"startswith({sv_e}, 'STRUCT'))")
                    m = f"(CASE WHEN {direct} THEN {m} ELSE {e} END)"
                return m

            sub = compile_violations_sql(nested, elem_value, ipath, ctx)
            arr = f"try_variant_get({fv.v}, '$', 'array<variant>')"
            nested_v = f"flatten(transform({arr}, ({e}, {i}) -> {sub}))"
            return (f"(CASE WHEN ({fv.t} != 'array') THEN {not_array} "
                    f"ELSE coalesce({nested_v}, {_EMPTY}) END)")
        return _gate(f"({fv.t} != 'array')", not_array)

    if expected == "object":
        bad = _gate(f"({fv.is_null} OR ({fv.actual} != 'object'))",
                    _one(path, "type", _lit("object"), fv.actual))
        nested = rule.get("nestedSchema")
        if not nested:
            return bad

        def obj_value(key: str) -> str:
            return f"try_variant_get({fv.v}, {json_path_sql(key)}, 'variant')"

        sub = compile_violations_sql(nested, obj_value, path, ctx)
        ok = (f"({fv.present} AND (NOT {fv.is_null}) "
              f"AND ({fv.actual} = 'object'))")
        return f"(CASE WHEN {ok} THEN {sub} ELSE {bad} END)"

    # generic (number / boolean / anything): array-aware actual
    exp_s = py_js_to_string(expected)
    return _gate(f"({fv.actual} != {_lit(exp_s)})",
                 _one(path, "type", _lit(exp_s), fv.actual))


def _check_value(rule: dict, fv: _TextView, path: str) -> str:
    expected = rule["value"]
    expected_s = py_js_to_string(expected)
    if expected_s is None:
        neq = f"({fv.as_string} IS NOT NULL)"
    elif (isinstance(expected, (int, float)) and not isinstance(expected, bool)
          and abs(expected) < 1.8e308):
        f = float(expected)
        if f != f:  # NaN literal: not textualizable, mirror-safe fallback
            raise TextualFallback("NaN value literal")
        neq = (f"(CASE WHEN ({fv.typeof} = 'number') "
               f"THEN ({fv.num_value} != CAST('{f!r}' AS DOUBLE)) "
               f"ELSE (({fv.as_string} IS NULL) OR "
               f"({fv.as_string} != {_lit(expected_s)})) END)")
    else:
        neq = (f"(({fv.as_string} IS NULL) OR "
               f"({fv.as_string} != {_lit(expected_s)}))")
    return _gate(neq, _one(path, "value", _lit(expected_s), fv.as_string))


def _check_length(rule: dict, fv: _TextView, path: str) -> str:
    expected = int(rule["length"])
    actual = (f"(CASE WHEN ({fv.is_null} OR {fv.is_falsy}) THEN 0 "
              f"ELSE {fv.js_length} END)")
    neq = f"(({actual} IS NULL) OR ({actual} != {expected}))"
    return _gate(neq, _one(path, "length", _lit(str(expected)),
                           f"CAST({actual} AS STRING)"))


def _check_enum(rule: dict, fv: _TextView, path: str) -> str:
    allowed = [py_js_to_string(e) for e in rule["enum"]]
    expected = ",".join("" if a is None else a for a in allowed)
    non_null = [a for a in allowed if a is not None]
    if non_null:
        ok = f"({fv.as_string} IN ({', '.join(_lit(a) for a in non_null)}))"
    else:
        ok = "false"
    if any(a is None for a in allowed):
        ok = f"({ok} OR ({fv.as_string} IS NULL))"
    return _gate(f"(NOT coalesce({ok}, false))",
                 _one(path, "enum", _lit(expected), fv.as_string))


def _check_regex(rule: dict, fv: _TextView, path: str) -> str:
    pattern = rule["regex"]
    java_pat = js_regex_to_java(pattern)
    err = validate_java_regex(java_pat)
    if err is not None:
        raise ValueError(
            f"rule regex {pattern!r} does not compile as a Java regex "
            f"({err}); rewrite it in the common JS/Java subset "
            "(see functions/js_compat.js_regex_to_java)")
    is_empty = f"({_trimmed_empty(fv)} OR {fv.is_null})"
    s = fv.as_string  # a slot read: cheap to reference twice
    fail = _gate(f"(NOT (coalesce({s}, 'undefined') RLIKE {_lit(java_pat)}))",
                 _one(path, "regex", _lit(pattern), s))
    return (f"(CASE WHEN {is_empty} "
            f"THEN {_one(path, 'regex', _lit(pattern), _lit('empty_value'))} "
            f"ELSE {fail} END)")


def top_key_expr_sql(key: str, rule: dict, v: str, t: str,
                     s: str | None) -> str:
    """One top-level rule key's full violations expression over its staged
    columns (``prebind_fields``): ``v`` reads the key's variant, ``t`` its
    type label slot, ``s`` its toString slot (None when no check reads it)
    — the unit the Column compiler memoizes per (key, rule)."""
    ctx = {"ids": itertools.count()}
    return per_key_sql(_TextView(v, t, s), rule, _lit(key), ctx)


def rule_cache_key(key: str, rule: dict) -> tuple:
    return (key, json.dumps(rule, sort_keys=True, default=str))
