"""Property-based differential test: hypothesis-generated events and RULE SPECS
must validate identically under the Spark compiler and the pure-Python oracle.

Events are generated in one batch and validated in ONE Spark job (per-example
Spark jobs would be pathologically slow), so hypothesis drives diversity while
Spark cost stays constant.
"""

import json

from hypothesis import given, settings, strategies as st

from events_validator_spark.js_oracle import check_with_schema
from events_validator_spark.operators.validation import (
    validate_json, validate_multi, validate_multi_union,
)

FIELDS = ["alpha", "beta", "gamma", "delta", ""]

# FULL float range: Number::toString is implemented exactly (shortest digits
# via round-trip search + the ECMA boundary rules), so no range restriction
# remains. NaN/Infinity stay excluded only because JSON cannot carry them.
scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(alphabet="ab c_1.ü", max_size=8),
)

values = st.recursive(
    scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.sampled_from(FIELDS), children, max_size=4)),
    max_leaves=10)

events = st.dictionaries(st.sampled_from(FIELDS), values, max_size=5)


def rule_strategy(depth=0, keys=FIELDS):
    base = {
        "type": st.sampled_from(["string", "number", "boolean", "array",
                                 "object", "weird"]),
        "optional": st.booleans(),
        "required": st.booleans(),
        "value": scalars,
        "length": st.integers(min_value=0, max_value=5),
        "regex": st.sampled_from(["^a", "b+c", "[0-9]{2}", "^$", "\\d"]),
        "enum": st.lists(scalars, min_size=1, max_size=3),
    }
    opt = {k: st.one_of(st.none(), v) for k, v in base.items()}
    d = st.fixed_dictionaries({}, optional=opt).map(
        lambda r: {k: v for k, v in r.items() if v is not None})
    if depth < 1:
        nested = st.dictionaries(st.sampled_from(keys),
                                 rule_strategy(depth + 1, keys), max_size=2)
        d = st.tuples(d, st.one_of(st.none(), nested)).map(
            lambda t: {**t[0], **({"nestedSchema": t[1]} if t[1] else {})})
    return d


rules_strategy = st.dictionaries(
    st.sampled_from(FIELDS + ["version"]), rule_strategy(), max_size=4)


@settings(max_examples=50, deadline=None, derandomize=True)
@given(st.lists(events, min_size=1, max_size=4))
def _collect_events(acc, evs):
    acc.extend(evs)


@settings(max_examples=18, deadline=None, derandomize=True)
@given(rules_strategy)
def _collect_specs(acc, spec):
    acc.append(spec)


def test_hypothesis_differential(spark):
    """Cross EVERY generated event with EVERY generated rule spec: each spec
    compiles once (rule compilation is the expensive step — the exact
    Number::toString tree is ~0.3 s of py4j per value/regex/enum field) and
    validates the whole event batch in one job, so coverage is
    #specs × #events differential comparisons for #specs compiles."""
    evs: list[dict] = []
    specs: list[dict] = []
    _collect_events(evs)       # hypothesis fills these deterministically
    _collect_specs(specs)
    uniq = {json.dumps(s, sort_keys=True): s for s in specs if s}
    assert len(evs) > 60 and len(uniq) >= 8

    df = spark.createDataFrame(
        [(i, json.dumps(ev)) for i, ev in enumerate(evs)], ["i", "props"])
    multi_df = spark.createDataFrame(
        [(i, "ab"[i % 2], json.dumps(ev)) for i, ev in enumerate(evs)],
        ["i", "name", "props"])
    spec_list = list(uniq.values())
    n_checked = 0
    for spec_no, rules in enumerate(spec_list):
        got = {r["i"]: [tuple(x) for x in r["violations"]]
               for r in validate_json(df, rules, "props").collect()}
        if spec_no % 3 == 0:
            # the staged multi-type dispatch and the per-type union, over
            # two event types (this spec and the next) — sampled every 3rd
            # spec to bound the extra Spark jobs
            by_type = {"a": rules,
                       "b": spec_list[(spec_no + 1) % len(spec_list)]}
            for fn in (validate_multi, validate_multi_union):
                multi = {r["i"]: [tuple(x) for x in r["violations"]]
                         for r in fn(multi_df, by_type, "name",
                                     "props").collect()}
                for i, ev in enumerate(evs):
                    assert multi[i] == check_with_schema(
                        by_type["ab"[i % 2]], ev), (
                        f"{fn.__name__} MISMATCH\nrules: {by_type!r}\n"
                        f"event: {ev!r}")
        for i, ev in enumerate(evs):
            expected = check_with_schema(rules, ev)
            assert got[i] == expected, (
                f"MISMATCH\nrules: {rules!r}\nevent: {ev!r}\n"
                f"spark: {got[i]!r}\noracle: {expected!r}")
            n_checked += 1
    assert n_checked >= len(uniq) * len(evs)


# one fixed typed frame for the typed-path differential: every Spark type the
# typed compiler maps to a JS value, with column and struct-field names that
# need identifier quoting. NULLs sit at column and struct-field level only —
# a NULL array element or map value is absent to the typed path but null to
# the oracle (the documented typed NULL ⇒ absent mapping), so it has no
# single expected answer.
NESTED_KEYS = ["alpha", "a.b", "x`y", "sp ace", "q'", ""]
_ELEM = ("struct<alpha:string, `a.b`:bigint, `x``y`:double, "
         "`sp ace`:boolean, `q'`:string, ``:string>")
TYPED_SCHEMA = (
    "i int, s string, `n.dot` bigint, `d``tick` double, `b x` boolean, "
    "`q'd` decimal(10,2), `` string, `as` array<string>, al array<bigint>, "
    "aas array<array<string>>, "
    f"ast array<{_ELEM}>, "
    "am array<map<string,bigint>>, "
    f"st {_ELEM}, m map<string,bigint>")
TYPED_COLS = ["s", "n.dot", "d`tick", "b x", "q'd", "", "as", "al", "aas",
              "ast", "am", "st", "m"]


def _typed_rows():
    from decimal import Decimal
    el = ("a", 1, 1.5, True, "q", "")
    el2 = (None, -(2 ** 53), float("nan"), False, "  ", "x")
    return [
        (0, "abc", 12, 1.5, True, Decimal("1.50"), "e", ["a", "b"], [1, 2],
         [["a", "b"], ["c"]], [el, el2], [{"alpha": 1}, {"": 0}], el,
         {"alpha": 3, "a.b": 0}),
        (1, "", 0, float("nan"), False, Decimal("0.00"), "", [], [],
         [], [], [], el2, {}),
        (2, "  ", -7, -0.0, None, Decimal("-12.25"), None, [""], [0],
         [[]], [el2], [{}], None, {"x`y": -1}),
        (3, "trk_12", None, 1e21, True, None, "1", ["12", "bc", "a"],
         [10, -3, 5], [["1"], ["22", "3"]], [el], [{"q'": 5, "": 7}],
         el, None),
        (4, None, 2 ** 53, 5e-324, False, Decimal("99999999.99"), " ",
         None, None, None, None, None, el, {"sp ace": 2}),
        (5, "bbc", 2 ** 60 + 1, None, None, Decimal("3.00"), "a",
         ["^", "b+c"], [1, 2 ** 60 + 1], [["x"]], [el2, el2],
         [{"a.b": -4}], el2, {"": 1}),
    ]


# half the keys recurse: an array/object type check with a nestedSchema, so
# element scopes, struct fields, map entries and the gate all see rules
_recursing = st.tuples(
    rule_strategy(depth=1), st.sampled_from(["array", "object"]),
    st.dictionaries(st.sampled_from(NESTED_KEYS), rule_strategy(depth=1),
                    min_size=1, max_size=3),
).map(lambda t: {**t[0], "type": t[1], "nestedSchema": t[2]})

typed_rules_strategy = st.dictionaries(
    st.sampled_from(TYPED_COLS + ["version", "zz"]),
    st.one_of(rule_strategy(keys=NESTED_KEYS), _recursing),
    min_size=3, max_size=5)


@settings(max_examples=40, deadline=None, derandomize=True)
@given(typed_rules_strategy)
def _collect_typed_specs(acc, spec):
    acc.append(spec)


def test_typed_path_differential(spark):
    """Hypothesis rule specs over ONE fixed typed frame must validate
    exactly as the oracle does on the same rows (through ``row_to_event``):
    struct fields, map entries, the ``{'': item}`` scalar wrap, nested
    arrays, the clean-element gate on typed arrays, exact number toString
    (NaN, -0, 1e21, 5e-324, decimals) and names that need quoting."""
    from events_validator_spark.operators.validation import validate_typed
    from events_validator_spark.sources.synthetic import row_to_event
    specs: list[dict] = []
    _collect_typed_specs(specs)
    uniq = {json.dumps(s, sort_keys=True): s for s in specs if s}
    assert len(uniq) >= 30
    df = spark.createDataFrame(_typed_rows(), TYPED_SCHEMA)
    assert df.columns[1:] == TYPED_COLS
    n_violations = 0
    for rules in uniq.values():
        for r in validate_typed(df, rules).collect():
            got = [tuple(x) for x in r["violations"]]
            event = row_to_event(r)
            event.pop("violations")
            expected = check_with_schema(rules, event)
            assert got == expected, (
                f"MISMATCH\nrules: {rules!r}\nevent: {event!r}\n"
                f"spark: {got!r}\noracle: {expected!r}")
            n_violations += len(got)
    assert n_violations > 0
