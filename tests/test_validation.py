"""M1: the Spark rule compiler must match the pure-Python JS-semantics oracle
row-for-row — on the VARIANT (JSON) path with full fidelity, and on the typed
path under the documented NULL⇒absent mapping.
"""

import json
import random

import pytest
from pyspark.sql import functions as F

from events_validator_spark.js_oracle import check_with_schema
from events_validator_spark.operators.validation import validate_json, validate_typed
from events_validator_spark.sources.synthetic import (
    DOC_RULES, interleaved_docs, row_to_event,
)

# seed of the GA4-shaped corpus used when the real seed corpus is absent
GA4_SEED = 1

RULES = {
    "event_name": {"type": "string", "value": "purchase"},
    "version": {"type": "number", "value": 1},
    "currency": {"type": "string"},
    "value": {"type": "number"},
    "promo_code": {"type": "string", "optional": True},
    "tracking_id": {"type": "string", "regex": "^trk_[0-9]{6}$"},
    "tags": {"type": "array", "length": 3},
    "flag": {"type": "boolean", "optional": True},
    "kind": {"type": "string", "enum": ["a", "b"], "optional": True},
    "items": {
        "type": "array",
        "nestedSchema": {
            "item_id": {"type": "string"},
            "price": {"type": "number"},
            "in_stock": {"type": "boolean"},
        },
    },
    "user_info": {"type": "object", "nestedSchema": {"user_id": {"type": "string"}}},
}

QUIRK_EVENTS = [
    {"event_name": "purchase", "currency": "USD", "value": 9.99,
     "tracking_id": "trk_123456", "tags": ["a", "b", "c"],
     "items": [{"item_id": "i1", "price": 1.5, "in_stock": True}],
     "user_info": {"user_id": "u1"}},
    {},                                                    # everything missing
    {"event_name": None, "currency": None, "value": None, "tracking_id": None,
     "tags": None, "items": None, "user_info": None},      # everything JSON-null
    {"event_name": "purchase", "currency": "", "value": "9.99",
     "tracking_id": "nope", "tags": ["a", "b"],
     "items": ["scalar", {"item_id": 5, "price": "x", "in_stock": 0}, None],
     "user_info": []},
    {"event_name": 1, "currency": "   ", "value": True, "tracking_id": 123456,
     "tags": "abc", "items": [[1, 2]], "user_info": {"user_id": ""}},
    {"event_name": "purchase", "version": "anything", "currency": "EUR",
     "value": 0, "tracking_id": "xx trk_000000 yy", "tags": ["x", "y", "z"],
     "promo_code": "", "flag": None, "kind": "c",
     "items": [], "user_info": {"user_id": "u", "extra": 1}},
]


def _rand_value(rng, depth=0):
    choices = ["str", "int", "float", "bool", "null", "empty", "ws"]
    if depth < 2:
        choices += ["arr", "obj"]
    c = rng.choice(choices)
    if c == "str":
        return rng.choice(["trk_000000", "abc", "purchase", "1", "a,b"])
    if c == "int":
        return rng.randint(-5, 5)
    if c == "float":
        return rng.choice([1.0, 9.99, -0.5, 0.0])
    if c == "bool":
        return rng.choice([True, False])
    if c == "null":
        return None
    if c == "empty":
        return ""
    if c == "ws":
        return "  "
    if c == "arr":
        return [_rand_value(rng, depth + 1) for _ in range(rng.randint(0, 4))]
    return {k: _rand_value(rng, depth + 1)
            for k in rng.sample(["item_id", "price", "in_stock", "user_id", "x"],
                                rng.randint(0, 3))}


def _rand_events(n, seed=42):
    rng = random.Random(seed)
    keys = list(RULES.keys()) + ["extra"]
    out = []
    for _ in range(n):
        ev = {k: _rand_value(rng) for k in rng.sample(keys, rng.randint(0, len(keys)))}
        out.append(ev)
    return out


def _spark_violations(spark, events, rules):
    df = spark.createDataFrame([(i, json.dumps(e)) for i, e in enumerate(events)],
                               ["i", "props"])
    out = validate_json(df, rules, "props").select("i", "violations").collect()
    return {r["i"]: [tuple(x) for x in r["violations"]] for r in out}


@pytest.mark.parametrize("batch", ["quirks", "random"])
def test_variant_path_matches_oracle(spark, batch):
    events = QUIRK_EVENTS if batch == "quirks" else _rand_events(120)
    got = _spark_violations(spark, events, RULES)
    for i, ev in enumerate(events):
        expected = check_with_schema(RULES, ev)
        assert got[i] == expected, (
            f"event #{i} mismatch\nevent:    {ev!r}\n"
            f"spark:    {got[i]!r}\noracle:   {expected!r}")


def test_typed_path_matches_oracle_on_interleaved_docs(spark):
    docs = interleaved_docs(spark, 400)
    rows = validate_typed(docs, DOC_RULES).collect()
    n_violating = 0
    for r in rows:
        event = row_to_event(r)
        event.pop("violations", None)
        expected = check_with_schema(DOC_RULES, event)
        got = [tuple(x) for x in r["violations"]]
        assert got == expected, (
            f"doc mismatch\ndoc:    {event!r}\nspark:  {got!r}\noracle: {expected!r}")
        n_violating += bool(got)
    # the generator must actually inject anomalies
    assert n_violating > 0


def test_malformed_json_does_not_abort(spark):
    df = spark.createDataFrame(
        [(1, '{"k": 1}'), (2, '{not json'), (3, None)], ["i", "props"])
    rules = {"k": {"type": "number"}}
    got = {r["i"]: [tuple(x) for x in r["violations"]]
           for r in validate_json(df, rules, "props").collect()}
    assert got[1] == []
    assert got[2] == [("$", "invalid_request", "well-formed JSON",
                       "malformed JSON")]
    # NULL payload: no JSON at all → every required key is missing (JS: no body)
    assert got[3] == [("k", "missing", "field present", "field missing")]


def test_violation_content_examples(spark):
    events = [{"currency": "", "value": None,
               "items": ["s"], "tracking_id": "bad"}]
    rules = {"currency": {"type": "string"}, "value": {"type": "number"},
             "tracking_id": {"regex": "^trk_"},
             "items": {"type": "array", "nestedSchema": {"q": {"type": "number"}}}}
    got = _spark_violations(spark, events, rules)[0]
    assert ("currency", "type", "non-empty string", "empty string") in got
    assert ("value", "type", "number", "object") in got
    assert ("tracking_id", "regex", "^trk_", "bad") in got
    assert ("items[0].q", "missing", "field present", "field missing") in got


def test_length_falsy_coercion_variant(spark):
    # JS (v || []).length (js:78): false/0/NaN coerce to [] -> length 0
    rules = {"f": {"length": 0}}
    events = [{"f": False}, {"f": 0}, {"f": 0.0}, {"f": True}, {"f": 5},
              {"f": None}]
    got = _spark_violations(spark, events, rules)
    assert got[0] == got[1] == got[2] == got[5] == []
    assert got[3] == [("f", "length", "0", None)]  # true.length === undefined
    assert got[4] == [("f", "length", "0", None)]
    for i, e in enumerate(events):
        assert check_with_schema(rules, e) == got[i]
    # non-zero expected length: falsy value reports actual 0
    got2 = _spark_violations(spark, [{"f": False}], {"f": {"length": 2}})[0]
    assert got2 == [("f", "length", "2", "0")]
    assert check_with_schema({"f": {"length": 2}}, {"f": False}) == got2


def test_length_falsy_coercion_typed(spark):
    from events_validator_spark.operators.validation import validate_typed
    df = spark.createDataFrame([(False, 0, 1, float("nan"))],
                               "b boolean, n long, m long, d double")
    rules = {"b": {"length": 0}, "n": {"length": 0}, "m": {"length": 0},
             "d": {"length": 0}}
    rows = validate_typed(df, rules).collect()[0]["violations"]
    assert [tuple(x) for x in rows] == [("m", "length", "0", None)]


def test_array_of_array_recurses_directly(spark):
    # js:41-45: a list element is typeof 'object' -> direct recursion; every
    # nested key (including '') is then missing. Scalars still get the wrap.
    rules = {"items": {"type": "array",
                       "nestedSchema": {"": {"type": "string"},
                                        "k": {"type": "number"}}}}
    event = {"items": [["x"], "s", {"": "y", "k": 1}]}
    expected = [
        ("items[0].", "missing", "field present", "field missing"),
        ("items[0].k", "missing", "field present", "field missing"),
        ("items[1].k", "missing", "field present", "field missing"),
    ]
    assert check_with_schema(rules, event) == expected
    assert _spark_violations(spark, [event], rules)[0] == expected


def test_array_of_array_typed_path(spark):
    from events_validator_spark.operators.validation import validate_typed
    df = spark.createDataFrame([([["x"], ["y"]],)], "items array<array<string>>")
    rules = {"items": {"type": "array",
                       "nestedSchema": {"": {"type": "string"}}}}
    rows = validate_typed(df, rules).collect()[0]["violations"]
    assert [tuple(x) for x in rows] == [
        ("items[0].", "missing", "field present", "field missing"),
        ("items[1].", "missing", "field present", "field missing"),
    ]


def test_validate_multi_malformed_json_chain_equals_union(spark):
    from events_validator_spark.operators.validation import (
        validate_multi, validate_multi_union,
    )
    rules_by = {"a": {"k": {"type": "number"}},
                "b": {"k": {"type": "string"}}}
    df = spark.createDataFrame(
        [(1, "a", '{"k": 1}'), (2, "a", "{nope"), (3, "zz", "{nope"),
         (4, "b", '{"k": 1}')],
        ["i", "name", "props"])
    for fn in (validate_multi, validate_multi_union):
        out = {r["i"]: (r["status"],
                        [tuple(x) for x in (r["violations"] or [])])
               for r in fn(df, rules_by, "name", "props").collect()}
        assert out[1] == ("valid", []), fn.__name__
        assert out[2] == ("validation_failed",
                          [("$", "invalid_request", "well-formed JSON",
                            "malformed JSON")]), fn.__name__
        assert out[3][0] == "schema_not_found", fn.__name__
        assert out[4] == ("validation_failed",
                          [("k", "type", "string", "number")]), fn.__name__


def test_bad_regex_rejected_at_compile_time(spark):
    df = spark.createDataFrame([(1, '{"k": "x"}')], ["i", "props"])
    with pytest.raises(ValueError, match="does not compile"):
        validate_json(df, {"k": {"regex": "[a-"}}, "props")


def test_staged_ga4_chain_matches_oracle(spark):
    """Full-corpus differential for the staged multi-type dispatch: every
    row's violations and status equal the oracle's for its event type, on
    a corpus that exercises value/type/length/regex/enum, nested items
    elements (object and non-object), empty strings, and big doubles. The
    real GA4 seed corpus when present, else the seeded GA4-shaped one."""
    from events_validator_spark.operators.validation import validate_multi
    from events_validator_spark.sources.rules_loader import load_rules_dir
    from perfbench.ga4 import build_corpus
    rules = load_rules_dir(
        "/root/reference/terraform_backend/src/GA4 Recommended/schemas")
    rules = rules or build_corpus(GA4_SEED)
    assert len(rules) >= 30           # never a vacuous differential
    names = sorted(rules)
    arr = F.array(*[F.lit(x) for x in names])
    idx = (F.pmod(F.xxhash64("id"), F.lit(len(names))) + 1).cast("int")
    df = spark.range(3000).select(
        F.col("id"), F.element_at(arr, idx).alias("event_name"),
        F.concat(F.lit('{"currency": "USD", "value": '),
                 F.pmod(F.col("id"), F.lit(100)).cast("string"),
                 F.lit('.5, "transaction_id": "", "items": '
                       '[{"item_id": 3, "quantity": "x"}, 7, null], '
                       '"shipping": 1e22, "coupon": 17}')).alias("props"))
    rows = validate_multi(df, rules, "event_name", json_col="props").collect()
    assert len(rows) == 3000
    n_violations = 0
    for r in rows:
        expected = check_with_schema(rules[r["event_name"]],
                                     json.loads(r["props"]))
        got = [tuple(x) for x in r["violations"]]
        assert got == expected, (r["event_name"], r["props"])
        assert r["status"] == ("validation_failed" if expected else "valid")
        n_violations += len(got)
    assert n_violations > 3000        # the corpus actually violates


def test_chain_memo_never_serves_stale_rules(spark):
    """The corpus-level plan memo (_CHAIN_CACHE) must key on rule CONTENT:
    an edited rule set builds a fresh dispatch, and flipping back to the
    original corpus (a memo hit) still yields the original semantics."""
    from events_validator_spark.operators.validation import validate_multi
    df = spark.createDataFrame([("ev", '{"k": 1}')],
                               "event_name string, props string")
    rules_num = {"ev": {"k": {"type": "number"}}}
    rules_str = {"ev": {"k": {"type": "string"}}}
    def status(rules):
        return validate_multi(df, rules, "event_name",
                              json_col="props").collect()[0]["status"]
    assert status(rules_num) == "valid"
    assert status(rules_str) == "validation_failed"   # edit seen, not stale
    assert status(rules_num) == "valid"               # memo hit, not stale


def test_check_memos_key_on_the_tostring_slot(spark):
    """The slot a key's toString occupies in the shared staged column
    depends on the whole corpus' string-checked keys: here ``b`` is staged
    as ``__f_1`` in both corpora, with the same rule, but reads slot 0 in
    the first and slot 1 in the second. The per-key and the chain memos
    must tell them apart, and flipping back (memo hits) must still read
    the right slot."""
    from events_validator_spark.operators.validation import validate_multi
    b_rule = {"type": "string", "regex": "^x"}
    corpus_1 = {"ev": {"a": {"type": "string"}, "b": b_rule}}
    corpus_2 = {"ev": {"a": {"type": "string", "value": "p"}, "b": b_rule}}
    events = [{"a": "p", "b": "xy"}, {"a": "xq", "b": "zz"},
              {"a": "p", "b": 12}, {}]
    df = spark.createDataFrame(
        [(i, "ev", json.dumps(e)) for i, e in enumerate(events)],
        "i long, event_name string, props string")
    for corpus in (corpus_1, corpus_2, corpus_1, corpus_2):
        got = {r["i"]: [tuple(x) for x in r["violations"]]
               for r in validate_multi(df, corpus, "event_name",
                                       json_col="props").collect()}
        for i, ev in enumerate(events):
            assert got[i] == check_with_schema(corpus["ev"], ev), (corpus, ev)


def test_nested_string_checks_share_one_formatter(spark):
    """Element scopes stage one shared toString array for all their
    value/regex/enum keys; every slot must still be the key's own JS
    toString (including '' on scalar elements and nested arrays)."""
    rules = {"items": {"type": "array", "nestedSchema": {
        "p": {"value": 2.5}, "q": {"regex": "^a", "optional": True},
        "": {"enum": ["s", 3]}, "n": {"type": "number"},
        "o": {"type": "object", "nestedSchema": {"z": {"value": "1,2"}}}}}}
    events = [{"items": [{"p": 2.5, "q": "ab", "": 3, "n": 1,
                          "o": {"z": [1, 2]}},
                         "s", 3, [1, [2, 1e21]], None]},
              {"items": [{"p": "2.5", "q": 1.5e-7, "o": {"z": "1,2"}},
                         {"p": [2.5], "q": "", "": "t", "o": []}]},
              {"items": []}, {}]
    got = _spark_violations(spark, events, rules)
    for i, ev in enumerate(events):
        assert got[i] == check_with_schema(rules, ev), ev


def test_awkward_top_level_keys_stage_textually(spark):
    """Every key is staged through an escaped SQL literal and a verbatim
    variant path (quotes, backslashes, JSON-path characters, non-ASCII, the
    empty key), at top level and in a nested scope."""
    keys = ("it's", 'a"b', "back\\slash", "ü", "$.x", "[0]", "")
    rules = {k: {"type": "string", "regex": "^v", "optional": True}
             for k in keys}
    rules["o"] = {"type": "object", "nestedSchema": {
        k: {"type": "number"} for k in keys}}
    events = [{**{k: "v" + k for k in keys}, "o": {k: 1 for k in keys}},
              {**{k: 7 for k in keys}, "o": {}}, {}]
    got = _spark_violations(spark, events, rules)
    for i, ev in enumerate(events):
        assert got[i] == check_with_schema(rules, ev), ev
    # a key with both quote characters has no variant path: fail at compile
    df = spark.createDataFrame([(1, "{}")], ["i", "props"])
    with pytest.raises(ValueError, match="cannot address"):
        validate_json(df, {"""a'b"c""": {"type": "string"}}, "props")


def test_staging_name_collisions_raise(spark):
    """Input columns named like the staged columns would be shadowed or
    silently dropped: both JSON entry points refuse them up front."""
    from events_validator_spark.operators.validation import validate_multi
    rules = {"k": {"type": "number"}}
    base = spark.createDataFrame([(1, "ev", '{"k": 1}')],
                                 "i long, event_name string, props string")
    for col in ("__f_0", "__f_str", "__CHK_3", "__ti"):
        df = base.withColumn(col, F.lit(1))
        with pytest.raises(ValueError, match="reserved for validation"):
            validate_json(df, rules, "props")
        with pytest.raises(ValueError, match="reserved for validation"):
            validate_multi(df, {"ev": rules}, "event_name", json_col="props")
    named = base.withColumnRenamed("props", "__f_payload")
    with pytest.raises(ValueError, match="__f_payload"):
        validate_json(named, rules, "__f_payload")
    with pytest.raises(ValueError, match="__f_payload"):
        validate_multi(named, {"ev": rules}, "event_name",
                       json_col="__f_payload")


def test_validate_multi_rejects_empty_corpus(spark):
    from events_validator_spark.operators.validation import validate_multi
    df = spark.createDataFrame([("ev", '{"k": 1}')],
                               "event_name string, props string")
    for json_col in ("props", None):
        with pytest.raises(ValueError, match="at least one event type"):
            validate_multi(df, {}, "event_name", json_col=json_col)


def test_element_ok_gate_matches_oracle(spark):
    """The typed-array clean-element gate (round 6) must be a pure
    short-circuit: the gated output equals the oracle on a corpus covering
    every anomaly class plus adversarial span shapes (null spans array,
    empty array, null struct element fields, value/length rules on nested
    keys)."""
    from events_validator_spark.operators import validation as V
    from events_validator_spark.sources.synthetic import (
        DOC_RULES, interleaved_docs,
    )

    docs = interleaved_docs(spark, 20_000)
    # adversarial extras the generator never emits
    extra = spark.createDataFrame(
        [("x1", None),
         ("x2", []),
         ("x3", [(None, None, None, None)]),
         ("x4", [("media", None, "media_00bad!!!", 0),
                 ("text", "", None, None)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    corpus = docs.unionByName(extra)

    rules_extra = {
        "doc_id": DOC_RULES["doc_id"],
        "spans": {
            "type": "array",
            "nestedSchema": {
                "kind": {"type": "string", "enum": ["text", "media"]},
                "text": {"type": "string", "optional": True, "length": 5},
                "media_ref": {"type": "string", "optional": True,
                              "regex": "^media_[0-9a-f]{8}$"},
                "offset": {"type": "number", "value": 0},
            },
        },
    }

    for rules in (DOC_RULES, rules_extra):
        n_violations = 0
        for r in V.validate_typed(corpus, rules).toLocalIterator():
            got = [tuple(x) for x in r["violations"]]
            event = row_to_event(r)
            event.pop("violations")
            assert got == check_with_schema(rules, event), event
            n_violations += len(got)
        assert n_violations > 0


def test_nan_value_literal_matches_oracle(spark):
    """A NaN ``value`` literal compares by JS toString ('NaN'), on both
    input models."""
    rules = {"x": {"value": float("nan")}}
    events = [{"x": 1.0}, {"x": "NaN"}, {"x": None}, {}, {"x": [1]}]
    got = _spark_violations(spark, events, rules)
    for i, ev in enumerate(events):
        assert got[i] == check_with_schema(rules, ev), ev
    df = spark.createDataFrame([(float("nan"),), (1.0,), (None,)],
                               "x double")
    rows = validate_typed(df, rules).collect()
    for r in rows:
        got = [tuple(x) for x in r["violations"]]
        event = row_to_event(r)
        event.pop("violations")
        assert got == check_with_schema(rules, event), event
    assert [len(r["violations"]) for r in rows] == [0, 1, 1]
