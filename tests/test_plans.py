"""Plan-shape regression tests.

Correctness tests pin WHAT the operators compute; these pin HOW — the plan
properties that make the engine survive a 100 TB input:

* explode over a computed violations array must NOT re-evaluate the
  validation tree in a pushed-down inferred filter (the round-2 6x
  regression: InferFiltersFromGenerate + PushDownPredicates inlined the
  whole producer expression into a Filter below the staged projection);
* the flagship query must not shuffle a splittable input (a corpus-wide
  Exchange before a shuffle-free projection is a scale-killer);
* the staged prebind projection must keep the plan's ``parseJson`` count
  independent of the number of checks, and its exact JS toString formatter
  and JS type-label counts independent of the number of keys reading them.
"""

import os

import pyspark.sql.functions as F
import pytest

from events_validator_spark.operators.validation import (
    explode_violations, validate_json,
)

RULES = {"k": {"type": "number", "regex": "^[0-9]{2}$"}, "u": {"type": "string"}}


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().treeString()


@pytest.fixture()
def events(spark):
    rows = [(i, '{"k": %d}' % (i % 100)) for i in range(100)]
    return spark.createDataFrame(rows, "event_id long, props string")


def test_no_inferred_filter_below_violations(events):
    """The optimized plan must contain NO Filter node at all: the only
    candidate is the InferFiltersFromGenerate size()-filter whose pushdown
    re-inlines the validation tree (evaluating it twice per row)."""
    df = explode_violations(validate_json(events, RULES, "props"),
                            ["event_id"])
    plan = _optimized(df)
    assert "Filter" not in plan, plan


def test_prebind_stages_parse_json_once(events):
    """The staged projection evaluates try_parse_json once per row; per-check
    references read the small struct columns. The optimized plan therefore
    carries exactly ONE Project that mentions parseJson (the stage-1
    projection), and the Generate input does not."""
    df = validate_json(events, RULES, "props")
    plan = _optimized(df)
    staged_lines = [ln for ln in plan.splitlines() if "parseJson" in ln]
    assert len(staged_lines) == 1, plan


def _shared_expr_nodes(df) -> tuple[int, int]:
    # every Number::toString instance carries the same fixed number of
    # format_string candidates, and every type test one 'VOID' branch, so
    # these count formatter and type-label copies
    plan = _optimized(df)
    return plan.count("format_string("), plan.count("VOID")


def test_one_tostring_formatter_per_scope(events):
    """The exact JS toString (Number::toString is ~30 format_string nodes
    per array depth) is staged ONCE: every string-checked key reads a slot
    of one shared column, so 1 and 4 such keys plan the same number of
    formatter nodes — at top level and inside an array-element scope. The
    JS type label is shared the same way, however many checks read it."""
    one = {"k": {"type": "number", "regex": "^[0-9]{2}$"}}
    four = {**one, "a": {"value": 1}, "b": {"enum": ["x", 2]},
            "c": {"type": "string", "regex": "^c"}, "d": {"type": "number"}}
    n1 = _shared_expr_nodes(validate_json(events, one, "props"))
    assert min(n1) > 0
    assert _shared_expr_nodes(validate_json(events, four, "props")) == n1

    def nested(rules):
        return {"items": {"type": "array", "nestedSchema": rules}}
    m1 = _shared_expr_nodes(validate_json(events, nested(one), "props"))
    assert min(m1) > 0
    assert _shared_expr_nodes(
        validate_json(events, nested(four), "props")) == m1


def test_flagship_no_exchange_on_splittable_input(spark, tmp_path):
    """q_validate_events must not repartition when the scan already yields
    >= cores partitions (many files): results identical, zero Exchange."""
    import __spark_entry__ as entrymod

    src = spark.range(2000).select(
        F.col("id").alias("event_id"),
        F.format_string('{"k": %d}', F.pmod("id", F.lit(100))).alias("props"))
    out_dir = str(tmp_path / "sfX")
    os.makedirs(out_dir, exist_ok=True)
    # many small files => scan parallelism >= the 4 test cores
    src.repartition(8).write.parquet(os.path.join(out_dir, "events.parquet"))

    df = entrymod.q_validate_events(spark, out_dir)
    plan = df._jdf.queryExecution().executedPlan().treeString()
    assert "Exchange" not in plan, plan
    assert df.count() > 0


def test_apply_recommended_conf_merges_not_clobbers(spark):
    """apply_recommended_conf must append the rule to a session's existing
    excludedRules, keep it idempotent, and never drop user-set rules."""
    from events_validator_spark.session import (
        _INFER_FILTERS_RULE, apply_recommended_conf,
    )
    key = "spark.sql.optimizer.excludedRules"
    before = spark.conf.get(key, None)
    try:
        other = "org.apache.spark.sql.catalyst.optimizer.ConstantFolding"
        spark.conf.set(key, other)
        apply_recommended_conf(spark)
        got = spark.conf.get(key).split(",")
        assert other in got and _INFER_FILTERS_RULE in got
        apply_recommended_conf(spark)  # idempotent
        assert spark.conf.get(key).split(",").count(_INFER_FILTERS_RULE) == 1
    finally:
        if before is None:
            spark.conf.unset(key)
            spark.conf.set(key, _INFER_FILTERS_RULE)
        else:
            spark.conf.set(key, before)
