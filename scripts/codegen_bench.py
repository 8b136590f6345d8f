"""Fresh-plan codegen benchmark: when-chain vs prebound-staged vs
union-of-partitions multi-schema dispatch over the 36 GA4 rule specs (the
real seed corpus when present, else the seeded GA4-shaped corpus of
``perfbench/ga4.py``).

The cost being measured is driver-side plan work + janino whole-stage-codegen
compilation for a NEVER-SEEN plan (the first batch of a new rule corpus) —
at 10^12 rows it amortizes to nothing, but it is the latency every fresh
driver run and every rule-set edit pays. Each strategy produces different
generated code, so within one session each first execution is a true fresh
compile; data is small (20k rows) to keep execution noise out of the number.

Usage: python scripts/codegen_bench.py  → one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from events_validator_spark.session import get_spark
from events_validator_spark.operators.validation import (
    validate_multi, validate_multi_union,
)
from events_validator_spark.sources.rules_loader import load_rules_dir
from perfbench.ga4 import build_corpus

GA4_DIR = "/root/reference/terraform_backend/src/GA4 Recommended/schemas"
GA4_SEED = 1  # the GA4-shaped corpus used when GA4_DIR is absent


def make_events(spark, n, names):
    arr = F.array(*[F.lit(x) for x in names])
    idx = (F.pmod(F.xxhash64("id"), F.lit(len(names))) + 1).cast("int")
    return spark.range(n).select(
        F.col("id"),
        F.element_at(arr, idx).alias("event_name"),
        F.concat(F.lit('{"currency": "USD", "value": '),
                 F.pmod(F.col("id"), F.lit(100)).cast("string"),
                 F.lit(', "transaction_id": "t1", "items": [{"item_id": "i"}]}')
                 ).alias("props"))


def main():
    rules = load_rules_dir(GA4_DIR) or build_corpus(GA4_SEED)
    names = sorted(rules)
    spark = get_spark(app_name="codegen-bench", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    # JVM/session warmup on an unrelated tiny job
    spark.range(1000).selectExpr("sum(id)").collect()

    n = 20_000
    timings = {}
    steady = {}

    def run(tag, fn, book):
        df = make_events(spark, n, names)
        t0 = time.monotonic()
        out = fn(df)
        out.write.format("noop").mode("overwrite").save()
        book[tag] = round(time.monotonic() - t0, 3)
        print(f"# {tag} {'steady' if book is steady else 'fresh'}: "
              f"{book[tag]}s", flush=True)

    arms = [
        ("prebound_staged", lambda df: validate_multi(
            df, rules, "event_name", json_col="props", prebind=True)),
        ("union_per_type", lambda df: validate_multi_union(
            df, rules, "event_name", json_col="props")),
        # the when-chain arm is last: with the exact Number::toString trees
        # inlined per (type, field) it can exceed any sane budget — kill the
        # process and report the cap as a lower bound if it does
        ("when_chain", lambda df: validate_multi(
            df, rules, "event_name", json_col="props", prebind=False)),
    ]
    for tag, fn in arms:
        run(tag, fn, timings)
    for tag, fn in arms:  # second run: codegen cached → steady-state
        run(tag, fn, steady)

    wc = timings.get("when_chain")
    print(json.dumps({
        "metric": "ga4_36_schema_fresh_plan_wall",
        "unit": "sec", "rows": n, "n_schemas": len(names),
        "fresh": timings, "steady": steady,
        "speedup_vs_when_chain": (
            round(wc / timings["prebound_staged"], 2) if wc else None),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
