"""Fresh-plan codegen benchmark: prebound-staged vs union-of-partitions
multi-schema dispatch over the 36 GA4 rule specs (the real seed corpus when
present, else the seeded GA4-shaped corpus of ``perfbench/ga4.py``).

The cost being measured is driver-side plan work + janino whole-stage-codegen
compilation for a NEVER-SEEN plan (the first batch of a new rule corpus) —
at 10^12 rows it amortizes to nothing, but it is the latency every fresh
driver run and every rule-set edit pays. Each strategy produces different
generated code, so within one session each first execution is a true fresh
compile; data is small (20k rows) to keep execution noise out of the number.

The driver heap is capped at 4 GB (``SPARK_DRIVER_MEM``, as perfbench
does): ``get_spark``'s 48 GB default lets the JVM outgrow a small host. An
arm that fails under the cap is reported in ``failed`` with the seconds it
ran first — a lower bound on its fresh cost, not a measurement.

Usage: python scripts/codegen_bench.py  → one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F
from py4j.protocol import Py4JError

from events_validator_spark.session import get_spark
from events_validator_spark.operators.validation import (
    validate_multi, validate_multi_union,
)
from events_validator_spark.sources.rules_loader import load_rules_dir
from perfbench.ga4 import build_corpus

GA4_DIR = "/root/reference/terraform_backend/src/GA4 Recommended/schemas"
GA4_SEED = 1  # the GA4-shaped corpus used when GA4_DIR is absent
HEAP = "4g"


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
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    spark = get_spark(app_name="codegen-bench", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    # JVM/session warmup on an unrelated tiny job
    spark.range(1000).selectExpr("sum(id)").collect()

    n = 20_000
    timings = {}
    steady = {}
    failed = {}

    def run(tag, fn, book):
        df = make_events(spark, n, names)
        if book is timings:
            print(f"# {tag} fresh: started at {time.strftime('%H:%M:%S')}",
                  flush=True)
        t0 = time.monotonic()
        try:
            fn(df).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - e.g. OOM under the heap cap
            failed[tag] = {"after_s": round(time.monotonic() - t0, 3),
                           "error": type(e).__name__}
            print(f"# {tag} failed after {failed[tag]['after_s']}s: "
                  f"{str(e).splitlines()[0][:200]}", flush=True)
            return
        book[tag] = round(time.monotonic() - t0, 3)
        print(f"# {tag} {'steady' if book is steady else 'fresh'}: "
              f"{book[tag]}s", flush=True)

    arms = [
        ("prebound_staged", lambda df: validate_multi(
            df, rules, "event_name", json_col="props")),
        ("union_per_type", lambda df: validate_multi_union(
            df, rules, "event_name", json_col="props")),
    ]
    for tag, fn in arms:
        run(tag, fn, timings)
    for tag, fn in arms:  # second run: codegen cached → steady-state
        if tag in timings:
            run(tag, fn, steady)
    print(json.dumps({
        "metric": "ga4_36_schema_fresh_plan_wall",
        "unit": "sec", "rows": n, "n_schemas": len(names),
        "heap": HEAP, "fresh": timings, "steady": steady, "failed": failed,
    }))
    try:
        spark.stop()
    except (Py4JError, OSError):  # the JVM is gone after an OOM in a task
        pass


if __name__ == "__main__":
    main()
