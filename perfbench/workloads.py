"""The three benchmark workloads.

Each workload prepares seeded inputs (untimed), runs one fresh operation and
then steady operations until the run's time is used, checks every output
outside the timed region, and returns its samples. Engine calls go only
through public entry points: ``plans.pipeline.run_validation``, the
``operators.*`` functions and ``__spark_entry__.queries()``.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from events_validator_spark.js_oracle import check_with_schema
from events_validator_spark.operators import drift, referential, uniqueness
from events_validator_spark.operators.stats import profile
from events_validator_spark.operators.validation import (
    explode_violations, validate_multi,
)
from events_validator_spark.plans.pipeline import run_validation
from events_validator_spark.sources.synthetic import DOC_RULES

from perfbench import docs as docsgen, ga4, tables
from perfbench.trace import SparkMetrics, subtree_groups


@dataclass
class Run:
    """What a workload hands back to run.py."""
    first_s: float = 0.0                       # the fresh operation
    steady_s: list[float] = field(default_factory=list)
    rows_per_op: int = 0                       # input rows one op consumes
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def outcome(self, n_ops: int, problems: list[str]) -> None:
        self.attempted += n_ops
        self.failed += min(n_ops, len(problems))
        self.problems.extend(problems)


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    work: str


def _steady_loop(ctx: Ctx, run: Run, op, min_ops: int, t_start: float,
                 overhead: dict, warmup=None) -> None:
    """Steady operations until ``seconds`` have passed since ``t_start`` and
    at least ``min_ops`` ran, after one untimed ``warmup`` operation if one
    is given. A traced run does at least two and alternates tracing off and
    on per operation, so the two halves give the tracing overhead."""
    traced = ctx.tracer.enabled
    first = 1
    if warmup is not None:
        ctx.tracer.detail = False
        warmup(first)
        first += 1
    i = 0
    if traced:
        min_ops = max(min_ops, 2)
    while i < min_ops or time.monotonic() - t_start < ctx.seconds:
        if traced:
            ctx.tracer.detail = i % 2 == 1
        t0 = time.monotonic()
        op(first + i)
        dt = time.monotonic() - t0
        run.steady_s.append(dt)
        if traced:
            overhead["on" if ctx.tracer.detail else "off"].append(dt)
        i += 1
    ctx.tracer.detail = traced
    if traced:
        # an odd count leaves the last sample untraced; pair them up
        if len(overhead["off"]) > len(overhead["on"]):
            overhead["off"].pop()
    run.info["steady_ops"] = i


def _overhead_pct(overhead: dict) -> float:
    if not overhead["on"] or not overhead["off"]:
        return 0.0
    off = statistics.median(overhead["off"])
    return 100.0 * (statistics.median(overhead["on"]) - off) / off


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# docs_batch — the nightly full-constraint-suite job
# ---------------------------------------------------------------------------

DOCS = 50_000
DAYS = 8
ORACLE_SAMPLE = 200


def docs_batch(ctx: Ctx) -> Run:
    spark, tr, run = ctx.spark, ctx.tracer, Run()
    t_prep = time.monotonic()
    in_dir = os.path.join(ctx.work, "docs")
    cat_dir = os.path.join(ctx.work, "catalog")
    docsgen.write_docs(ctx.work, ctx.seed, DOCS, DAYS, files_per_day=4)
    docs = spark.read.parquet(in_dir)
    catalog = spark.read.parquet(cat_dir)
    flat = docs.select("doc_id", F.size("spans").alias("n_spans"),
                       F.xxhash64("doc_id").alias("h"))
    expect = _docs_expectations(ctx, in_dir, cat_dir)
    n_docs = expect["docs"]
    run.rows_per_op = n_docs
    run.info.update(docs=n_docs, days=DAYS)

    def one_pass(i: int, suite: bool = True) -> None:
        out_dir = os.path.join(ctx.work, f"pipeline_{i}")
        got = {}
        with tr.span("docs_batch.pass", op=i):
            try:
                with tr.span("pipeline.run_validation", op=i):
                    got["manifest"] = run_validation(
                        docs, DOC_RULES, out_dir, run_id=f"run{i}",
                        bucket_col="date_utc")
            except Exception as e:  # noqa: BLE001 - counted as failed ops
                got["manifest_error"] = repr(e)
            for name, call in () if not suite else (
                ("uniqueness.duplicate_keys", lambda: uniqueness
                 .duplicate_keys(docs, ["doc_id"], n_salts=64).collect()),
                ("referential.referential_violations_spans", lambda:
                 referential.referential_violations_spans(docs, catalog)
                 .count()),
                ("stats.profile", lambda: profile(
                    flat, ["n_spans"], approx=True).collect()),
                ("drift.psi_two_cohorts", lambda: drift.psi_two_cohorts(
                    flat, "n_spans", F.pmod(F.col("h"), F.lit(2)) == 0,
                    nbins=12, lo=0.0, hi=12.0).collect()),
            ):
                try:
                    with tr.span(name, op=i):
                        got[name] = call()
                except Exception as e:  # noqa: BLE001
                    got[name] = e
        _check_docs_pass(run, got, expect, out_dir, suite)
        if "manifest" in got:
            run.info.setdefault("bucket_wall_ms", {})[i] = [
                m["wall_ms"] for m in got["manifest"]["metrics"]]
        shutil.rmtree(out_dir, ignore_errors=True)

    run.info["prep_s"] = time.monotonic() - t_prep
    overhead = {"on": [], "off": []}
    t_start = time.monotonic()
    t0 = time.monotonic()
    one_pass(0)
    run.first_s = time.monotonic() - t0
    # the warm-up pass runs the pipeline only: the JIT still settles there
    # (the first steady pass reads about 15 % slow without it)
    _steady_loop(ctx, run, one_pass, 1, t_start, overhead,
                 warmup=lambda i: one_pass(i, suite=False))
    run.info["overhead_pct"] = _overhead_pct(overhead)
    return run


def _docs_expectations(ctx: Ctx, in_dir: str, cat_dir: str) -> dict:
    """Expected outputs from DuckDB over the same parquet files, and the
    js_oracle verdicts of a seeded sample of docs with a unique doc_id."""
    con = duckdb.connect()
    con.sql(f"CREATE VIEW docs AS SELECT * FROM read_parquet("
            f"'{in_dir}/*/*.parquet', hive_partitioning = true)")
    con.sql(f"CREATE VIEW cat AS SELECT * FROM '{cat_dir}/*.parquet'")
    n_docs, lo, hi = con.sql(
        "SELECT count(*), min(len(spans)), max(len(spans)) FROM docs"
    ).fetchone()
    dups = dict(con.sql("SELECT doc_id, count(*) FROM docs GROUP BY 1 "
                        "HAVING count(*) > 1").fetchall())
    dangling = con.sql(
        "SELECT count(*) FROM (SELECT unnest(spans) AS s FROM docs) "
        "WHERE s.media_ref IS NOT NULL AND s.media_ref NOT IN "
        "(SELECT media_ref FROM cat)").fetchone()[0]
    sample = con.sql(
        f"SELECT doc_id, spans FROM docs WHERE doc_id NOT IN (SELECT doc_id "
        f"FROM docs GROUP BY 1 HAVING count(*) > 1) "
        f"ORDER BY hash(doc_id, {ctx.seed}) LIMIT {ORACLE_SAMPLE}").fetchall()
    con.close()
    oracle = {doc_id: Counter(check_with_schema(DOC_RULES, _drop_nulls(
        {"doc_id": doc_id, "spans": spans}))) for doc_id, spans in sample}
    return {"docs": n_docs, "n_spans": (lo, hi), "dups": dups,
            "dangling": dangling, "oracle": oracle}


def _drop_nulls(v):
    """NULL means absent to the engine, so the oracle must not see it."""
    if isinstance(v, dict):
        return {k: _drop_nulls(x) for k, x in v.items() if x is not None}
    if isinstance(v, list):
        return [_drop_nulls(x) for x in v]
    return v


def _check_docs_pass(run: Run, got: dict, expect: dict, out_dir: str,
                     suite: bool) -> None:
    n_buckets = DAYS
    if "manifest" not in got:
        run.outcome(n_buckets, [f"run_validation raised "
                                f"{got.get('manifest_error')}"] * n_buckets)
    else:
        man = got["manifest"]
        n_buckets = len(man["metrics"])
        problems = []
        verdicts = pq.read_table(os.path.join(out_dir, "verdicts"))
        viol = pq.read_table(os.path.join(out_dir, "violations"),
                             columns=["event_id", "field", "error_type",
                                      "expected", "actual"])
        if verdicts.num_rows != expect["docs"]:
            problems.append(f"verdict rows {verdicts.num_rows} != docs "
                            f"{expect['docs']}")
        if sum(m["violations"] for m in man["metrics"]) != viol.num_rows:
            problems.append("manifest violations != violation rows written")
        got_rows: dict = {}
        ids = set(expect["oracle"])
        for r in viol.filter(pc.is_in(
                viol["event_id"], pa.array(list(ids)))).to_pylist():
            got_rows.setdefault(r["event_id"], Counter())[
                (r["field"], r["error_type"], r["expected"], r["actual"])] += 1
        bad = [d for d in ids if got_rows.get(d, Counter())
               != expect["oracle"][d]]
        if bad:
            problems.append(f"js_oracle disagrees on {len(bad)} of "
                            f"{len(ids)} sampled docs, e.g. {bad[0]}")
        run.outcome(n_buckets, problems)
    if not suite:
        return
    checks = {
        "uniqueness.duplicate_keys": lambda v: {
            r["doc_id"]: r["dup_count"] for r in v} == expect["dups"],
        "referential.referential_violations_spans":
            lambda v: v == expect["dangling"],
        "stats.profile": lambda v: len(v) == 1 and v[0]["count"] ==
            expect["docs"] and (int(v[0]["min"]), int(v[0]["max"]))
            == expect["n_spans"],
        "drift.psi_two_cohorts": lambda v: math.isfinite(v[0]["psi"])
            and v[0]["psi"] > 0,
    }
    for name, ok in checks.items():
        v = got.get(name)
        if isinstance(v, Exception):
            run.outcome(1, [f"{name} raised {v!r}"])
        else:
            run.outcome(1, [] if ok(v) else [f"{name} output check failed"])


def docs_layers(spans: list[dict], sm: SparkMetrics, run: Run) -> dict:
    by = _spans_by_name(spans)
    steady = [s for s in by.get("pipeline.run_validation", [])
              if s["op"] > 0 and s["detail"]]
    pipe = [sm.totals(subtree_groups(spans, s["id"])) for s in steady]
    # per-bucket wall times as the pipeline's manifest reports them
    walls = run.info.get("bucket_wall_ms", {})
    out = {
        "pipeline.run_validation_s": _median(_dur(s) for s in steady),
        "pipeline.first_bucket_ms": walls.get(0, [0])[0],
        "pipeline.bucket_p50_ms": _median(
            w for s in steady for w in walls.get(s["op"], [])),
        "pipeline.jobs": _median(t["jobs"] for t in pipe),
        "pipeline.input_bytes": _median(t["input_bytes"] for t in pipe),
        "pipeline.output_bytes": _median(t["output_bytes"] for t in pipe),
        "pipeline.executor_cpu_s": _median(t["executor_cpu_s"] for t in pipe),
        "pipeline.gc_s": _median(t["gc_s"] for t in pipe),
    }
    for span_name, time_name, keys in (
            ("uniqueness.duplicate_keys", "uniqueness.duplicate_keys_s",
             ("uniqueness.shuffle_bytes", "uniqueness.task_skew")),
            ("referential.referential_violations_spans", "referential.spans_s",
             ("referential.shuffle_bytes",)),
            ("stats.profile", "stats.profile_s", ()),
            ("drift.psi_two_cohorts", "drift.psi_s", ())):
        ss = [s for s in by.get(span_name, []) if s["op"] > 0 and s["detail"]]
        tots = [sm.totals(subtree_groups(spans, s["id"])) for s in ss]
        out[time_name] = _median(_dur(s) for s in ss)
        for k in keys:
            out[k] = _median(t[k.split(".", 1)[1]] for t in tots)
    return out


# ---------------------------------------------------------------------------
# events_multi — micro-batch driver over GA4-shaped JSON events
# ---------------------------------------------------------------------------

BATCH = 5_000
N_BATCHES = 4          # distinct seeded batches, cycled
FILES_PER_BATCH = 4    # one input split per core


def events_multi(ctx: Ctx) -> Run:
    spark, tr, run = ctx.spark, ctx.tracer, Run()
    t_prep = time.monotonic()
    corpus = ga4.build_corpus(ctx.seed)
    run.info["corpus_shape"] = ga4.corpus_shape(corpus)
    batches = []
    for b in range(N_BATCHES):
        rows = ga4.make_events(ctx.seed * 1000 + b, corpus, BATCH,
                               first_id=b * BATCH)
        d = os.path.join(ctx.work, f"events_{b}")
        os.makedirs(d)
        per = BATCH // FILES_PER_BATCH
        for f in range(FILES_PER_BATCH):
            part = rows[f * per:(f + 1) * per]
            pq.write_table(pa.table({
                "event_id": pa.array([r[0] for r in part], pa.int64()),
                "event_name": [r[1] for r in part],
                "payload": [r[2] for r in part]}),
                os.path.join(d, f"part-{f}.parquet"))
        batches.append((d, _events_oracle(corpus, rows)))
    run.rows_per_op = BATCH
    codegen = ctx.spark._jvm.org.apache.spark.sql.catalyst.expressions \
        .codegen.CodeGenerator

    def one_batch(i: int) -> None:
        src, expect = batches[i % N_BATCHES]
        out_dir = os.path.join(ctx.work, f"violations_{i}")
        first = i == 0
        try:
            with tr.span("events_multi.batch", op=i):
                with tr.span("validation.build", op=i):
                    df = spark.read.parquet(src)
                    rows = explode_violations(
                        validate_multi(df, corpus, "event_name",
                                       json_col="payload"),
                        ["event_id", "event_name", "status"])
                if first and tr.detail:
                    with tr.span("validation.plan", op=i):
                        rows._jdf.queryExecution().executedPlan()
                c0 = codegen.compileTime() if tr.detail else 0
                with tr.span("validation.exec", op=i) as sp:
                    rows.write.parquet(out_dir)
                if tr.detail:
                    sp["codegen_compile_s"] = (codegen.compileTime() - c0) / 1e9
        except Exception as e:  # noqa: BLE001 - a failed batch
            run.outcome(1, [f"batch {i} raised {e!r}"])
            return
        run.outcome(1, _check_events_batch(out_dir, expect))
        shutil.rmtree(out_dir, ignore_errors=True)

    run.info["prep_s"] = time.monotonic() - t_prep
    overhead = {"on": [], "off": []}
    t_start = time.monotonic()
    t0 = time.monotonic()
    one_batch(0)
    run.first_s = time.monotonic() - t0
    _steady_loop(ctx, run, one_batch, 1, t_start, overhead)
    run.info["overhead_pct"] = _overhead_pct(overhead)
    return run


def _events_oracle(corpus: dict, rows: list) -> dict:
    """js_oracle verdicts for a whole batch: violation multiset and counts."""
    viol: Counter = Counter()
    failed = valid = unknown = 0
    for eid, name, payload in rows:
        if name not in corpus:
            unknown += 1
            continue
        try:
            vs = check_with_schema(corpus[name], json.loads(payload))
        except ValueError:
            vs = [("$", "invalid_request", "well-formed JSON",
                   "malformed JSON")]
        for v in vs:
            viol[(eid, *v)] += 1
        if vs:
            failed += 1
        else:
            valid += 1
    return {"viol": viol, "failed": failed, "valid": valid,
            "unknown": unknown, "n": len(rows)}


def _check_events_batch(out_dir: str, expect: dict) -> list[str]:
    t = pq.read_table(out_dir).to_pydict()
    got = Counter(zip(t["event_id"], t["field"], t["error_type"],
                      t["expected"], t["actual"]))
    problems = []
    if got != expect["viol"]:
        diff = list((got - expect["viol"]) + (expect["viol"] - got))[:2]
        problems.append(f"violations differ from js_oracle, e.g. {diff}")
    statuses = Counter(t["status"])
    failed = len(set(t["event_id"]))
    if set(statuses) - {"validation_failed"} or failed != expect["failed"]:
        problems.append(f"status counts {dict(statuses)} / {failed} failed "
                        f"vs {expect['failed']} expected")
    if failed + expect["valid"] + expect["unknown"] != expect["n"]:
        problems.append("status counts do not add up to the batch size")
    return problems


def events_layers(spans: list[dict], sm: SparkMetrics, run: Run) -> dict:
    by = _spans_by_name(spans)

    def one(name, op):
        return [s for s in by.get(name, []) if s["op"] == op]

    steady = [s for s in by.get("events_multi.batch", [])
              if s["op"] > 0 and s["detail"]]
    steady_ops = {s["op"] for s in steady}
    tots = [sm.totals(subtree_groups(spans, s["id"])) for s in steady]
    first_exec = one("validation.exec", 0)
    return {
        "validation.first_build_s": _median(map(_dur,
                                                one("validation.build", 0))),
        "validation.first_plan_s": _median(map(_dur,
                                               one("validation.plan", 0))),
        "validation.codegen_compile_s": _median(
            s.get("codegen_compile_s", 0.0) for s in first_exec),
        "validation.first_exec_s": _median(map(_dur, first_exec)),
        "validation.py4j_calls_first": _median(
            s["py4j_calls"] for s in one("events_multi.batch", 0)),
        "validation.py4j_calls_batch": _median(
            s["py4j_calls"] for s in steady),
        "validation.batch_build_p50_s": _median(
            _dur(s) for s in by.get("validation.build", [])
            if s["op"] in steady_ops),
        "validation.batch_exec_p50_s": _median(
            _dur(s) for s in by.get("validation.exec", [])
            if s["op"] in steady_ops),
        "validation.executor_cpu_s": _median(t["executor_cpu_s"]
                                             for t in tots),
        "validation.gc_s": _median(t["gc_s"] for t in tots),
    }


# ---------------------------------------------------------------------------
# corpus_dedup — corpus-curation operators from __spark_entry__.queries()
# ---------------------------------------------------------------------------

# The queries behind the open corpus items: bucket_pairs self-joins (m2,
# ann3), the hyperplane-signature pandas UDF (ann3) and the t-digest pandas
# UDAF with its checkpoint (drift3). The other corpus queries are left out to
# keep a run inside the time budget: m1/m3 repeat m2's pair mechanism, ann2
# ann3's signature UDF, ann4/ann5 (the KMeans driver collect and its
# distributed twin) cost about 5 s a run, and m1/m3/m4 have the slowest
# brute-force oracles.
CORPUS_QUERIES = {
    "m2_simhash_pairs": "dedup", "ann3_cosine_neardup": "similarity",
    "drift3_tdigest_ks": "drift",
}
QUERY_TABLE = {"dedup": "documents", "similarity": "embeddings",
               "drift": "events"}


def corpus_dedup(ctx: Ctx) -> Run:
    spark, tr, run = ctx.spark, ctx.tracer, Run()
    t_prep = time.monotonic()
    tdir = os.path.join(ctx.work, "tables")
    sizes = tables.write_tables(tdir, ctx.seed)
    run.info["tables"] = sizes
    run.rows_per_op = sum(sizes[QUERY_TABLE[m]]
                          for m in CORPUS_QUERIES.values())
    expect = _corpus_oracles(tdir)
    qs = entrymod.queries()
    built: dict = {}

    def check(name: str, rows, cols) -> list[str]:
        got = _multiset(cols, [tuple(r) for r in rows])
        return [] if got == expect[name] else [f"{name} differs from its "
                                               f"DuckDB oracle"]

    def fresh_pass() -> None:
        with tr.span("corpus_dedup.fresh", op=0):
            for name, module in CORPUS_QUERIES.items():
                try:
                    with tr.span(f"{module}.{name}.fresh", op=0):
                        df = qs[name](spark, tdir)
                        rows = df.collect()
                except Exception as e:  # noqa: BLE001 - a failed query
                    run.outcome(1, [f"{name} raised {e!r}"])
                    continue
                built[name] = df
                run.outcome(1, check(name, rows, df.columns))

    def steady_pass(i: int) -> None:
        with tr.span("corpus_dedup.steady", op=i):
            for name, module in CORPUS_QUERIES.items():
                if name not in built:
                    continue
                try:
                    # a noop write plans and runs the query again; a second
                    # collect() of one DataFrame would reuse its shuffles
                    with tr.span(f"{module}.{name}.steady", op=i):
                        built[name].write.format("noop").mode(
                            "overwrite").save()
                except Exception as e:  # noqa: BLE001
                    run.outcome(1, [f"{name} raised {e!r}"])
                    continue
                run.outcome(1, [])

    run.info["prep_s"] = time.monotonic() - t_prep
    overhead = {"on": [], "off": []}
    t_start = time.monotonic()
    t0 = time.monotonic()
    fresh_pass()
    run.first_s = time.monotonic() - t0
    _steady_loop(ctx, run, steady_pass, 1, t_start, overhead)
    run.info["overhead_pct"] = _overhead_pct(overhead)
    return run


def _canon(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def _multiset(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def _corpus_oracles(tdir: str) -> dict:
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(tdir, t)}.parquet'")
    sql = entrymod.oracle_sql()
    out = {}
    for name in CORPUS_QUERIES:
        res = con.sql(sql[name])
        out[name] = _multiset([d[0] for d in res.description],
                              res.fetchall())
    con.close()
    return out


def corpus_layers(spans: list[dict], sm: SparkMetrics, run: Run) -> dict:
    by = _spans_by_name(spans)
    out = {}
    for name, module in CORPUS_QUERIES.items():
        key = f"{module}.{name}"
        fresh = by.get(f"{key}.fresh", [])
        steady = [s for s in by.get(f"{key}.steady", []) if s["detail"]]
        ft = [sm.totals(subtree_groups(spans, s["id"])) for s in fresh]
        st = [sm.totals(subtree_groups(spans, s["id"])) for s in steady]
        out[f"{key}.fresh_s"] = _median(map(_dur, fresh))
        out[f"{key}.jobs"] = _median(t["jobs"] for t in ft)
        out[f"{key}.steady_s"] = _median(map(_dur, steady))
        out[f"{key}.shuffle_bytes"] = _median(t["shuffle_bytes"] for t in st)
        out[f"{key}.reused_exchanges"] = _median(t["reused_exchanges"]
                                                 for t in st)
    return out


# ---------------------------------------------------------------------------

def _spans_by_name(spans: list[dict]) -> dict[str, list[dict]]:
    by: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    return by


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


WORKLOADS = {
    "docs_batch": (docs_batch, docs_layers),
    "events_multi": (events_multi, events_layers),
    "corpus_dedup": (corpus_dedup, corpus_layers),
}
