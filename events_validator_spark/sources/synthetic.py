"""Deterministic synthetic interleaved text+media documents (FIXTURES.md §1).

Shape per BASELINE.json ``input_hint``:
    doc_id: string,
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

Generated ENTIRELY with column expressions over ``spark.range`` — no driver-side
rows, no Python on executors — so the same generator scales from 100 rows (pytest)
to 10^12 rows (cluster): data volume is bounded only by ``n_docs`` and Spark's
range parallelism. All randomness is ``xxhash64(id, seed)``-derived → identical
output for identical (n_docs, seed) at any parallelism.

Anomaly injection (hash-bucketed, FIXTURES.md §1 knobs):
    bucket 0-4   (~0.5%): span 0 has NULL kind            → 'missing'
    bucket 5-9   (~0.5%): a text span with '' text        → optional-skip fidelity
    bucket 10-14 (~0.5%): kind='video'                    → 'enum'
    bucket 15-19 (~0.5%): malformed media_ref             → 'regex'
    bucket 20-24 (~0.5%): well-formed but dangling media_ref → referential
    bucket 30    (~0.1%): duplicate doc_id (copies id-1)  → uniqueness
    5% of docs share doc_id 'doc_hot'                     → hot-key skew (salting)
    second half of ids: span-count + kind-mix shift       → drift (KS / PSI)
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

SEED = 42
CATALOG_SIZE_RATIO = 4  # media refs point into a catalog of n_docs/ratio entries

_VOCAB = ("key agg row scan slow fast table value part hash merge batch spark "
          "line sort window join shuffle broadcast").split()


def _h(*cols: Column) -> Column:
    return F.abs(F.xxhash64(*cols, F.lit(SEED)))


def media_catalog(spark: SparkSession, n_refs: int) -> DataFrame:
    """Referential-integrity target: media_ref (pk), mime, bytes."""
    r = spark.range(n_refs)
    return r.select(
        _fmt_ref(F.col("id")).alias("media_ref"),
        F.when(F.pmod(_h(F.col("id")), F.lit(3)) == 0, "image/png")
        .when(F.pmod(_h(F.col("id")), F.lit(3)) == 1, "audio/wav")
        .otherwise("video/mp4").alias("mime"),
        (F.pmod(_h(F.col("id"), F.lit(7)), F.lit(1_000_000)) + 1024).alias("bytes"),
    )


def _fmt_ref(idx: Column) -> Column:
    # media_[0-9a-f]{8}
    return F.concat(F.lit("media_"), F.lpad(F.lower(F.hex(idx)), 8, "0"))


def interleaved_docs(spark: SparkSession, n_docs: int,
                     n_partitions: int | None = None) -> DataFrame:
    """The synthetic interleaved-docs table; deterministic for a given n_docs."""
    catalog_n = max(n_docs // CATALOG_SIZE_RATIO, 16)
    r = spark.range(0, n_docs, numPartitions=n_partitions or None)
    i = F.col("id")
    h = _h(i)
    bucket = F.pmod(h, F.lit(1000))

    # doc_id: ~0.1% duplicates (copy the previous id), 5% hot key
    base_id = F.concat(F.lit("doc_"), i.cast("string"))
    dup_id = F.concat(F.lit("doc_"), F.greatest(i - 1, F.lit(0)).cast("string"))
    doc_id = (
        F.when(F.pmod(h, F.lit(20)) == 0, F.lit("doc_hot"))       # 5% hot key
        .when(bucket == 30, dup_id)                                # ~0.1% dups
        .otherwise(base_id)
    )

    # span count: first half 1..8 uniform; second half shifted up (drift signal)
    first_half = i < F.lit(n_docs // 2)
    n_spans = F.when(first_half, F.pmod(_h(i, F.lit(1)), F.lit(8)) + 1) \
               .otherwise(F.pmod(_h(i, F.lit(2)), F.lit(5)) + 4)

    def make_span(j: Column) -> Column:
        hs = _h(i, j, F.lit(3))
        # kind mix: first half alternates; second half is media-heavier (drift)
        is_text = F.when(first_half, F.pmod(j, F.lit(2)) == 0) \
                   .otherwise(F.pmod(hs, F.lit(3)) == 0)
        kind = (
            F.when((bucket < 5) & (j == 0), F.lit(None).cast("string"))
            .when((bucket >= 10) & (bucket < 15) & (j == 0), F.lit("video"))
            .otherwise(F.when(is_text, "text").otherwise("media"))
        )
        words = F.transform(
            F.sequence(F.lit(0), F.pmod(hs, F.lit(6)) + 2),
            lambda w: F.element_at(
                F.array(*[F.lit(x) for x in _VOCAB]),
                (F.pmod(_h(i, j, w), F.lit(len(_VOCAB))) + 1).cast("int")))
        text = (
            F.when((bucket >= 5) & (bucket < 10) & (j == 0) & is_text, F.lit(""))
            .when(is_text, F.concat_ws(" ", words))
            .otherwise(F.lit(None).cast("string"))
        )
        ref_idx = F.pmod(hs, F.lit(catalog_n))
        media_ref = (
            F.when(is_text, F.lit(None).cast("string"))
            .when((bucket >= 15) & (bucket < 20) & (j == 0),
                  F.concat(F.lit("media-BAD-"), ref_idx.cast("string")))
            .when((bucket >= 20) & (bucket < 25) & (j == 0),
                  _fmt_ref(ref_idx + F.lit(catalog_n)))   # dangling: beyond catalog
            .otherwise(_fmt_ref(ref_idx))
        )
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            media_ref.alias("media_ref"),
            j.cast("int").alias("offset"),
        )

    spans = F.transform(F.sequence(F.lit(0), (n_spans - 1).cast("int")), make_span)
    return r.select(doc_id.alias("doc_id"), spans.alias("spans"))


# The flagship rule set for the interleaved-docs table (reference grammar
# /root/reference/validator_src/helpers/validationHelpers.js:130-164, plus the
# engine-extension 'enum' rule mandated by the north rule).
DOC_RULES: dict = {
    "doc_id": {"type": "string", "regex": "^doc_[0-9a-z]+$"},
    "spans": {
        "type": "array",
        "nestedSchema": {
            "kind": {"type": "string", "enum": ["text", "media"]},
            "text": {"type": "string", "optional": True},
            "media_ref": {"type": "string", "optional": True,
                          "regex": "^media_[0-9a-f]{8}$"},
            "offset": {"type": "number"},
        },
    },
}


def row_to_event(row) -> dict:
    """Spark Row → plain dict for the pure-Python oracle, dropping None values
    (typed columns cannot distinguish missing from null; the engine maps
    NULL ⇒ absent, so the oracle must see the same world). Decimals become
    floats: a JS number is a double."""
    def conv(v):
        if isinstance(v, Decimal):
            return float(v)
        if hasattr(v, "asDict"):
            return {k: conv(x) for k, x in v.asDict().items() if x is not None}
        if isinstance(v, list):
            return [conv(x) for x in v]
        return v
    return {k: conv(v) for k, v in row.asDict().items() if v is not None}
