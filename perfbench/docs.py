"""Seeded interleaved text+media documents for the batch pipeline workload.

The table has the schema and anomaly mix of the engine's own generator
(``sources.synthetic.interleaved_docs``), which fixes its seed and compiles a
large generator plan in the JVM before the first timed pass. This one runs in
Python, takes the benchmark seed and leaves the JVM as ``get_spark`` left it,
so the first pass is a fresh one.

Per document: 5 % share the hot key ``doc_hot`` and 0.1 % copy the previous
doc_id (uniqueness); 0.5 % each have a NULL span kind, an empty text span,
kind ``video``, a malformed media_ref or a dangling media_ref; the second half
has more and media-heavier spans (drift). Documents are spread over
``days`` date partitions, ``files_per_day`` files each.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_RATIO = 4  # media refs point into a catalog of n_docs / 4 entries
_VOCAB = ("key agg row scan slow fast table value part hash merge batch spark "
          "line sort window join shuffle broadcast").split()
_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])


def _ref(idx: int) -> str:
    return f"media_{idx:08x}"


def write_docs(out_dir: str, seed: int, n_docs: int, days: int,
               files_per_day: int) -> int:
    """Write ``out_dir/docs/date_utc=.../*.parquet`` and the media catalog
    ``out_dir/catalog/``; returns the catalog size."""
    rng = random.Random(seed)
    n_cat = max(n_docs // CATALOG_RATIO, 16)
    by_day: list[tuple[list, list]] = [([], []) for _ in range(days)]
    for i in range(n_docs):
        b = int(rng.random() * 1000)
        doc_id = ("doc_hot" if rng.random() < 0.05
                  else f"doc_{max(i - 1, 0)}" if b == 30 else f"doc_{i}")
        first_half = i < n_docs // 2
        n_spans = rng.randint(1, 8) if first_half else rng.randint(4, 8)
        spans = []
        for j in range(n_spans):
            is_text = j % 2 == 0 if first_half else rng.random() < 1 / 3
            kind = "text" if is_text else "media"
            if j == 0 and b < 5:
                kind = None
            elif j == 0 and 10 <= b < 15:
                kind = "video"
            text = ref = None
            if is_text:
                text = ("" if j == 0 and 5 <= b < 10 else " ".join(
                    rng.choices(_VOCAB, k=rng.randint(2, 7))))
            else:
                idx = int(rng.random() * n_cat)
                ref = (f"media-BAD-{idx}" if j == 0 and 15 <= b < 20
                       else _ref(idx + n_cat) if j == 0 and 20 <= b < 25
                       else _ref(idx))
            spans.append({"kind": kind, "text": text, "media_ref": ref,
                          "offset": j})
        ids, sp = by_day[rng.randrange(days)]
        ids.append(doc_id)
        sp.append(spans)

    start = dt.date(2024, 1, 1)
    for d, (ids, sp) in enumerate(by_day):
        part = os.path.join(out_dir, "docs",
                            f"date_utc={start + dt.timedelta(days=d)}")
        os.makedirs(part)
        per = -(-len(ids) // files_per_day)
        for f in range(files_per_day):
            sl = slice(f * per, (f + 1) * per)
            pq.write_table(pa.table({
                "doc_id": pa.array(ids[sl], pa.string()),
                "spans": pa.array(sp[sl], pa.list_(_SPAN))}),
                os.path.join(part, f"part-{f}.parquet"))

    rng_cat = random.Random(seed + 1)
    cat_dir = os.path.join(out_dir, "catalog")
    os.makedirs(cat_dir)
    pq.write_table(pa.table({
        "media_ref": [_ref(k) for k in range(n_cat)],
        "mime": [rng_cat.choice(["image/png", "audio/wav", "video/mp4"])
                 for _ in range(n_cat)],
        "bytes": pa.array([rng_cat.randrange(1024, 1_001_024)
                           for _ in range(n_cat)], pa.int64())}),
        os.path.join(cat_dir, "part-0.parquet"))
    return n_cat
