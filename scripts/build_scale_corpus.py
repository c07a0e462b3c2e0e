#!/usr/bin/env python
"""Build the 10x-scaled corpus for the cores/scale studies.

Rounds 6/8 built equivalent corpora ad-hoc and lost the builders with
the session; this one is committed so the scale studies reproduce.

Scheme (PERFORMANCE.md round 10):
- documents: 10 copies; copy k shifts doc_id by k*100000 and rotates
  [a-z], [A-Z], [0-9] each by k via translate() — length-preserving,
  identical chars map identically WITHIN a copy (so each copy
  reproduces the 1x dedup/near-dup pair structure). Cross-copy,
  char-5-grams containing at least one alphanumeric are disjoint for
  k > 0; shingles made purely of whitespace/punctuation (untouched by
  the rotation) still collide across copies, so a small tail of
  artificial cross-copy near-dup pairs is possible (ADVICE r10) —
  acceptable for the throughput studies these corpora feed, where
  candidate volume, not exact pair identity, drives the numbers.
- lineitem/orders: 10 copies with orderkeys shifted by k*10_000_000 —
  the l_orderkey -> o_orderkey FK is preserved; part/supp/cust keys
  stay within the UNSCALED dims (facts grow, dims fixed — the realistic
  scale-up shape).
- embeddings: 10 copies with shifted vec_ids, vectors unchanged
  (brute-force/index work is |corpus|-proportional regardless of
  values; near-dup structure replicates per copy).
- events: 10 copies via PYARROW, not DuckDB — round-10 copied events
  1x because a DuckDB rewrite changes the ts column's physical
  parquet type (load_table handles both TIMESTAMP(NANOS)-as-long and
  plain us-timestamps, but the corpus must exercise the same physical
  type the driver testdata has). pyarrow read->concat->write keeps
  the arrow type bit-for-bit. Copy k shifts event_id by k*1_000_000
  and user_id by k*100_000 with timestamps UNCHANGED: every copy
  reproduces the 1x per-user session/window structure (windows and
  sessionization partition by user), while each time bucket gets 10x
  the rows — the right shape for screening the window/streaming/
  events families for serialized stages (round 11).
- region/nation/customer/supplier/part copied 1x (dims fixed).

Usage: python scripts/build_scale_corpus.py [src_sf_dir] [out_dir]
Defaults: /root/testdata/sf0.1 -> /tmp/scale_cores
"""

from __future__ import annotations

import shutil
import string
import sys
from pathlib import Path

import duckdb

COPIES = 10
DOC_ID_STRIDE = 100_000
ORDERKEY_STRIDE = 10_000_000
VEC_ID_STRIDE = 100_000
EVENT_ID_STRIDE = 1_000_000   # max event_id at sf0.1 is 99_999
USER_ID_STRIDE = 100_000      # max user_id at sf0.1 is 1_499


def rot_expr(col: str, k: int) -> str:
    if k == 0:
        return col
    src = string.ascii_lowercase + string.ascii_uppercase + string.digits
    dst = (
        string.ascii_lowercase[k:] + string.ascii_lowercase[:k]
        + string.ascii_uppercase[k:] + string.ascii_uppercase[:k]
        + string.digits[k:] + string.digits[:k]
    )
    return f"translate({col}, '{src}', '{dst}')"


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale_cores")
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()

    docs = [
        f"SELECT doc_id + {k * DOC_ID_STRIDE} AS doc_id,"
        f" {rot_expr('text', k)} AS text, {rot_expr('lang', k)} AS lang,"
        f" {rot_expr('source', k)} AS source, n_chars"
        f" FROM read_parquet('{sf}/documents.parquet')"
        for k in range(COPIES)
    ]
    con.execute(
        f"COPY ({' UNION ALL '.join(docs)}) TO '{out}/documents.parquet'"
        " (FORMAT PARQUET)"
    )

    for t, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        parts = [
            f"SELECT * REPLACE ({key} + {k * ORDERKEY_STRIDE} AS {key})"
            f" FROM read_parquet('{sf}/{t}.parquet')"
            for k in range(COPIES)
        ]
        con.execute(
            f"COPY ({' UNION ALL '.join(parts)}) TO '{out}/{t}.parquet'"
            " (FORMAT PARQUET)"
        )

    embs = [
        f"SELECT vec_id + {k * VEC_ID_STRIDE} AS vec_id, embedding, label"
        f" FROM read_parquet('{sf}/embeddings.parquet')"
        for k in range(COPIES)
    ]
    con.execute(
        f"COPY ({' UNION ALL '.join(embs)}) TO '{out}/embeddings.parquet'"
        " (FORMAT PARQUET)"
    )

    for t in ("region", "nation", "customer", "supplier", "part"):
        shutil.copy(f"{sf}/{t}.parquet", out / f"{t}.parquet")

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ev = pq.read_table(f"{sf}/events.parquet")
    copies = []
    for k in range(COPIES):
        c = ev
        for col, stride in (("event_id", EVENT_ID_STRIDE), ("user_id", USER_ID_STRIDE)):
            idx = c.schema.get_field_index(col)
            shifted = pc.add(c.column(col), pa.scalar(k * stride, type=pa.int64()))
            c = c.set_column(idx, col, shifted)
        copies.append(c)
    scaled = pa.concat_tables(copies)
    assert scaled.schema.field("ts").type == ev.schema.field("ts").type
    pq.write_table(scaled, out / "events.parquet")

    for t in ("documents", "lineitem", "orders", "embeddings", "events"):
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    main()
