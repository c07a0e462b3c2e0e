"""Rotated-vocabulary corpus builder — the r11 robustness axis,
extracted from the test fixture (r15) so the full-registry oracle
sweeps over every axis corpus and the standing gate
(test_rotated_corpus.py) build the IDENTICAL corpus.

Scheme (mirrors scripts/build_scale_corpus.py, collapsed to one
factor): documents get shifted ids and a length-preserving [a-z] /
[A-Z] / [0-9] rotation of text plus re-labeled sources; fact-table
keys shift; events go through pyarrow so ts keeps its physical
TIMESTAMP(NANOS) parquet type (load_table's nanosAsLong path only
engages for the type the driver corpus actually has); dims copy 1x.
"""

from __future__ import annotations

import shutil


def build_rotated_corpus(src: str, out: str) -> str:
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)

    lower = "abcdefghijklmnopqrstuvwxyz"
    upper = lower.upper()
    digits = "0123456789"
    frm = lower + upper + digits
    to = lower[1:] + lower[0] + upper[1:] + upper[0] + digits[1:] + digits[0]

    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
            SELECT doc_id + 9000000 AS doc_id,
                   translate(text, '{frm}', '{to}') AS text,
                   lang,
                   'r-' || translate(source, '{digits}', 'abcdefghij')
                       AS source,
                   n_chars
            FROM read_parquet('{src}/documents.parquet')
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
            SELECT o_orderkey + 90000000 AS o_orderkey,
                   o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority
            FROM read_parquet('{src}/orders.parquet')
        ) TO '{out}/orders.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
            SELECT l_orderkey + 90000000 AS l_orderkey,
                   * EXCLUDE (l_orderkey)
            FROM read_parquet('{src}/lineitem.parquet')
        ) TO '{out}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
            SELECT vec_id + 9000000 AS vec_id, embedding, label
            FROM read_parquet('{src}/embeddings.parquet')
        ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    con.close()

    # events through pyarrow so ts keeps its physical parquet type
    t = pq.read_table(f"{src}/events.parquet")
    t = t.set_column(
        t.schema.get_field_index("event_id"),
        "event_id",
        pa.compute.add(t.column("event_id"), 9_000_000),
    )
    t = t.set_column(
        t.schema.get_field_index("user_id"),
        "user_id",
        pa.compute.add(t.column("user_id"), 900_000),
    )
    pq.write_table(t, f"{out}/events.parquet")

    for dim in ("region", "nation", "customer", "supplier", "part"):
        shutil.copyfile(f"{src}/{dim}.parquet", f"{out}/{dim}.parquet")
    return out
