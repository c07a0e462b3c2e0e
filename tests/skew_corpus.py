"""Extreme-key-skew corpus builder — the fifth robustness axis
(VERDICT r12 task 6).

SURVEY §4 names the real 100 TB risk as "one monorepo dominates": a
single key holding most of the rows — one bot user generating ~90% of
events, one source (the monorepo) holding ~90% of documents with
heavily shared boilerplate, one whale customer placing ~90% of orders.
Uniform-hash shuffles put that key's entire mass in ONE task; a plan
that is fine at uniform sf0.1 dies there. This builder replicates
sf0.001 ``factor``× through pyarrow (preserving every physical type,
like the degenerate-corpus builder) and injects exactly that shape:

- ``events``: ``hot_frac`` of rows get one user_id (the bot); event_id
  offset per replica keeps ids unique; ts jittered +replica seconds so
  streaming dedup/sessionize see distinct events, not replays.
- ``documents``: ``hot_frac`` of rows get source='monorepo-hot' and a
  shared ~40-token boilerplate prefix in front of the original text
  (shingle/token skew: the boilerplate shingles appear in every hot
  doc — PPJoin prefix filtering and MinHash banding stress), plus one
  moderate exact-duplicate class (``n_exact_dupes`` copies of one
  text) for cluster-collapse under a big class. n_chars recomputed.
- ``orders``: ``hot_frac`` of rows get one o_custkey (the whale).
  o_orderkey offset per replica; lineitem l_orderkey follows the same
  offset so FK joint-ness is preserved.
- ``lineitem``: half the rows additionally get one hot l_partkey
  (suppkey/partkey remain valid dim FKs — the hot keys are existing
  keys).
- ``embeddings``: ``emb_frac`` (default 0.3) of vectors become copies
  of one vector — the degenerate-LSH-bucket shape (default-embedding
  backfill): one bucket holds the mass, candidate pairs grow
  quadratically in it.
- dims (region/nation/customer/supplier/part) stay 1× so every FK
  remains dense.

Used by the one-off full-registry survey (PERFORMANCE.md round 13)
and the standing gate ``test_skew_corpus.py``.
"""

from __future__ import annotations

import glob
import os

BOILERPLATE = (
    "copyright header license apache version not use file except "
    "compliance obtain copy distributed software basis without "
    "warranties conditions either express implied governing language "
    "permissions limitations under terms build config module import "
    "package export default generated do not edit "
)

HOT_SOURCE = "monorepo-hot"

# replica id offsets: far above any sf0.1 key range, far below 2^53
_OFF = 10_000_000


def build_skew_corpus(
    src_dir: str,
    out_dir: str,
    factor: int = 10,
    hot_frac: float = 0.9,
    emb_frac: float = 0.3,
    n_exact_dupes: int = 100,
) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for path in sorted(glob.glob(os.path.join(src_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        t = pq.read_table(path)
        if name in ("events", "documents", "orders", "lineitem", "embeddings"):
            out = _replicate_skewed(
                pa, name, t, factor, hot_frac, emb_frac, n_exact_dupes
            )
        else:
            out = t  # dims stay 1x: FKs remain dense
        pq.write_table(out, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def _replicate_skewed(
    pa, name, t, factor, hot_frac, emb_frac, n_exact_dupes
):
    cols = {f.name: t.column(f.name).to_pylist() for f in t.schema}
    n = t.num_rows
    out = {f.name: [] for f in t.schema}

    # deterministic "is this row hot" assignment: position within the
    # replicated stream, no RNG (stable corpus across
    # repeated surveys)
    def hot(i: int, rep: int, frac: float) -> bool:
        return ((i + rep * n) * 7919) % 1000 < int(frac * 1000)

    if name == "events":
        hot_user = cols["user_id"][0]
        for rep in range(factor):
            for i in range(n):
                out["event_id"].append(cols["event_id"][i] + rep * _OFF)
                ts = cols["ts"][i]
                # +rep seconds: replicas are distinct events, not replays
                out["ts"].append(
                    ts if rep == 0 else ts + __import__("datetime").timedelta(seconds=rep)
                )
                out["user_id"].append(
                    hot_user if hot(i, rep, hot_frac) else cols["user_id"][i]
                )
                out["event_type"].append(cols["event_type"][i])
                out["value"].append(cols["value"][i])
                out["props"].append(cols["props"][i])
    elif name == "documents":
        dup_text = "the quick brown fox jumps over the lazy dog " * 8
        n_dup = 0
        for rep in range(factor):
            for i in range(n):
                out["doc_id"].append(cols["doc_id"][i] + rep * _OFF)
                if n_dup < n_exact_dupes and (i + rep * n) % 37 == 0:
                    text, src = dup_text, HOT_SOURCE
                    n_dup += 1
                elif hot(i, rep, hot_frac):
                    text = BOILERPLATE + (cols["text"][i] or "")
                    src = HOT_SOURCE
                else:
                    text, src = cols["text"][i], cols["source"][i]
                out["text"].append(text)
                out["lang"].append(cols["lang"][i])
                out["source"].append(src)
                out["n_chars"].append(len(text) if text is not None else None)
    elif name == "orders":
        hot_cust = cols["o_custkey"][0]
        for rep in range(factor):
            for i in range(n):
                out["o_orderkey"].append(cols["o_orderkey"][i] + rep * _OFF)
                out["o_custkey"].append(
                    hot_cust if hot(i, rep, hot_frac) else cols["o_custkey"][i]
                )
                for c in (
                    "o_orderstatus",
                    "o_totalprice",
                    "o_orderdate",
                    "o_orderpriority",
                ):
                    out[c].append(cols[c][i])
    elif name == "lineitem":
        hot_part = cols["l_partkey"][0]
        for rep in range(factor):
            for i in range(n):
                # l_orderkey follows orders' replica offset: FK joint
                out["l_orderkey"].append(cols["l_orderkey"][i] + rep * _OFF)
                out["l_partkey"].append(
                    hot_part if hot(i, rep, 0.5) else cols["l_partkey"][i]
                )
                for c in (
                    "l_suppkey",
                    "l_linenumber",
                    "l_quantity",
                    "l_extendedprice",
                    "l_discount",
                    "l_tax",
                    "l_returnflag",
                    "l_linestatus",
                    "l_shipdate",
                ):
                    out[c].append(cols[c][i])
    elif name == "embeddings":
        hot_vec = cols["embedding"][0]
        for rep in range(factor):
            for i in range(n):
                out["vec_id"].append(cols["vec_id"][i] + rep * _OFF)
                out["embedding"].append(
                    hot_vec if hot(i, rep, emb_frac) else cols["embedding"][i]
                )
                out["label"].append(cols["label"][i])

    arrays = [
        pa.array(out[f.name], type=f.type) for f in t.schema
    ]
    return pa.table(arrays, schema=pa.schema([(f.name, f.type) for f in t.schema]))
