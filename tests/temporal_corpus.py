"""Temporal/ordering-hostility corpus builder — the sixth robustness
axis (VERDICT r13 task 4).

The event-time surface (streaming replays, sessionize, windows,
gap-fill, OHLC, retention, as-of joins) is the least-fuzzed stateful
code: every prior axis varied KEYS and VALUES but left timestamps
well-behaved — monotone-ish, unique, one month of 2024, file order ≈
time order. At 100 TB none of that holds: ingest is out of order,
devices emit duplicate timestamps, clock bugs produce pre-1970 and
far-future values, and regional traffic clumps around DST transitions.
This builder replicates sf0.001 ``factor``× through pyarrow
(preserving physical types, like the skew/degenerate builders) and
injects exactly those shapes:

- **Out-of-order file layout** (``late_frac``): the earliest-timestamp
  slice of events is moved to the END of the written file, so file
  order is maximally unlike time order — any consumer that silently
  assumes scan order ≈ event order (a watermark replay fed multiple
  micro-batches, a LOCF that trusts input order) is exposed. Batch
  queries must be order-invariant by definition; this makes the
  property load-bearing.
- **Duplicate boundary timestamps** (``dup_frac``): that fraction of
  events has ts snapped DOWN to its exact hour boundary
  (``2024-01-07 13:00:00.000000``), so many distinct events collide on
  the exact tick that tumbling windows, ``date_trunc``, sessions and
  min_by/max_by tie-breaks pivot on. Determinism under ts ties is the
  hunted defect class: an OHLC open/close chosen by bare arg-min(ts)
  is nondeterministic when ts ties, and two engines may legally
  disagree.
- **Epoch extremes** (``n_extreme``): a fixed rotation of hostile
  timestamps — 1901 (far pre-epoch), 1969-12-31 23:59:59.999999 (one
  µs before epoch), 1970-01-01 00:00:00 (exactly epoch),
  1970-01-01 00:00:00.000001, and 2199-12-31 23:59:59 (far future,
  still inside int64-nanos range so the shape stays physical for
  NANOS-typed readers) — assigned to the corpus's FIRST user_id, so
  one "time-traveler" user carries a ~3-century event span. That user
  is the worst case for per-key spine generation (min→max hour range
  ≈ 2.6M hours): a gap-fill that materializes per-key spines GROWS
  with one outlier row, the classic production hazard this axis
  exists to surface.
- **DST-transition clusters** (``dst_frac``): dense bursts in the
  minutes around 2024-03-10 07:00 UTC (US spring-forward) and
  2024-11-03 06:00 UTC (fall-back), with repeated exact collisions.
  Query code is session-timezone-independent by design
  (functions/timeutil.py), so this is a density + tie shape, and the
  axis KEEPS it hostile against future tz-aware code.
- **orders / lineitem**: 1× copies with ``n_extreme`` o_orderdate /
  l_shipdate values rewritten onto the same hostile rotation (range
  filters must drop them, spines and range frames must survive them).
- documents / embeddings / dims: 1× copies — this axis varies TIME
  only, so any new failure is attributable.

Used by the one-off full-registry survey (PERFORMANCE.md round 14)
and the standing gate ``test_temporal_corpus.py``.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

# the hostile rotation; naive datetimes (corpus timestamps are NTZ µs)
EXTREME_TS = [
    dt.datetime(1901, 6, 15, 12, 0, 0),
    dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
    dt.datetime(1970, 1, 1, 0, 0, 0),
    dt.datetime(1970, 1, 1, 0, 0, 0, 1),
    dt.datetime(2199, 12, 31, 23, 59, 59),
]

# DST-transition instants in UTC (US 2024 spring-forward / fall-back)
DST_CENTERS = [
    dt.datetime(2024, 3, 10, 7, 0, 0),
    dt.datetime(2024, 11, 3, 6, 0, 0),
]

# replica id offsets: far above any sf0.1 key range, far below 2^53
_OFF = 10_000_000


def build_temporal_corpus(
    src_dir: str,
    out_dir: str,
    factor: int = 3,
    late_frac: float = 0.1,
    dup_frac: float = 0.1,
    dst_frac: float = 0.03,
    n_extreme: int = 10,
) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for path in sorted(glob.glob(os.path.join(src_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        t = pq.read_table(path)
        if name == "events":
            out = _hostile_events(
                pa, t, factor, late_frac, dup_frac, dst_frac, n_extreme
            )
        elif name in ("orders", "lineitem"):
            out = _hostile_dates(
                pa, t, "o_orderdate" if name == "orders" else "l_shipdate",
                n_extreme,
            )
        else:
            out = t  # time-free tables stay 1x: failures stay attributable
        pq.write_table(out, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def _hostile_events(pa, t, factor, late_frac, dup_frac, dst_frac, n_extreme):
    cols = {f.name: t.column(f.name).to_pylist() for f in t.schema}
    n = t.num_rows
    time_traveler = cols["user_id"][0]

    # deterministic row-class assignment: position within the
    # replicated stream, no RNG (stable corpus across
    # repeated surveys) — same idiom as skew_corpus.hot()
    def cls(i: int, rep: int) -> int:
        return ((i + rep * n) * 7919) % 1000

    dup_cut = int(dup_frac * 1000)
    dst_cut = dup_cut + int(dst_frac * 1000)

    rows = []  # (ts, event_id, user_id, event_type, value, props)
    n_placed_extreme = 0
    for rep in range(factor):
        for i in range(n):
            ts = cols["ts"][i]
            if ts is not None and rep:
                # +rep seconds: replicas are distinct events, not replays
                ts = ts + dt.timedelta(seconds=rep)
            user = cols["user_id"][i]
            c = cls(i, rep)
            if n_placed_extreme < n_extreme and (i + rep * n) % 97 == 0:
                # epoch extremes, all on ONE user: a 3-century span for
                # per-key min→max spine generators. +index µs keeps the
                # injected events distinct.
                ts = EXTREME_TS[n_placed_extreme % len(EXTREME_TS)]
                ts = ts + dt.timedelta(microseconds=n_placed_extreme // len(EXTREME_TS))
                user = time_traveler
                n_placed_extreme += 1
            elif ts is not None and c < dup_cut:
                # snap DOWN to the exact hour boundary: mass ts ties on
                # the exact tick windows/date_trunc/sessions pivot on
                ts = ts.replace(minute=0, second=0, microsecond=0)
            elif ts is not None and c < dst_cut:
                # DST cluster: ±60 s around the transition, second
                # granularity → repeated exact collisions by design
                center = DST_CENTERS[(i + rep * n) % len(DST_CENTERS)]
                ts = center + dt.timedelta(seconds=(i + rep * n) % 120 - 60)
            rows.append((
                ts,
                cols["event_id"][i] + rep * _OFF,
                user,
                cols["event_type"][i],
                cols["value"][i],
                cols["props"][i],
            ))

    # out-of-order file layout: the earliest late_frac of rows BY TS
    # goes to the END of the file (a "late storm" — the stalest data
    # arrives last). Sort the candidates by ts, carve the slice, keep
    # everything else in original (already non-monotone) order.
    with_ts = sorted(
        range(len(rows)), key=lambda j: (rows[j][0] is None, rows[j][0] or dt.datetime.min)
    )
    n_late = int(late_frac * len(rows))
    late_set = set(with_ts[:n_late])
    ordered = [rows[j] for j in range(len(rows)) if j not in late_set]
    ordered += [rows[j] for j in with_ts[:n_late]]

    names = ["ts", "event_id", "user_id", "event_type", "value", "props"]
    by_col = {nm: [r[k] for r in ordered] for k, nm in enumerate(names)}
    arrays = [pa.array(by_col[f.name], type=f.type) for f in t.schema]
    return pa.table(arrays, schema=pa.schema([(f.name, f.type) for f in t.schema]))


def _hostile_dates(pa, t, col, n_extreme):
    cols = {f.name: t.column(f.name).to_pylist() for f in t.schema}
    n = t.num_rows
    placed = 0
    vals = cols[col]
    for i in range(n):
        if placed < n_extreme and i % 89 == 0:
            vals[i] = EXTREME_TS[placed % len(EXTREME_TS)]
            placed += 1
    arrays = [pa.array(cols[f.name], type=f.type) for f in t.schema]
    return pa.table(arrays, schema=pa.schema([(f.name, f.type) for f in t.schema]))
