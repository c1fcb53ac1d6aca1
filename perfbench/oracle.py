"""Reference results the benchmark checks the engine's outputs against,
computed in pandas from the generated events alone, plus the benchmark's
percentile rule.

Each ``*_mismatches`` function returns the number of rows on which the
engine's output and the oracle disagree (rows missing on either side,
or present with different values); 0 means the output is correct.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd

from gen import VALUE_COLS

LWW_ORDER = ["writetime", "segment", "position"]


def mutations(events: pd.DataFrame) -> pd.DataFrame:
    """One row per distinct (pk, digest): replica copies share every
    column but node_id/segment/position, so the first copy stands for
    the mutation."""
    return events.sort_values(LWW_ORDER, kind="mergesort").drop_duplicates(
        ["pk", "digest"], keep="first"
    )


def lww_active(events: pd.DataFrame) -> pd.DataFrame:
    """Last-write-wins winner per key by (writetime, segment, position),
    DELETE winners hidden: the store's active view."""
    win = events.sort_values(LWW_ORDER, kind="mergesort").drop_duplicates(
        "pk", keep="last"
    )
    return win[win["op"] != "DELETE"]


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return round(v, 2)
    return v


def _rows(df: pd.DataFrame, cols: list[str]) -> Counter:
    return Counter(
        tuple(_norm(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )


def _diff(got: Counter, want: Counter) -> int:
    return sum(((got - want) + (want - got)).values())


def active_mismatches(got: pd.DataFrame, events: pd.DataFrame) -> int:
    """Store active view (pk + value columns) against the LWW oracle."""
    cols = ["pk", *VALUE_COLS]
    return _diff(_rows(got, cols), _rows(lww_active(events), cols))


def expected_topic(events: pd.DataFrame, snapshot: pd.DataFrame) -> pd.DataFrame:
    """The connector's records: one per distinct (pk, digest); the value
    is the snapshot row read after the event, a tombstone when the event
    is a DELETE or the key is absent from the snapshot."""
    m = mutations(events)[["pk", "op"]]
    out = m.merge(snapshot, on="pk", how="left", indicator=True)
    tomb = (out["op"] == "DELETE") | (out["_merge"] != "both")
    out["tombstone"] = tomb
    for c in VALUE_COLS:
        out[c] = out[c].astype(object).where(~tomb, None)
    return out[["pk", "tombstone", *VALUE_COLS]]


def topic_mismatches(
    got: pd.DataFrame, events: pd.DataFrame, snapshot: pd.DataFrame
) -> int:
    cols = ["pk", "tombstone", *VALUE_COLS]
    return _diff(_rows(got, cols), _rows(expected_topic(events, snapshot), cols))


def replay_change_feed(changes: pd.DataFrame, base: pd.DataFrame | None = None) -> pd.DataFrame:
    """Net effect of a change feed on ``base`` (the table at the feed's
    starting version): apply each commit version in order, removals
    (delete, update_preimage) before additions (insert, update_postimage)."""
    cols = ["pk", *VALUE_COLS]
    state = {}
    if base is not None:
        state = {r[0]: r for r in base[cols].itertuples(index=False, name=None)}
    rank = {"delete": 0, "update_preimage": 0, "insert": 1, "update_postimage": 1}
    ordered = changes.assign(rk=changes["_change_type"].map(rank)).sort_values(
        ["_commit_version", "rk"], kind="mergesort"
    )
    for rk, *row in ordered[["rk", *cols]].itertuples(index=False, name=None):
        if rk == 0:
            state.pop(row[0], None)
        else:
            state[row[0]] = tuple(row)
    return pd.DataFrame(list(state.values()), columns=cols)


def changefeed_mismatches(
    changes: pd.DataFrame, events: pd.DataFrame, base: pd.DataFrame | None = None
) -> int:
    cols = ["pk", *VALUE_COLS]
    net = replay_change_feed(changes, base)
    return _diff(_rows(net, cols), _rows(lww_active(events), cols))


def percentile(values, q: float) -> float | None:
    """The q-th percentile (linear interpolation), or None when fewer than
    ten samples lie beyond it, so the median needs 20 samples and p90
    needs 100."""
    n = len(values)
    if n * (100 - q) / 100 < 10:
        return None
    s = sorted(values)
    pos = (n - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)
