"""Seeded commitlog generator for the CDC benchmark.

Every random draw comes from one ``numpy.random.Generator`` in a fixed
order, so a seed fixes the whole mutation sequence: keys, ops, values,
digests, replica placement and lag. Only ``writetime`` comes from the
clock: it is the time the mutation was due to be created (the open loop's
schedule, which is its creation time whenever the generator keeps up),
in microseconds, the reference's replication-latency basis. It is forced
strictly increasing, so last-write-wins order is generation order
whatever the clock does.

Shape of the stream:

- keys are Zipf-skewed over ``n_keys`` (rank probability ~ 1/r**ZIPF_S
  over a seeded permutation of the key space);
- about ``DELETE_FRAC`` of mutations are DELETEs (null values);
- each mutation is written by ``RF`` replicas that share one md5 digest;
  a seeded ``LAG_FRAC`` of the later copies lands in the NEXT segment
  (out of order); the rest sit in the same segment;
- a snapshot table covers a seeded ``SNAPSHOT_FRAC`` of the keys; it is
  what the read-after-event lookup joins against and what backfill
  re-emits.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VALUE_COLS = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
ZIPF_S = 1.1
DELETE_FRAC = 0.1
RF = 2
LAG_FRAC = 0.2
SNAPSHOT_FRAC = 0.9
MKT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

#: arrow twin of cdc_commitlog's default EVENT_SCHEMA (same field order)
EVENT_ARROW = pa.schema(
    [
        ("op", pa.string()),
        ("pk", pa.int64()),
        ("writetime", pa.int64()),
        ("c_name", pa.string()),
        ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
        ("node_id", pa.int64()),
        ("digest", pa.string()),
        ("segment", pa.int64()),
        ("position", pa.int64()),
    ]
)
SNAPSHOT_ARROW = pa.schema(
    [
        ("pk", pa.int64()),
        ("c_name", pa.string()),
        ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ]
)


def now_us() -> int:
    return time.time_ns() // 1000


class Generator:
    """One mutation stream: ``add`` creates mutations, ``flush`` cuts the
    next segment. The sequence of ``add`` sizes must depend on the seed
    only (never on timing) for the stream to repeat."""

    def __init__(self, seed: int, n_keys: int):
        self.seed = seed
        self.n_keys = n_keys
        self.rng = np.random.default_rng(seed)
        self.keys = self.rng.permutation(n_keys).astype(np.int64) + 1
        w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())
        self.snapshot_keys = np.sort(
            self.rng.choice(
                self.keys, size=int(n_keys * SNAPSHOT_FRAC), replace=False
            )
        )
        self.ordinal = 0
        self.last_wt = 0
        self.next_segment = 0
        self.pending: list[tuple[dict, bool]] = []  # (copy, lagged?)
        self.carry: list[dict] = []  # copies lagged out of the last segment

    def draw_keys(self, n: int) -> np.ndarray:
        """``n`` Zipf-distributed keys."""
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return self.keys[np.minimum(idx, self.n_keys - 1)]

    def snapshot(self) -> pa.Table:
        rng = np.random.default_rng([self.seed, 1])
        k = self.snapshot_keys
        return pa.table(
            {
                "pk": k,
                "c_name": [f"snap-{int(p)}" for p in k],
                "c_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999, 9999, len(k)), 2),
                "c_mktsegment": [
                    MKT_SEGMENTS[i] for i in rng.integers(0, 5, len(k))
                ],
            },
            schema=SNAPSHOT_ARROW,
        )

    def add(self, n: int, due_us: int) -> None:
        """Create ``n`` mutations due at ``due_us`` (x ``RF`` copies)."""
        rng = self.rng
        pks = self.draw_keys(n)
        is_del = rng.random(n) < DELETE_FRAC
        nation = rng.integers(0, 25, n)
        bal = np.round(rng.uniform(-999, 9999, n), 2)
        mkt = rng.integers(0, 5, n)
        lag = rng.random((n, RF)) < LAG_FRAC
        lag[:, 0] = False  # the first copy is always on time
        for i in range(n):
            wt = max(due_us, self.last_wt + 1)
            self.last_wt = wt
            pk = int(pks[i])
            op = "DELETE" if is_del[i] else "UPDATE"
            digest = hashlib.md5(
                f"{self.seed}:{self.ordinal}:{pk}:{op}".encode()
            ).hexdigest()
            self.ordinal += 1
            if is_del[i]:
                vals = (None, None, None, None)
            else:
                vals = (
                    f"v{self.ordinal}-{pk}",
                    int(nation[i]),
                    float(bal[i]),
                    MKT_SEGMENTS[int(mkt[i])],
                )
            for r in range(RF):
                copy = {
                    "op": op,
                    "pk": pk,
                    "writetime": wt,
                    "c_name": vals[0],
                    "c_nationkey": vals[1],
                    "c_acctbal": vals[2],
                    "c_mktsegment": vals[3],
                    "node_id": r + 1,
                    "digest": digest,
                }
                self.pending.append((copy, bool(lag[i, r])))

    def flush(self, last: bool = False) -> tuple[int, pa.Table]:
        """Cut the next segment: copies lagged from the previous segment,
        then this segment's on-time copies. ``last`` keeps every copy in
        this segment (nothing left for a segment that will never come)."""
        rows = self.carry + [c for c, lagged in self.pending if last or not lagged]
        self.carry = [] if last else [c for c, lagged in self.pending if lagged]
        self.pending = []
        seg_id = self.next_segment
        self.next_segment += 1
        for pos, ev in enumerate(rows):
            ev["segment"] = seg_id
            ev["position"] = pos
        return seg_id, pa.Table.from_pylist(rows, schema=EVENT_ARROW)


def segment_name(seg_id: int) -> str:
    return f"segment-{seg_id:08d}.parquet"


def stage_segment(directory: str, seg_id: int, table: pa.Table) -> tuple[str, str]:
    """Write a segment under a name the source does not list; returns
    (staged path, final path) for :func:`os.replace`."""
    final = os.path.join(directory, segment_name(seg_id))
    tmp = os.path.join(directory, f".tmp-{seg_id:08d}")
    pq.write_table(table, tmp)
    return tmp, final


def write_segment(directory: str, seg_id: int, table: pa.Table) -> str:
    """Publish a segment atomically: the source lists ``segment-*.parquet``,
    so the file appears under its final name only once complete."""
    tmp, final = stage_segment(directory, seg_id, table)
    os.replace(tmp, final)
    return final
