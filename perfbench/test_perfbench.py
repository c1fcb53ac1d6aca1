"""Tests of the benchmark itself (no Spark): the generator, the oracle,
the percentile rule and the metric names printed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))


def _stream(seed: int, segments: int = 5, per_segment: int = 200) -> list:
    g = gen.Generator(seed, n_keys=500)
    out = []
    for i in range(segments):
        g.add(per_segment, due_us=1_000_000 + i)
        out.append(g.flush(last=i == segments - 1)[1])
    return out


def test_generator_is_deterministic_per_seed():
    a, b = _stream(7), _stream(7)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert gen.Generator(7, 500).snapshot().equals(gen.Generator(7, 500).snapshot())
    assert not _stream(8)[0].equals(a[0])


def test_generator_replica_delete_and_lag_shares():
    tables = _stream(3, segments=10, per_segment=1000)
    ev = pd.concat([t.to_pandas() for t in tables], ignore_index=True)
    copies = ev.groupby("digest").size()
    assert (copies == 2).all()  # RF=2, nothing lost across segments
    assert ev.groupby("digest")["writetime"].nunique().max() == 1
    first = ev[ev["node_id"] == 1]
    assert abs((first["op"] == "DELETE").mean() - 0.1) < 0.02
    # a seeded ~20% of second copies land in the next segment
    seg = ev.pivot_table(index="digest", columns="node_id", values="segment")
    lagged = seg[2] - seg[1]
    assert set(lagged.unique()) <= {0, 1}
    assert abs((lagged == 1).mean() - 0.2) < 0.03
    # the last segment keeps every copy
    assert (seg.loc[seg[1] == 9, 2] == 9).all()
    # positions are dense per segment
    for t in tables:
        assert t["position"].to_pylist() == list(range(t.num_rows))


def test_generator_keys_are_zipf_skewed():
    g = gen.Generator(5, n_keys=1000)
    counts = pd.Series(g.draw_keys(20_000)).value_counts()
    assert counts.iloc[0] > 10 * counts.median()
    assert counts.index[0] == g.keys[0]  # the rank-1 key is the hottest


def _ev(op, pk, wt, seg, pos, digest, node=1, name=None):
    return {
        "op": op, "pk": pk, "writetime": wt,
        "c_name": name, "c_nationkey": None if name is None else 1,
        "c_acctbal": None if name is None else 1.5,
        "c_mktsegment": None if name is None else "BUILDING",
        "node_id": node, "digest": digest, "segment": seg, "position": pos,
    }


def _hand_stream() -> pd.DataFrame:
    """10 mutations x 2 replica copies = 20 events; the second copies of
    d3 and d8 lag one segment."""
    muts = [
        ("UPDATE", 1, 10, "a1"),  # d0
        ("UPDATE", 2, 11, "b1"),  # d1
        ("UPDATE", 1, 12, "a2"),  # d2
        ("DELETE", 2, 13, None),  # d3: key 2 deleted
        ("UPDATE", 3, 14, "c1"),  # d4: key 3 is not in the snapshot
        ("UPDATE", 4, 15, "x1"),  # d5
        ("DELETE", 4, 16, None),  # d6
        ("UPDATE", 4, 17, "x2"),  # d7: key 4 re-inserted
        ("UPDATE", 5, 18, "e1"),  # d8
        ("DELETE", 3, 19, None),  # d9: key 3 deleted
    ]
    rows = []
    for i, (op, pk, wt, name) in enumerate(muts):
        seg = 0 if i < 5 else 1
        rows.append(_ev(op, pk, wt, seg, i, f"d{i}", 1, name))
        lag = 1 if i in (3, 8) else 0
        rows.append(_ev(op, pk, wt, seg + lag, 100 + i, f"d{i}", 2, name))
    return pd.DataFrame(rows)


SNAP = pd.DataFrame(
    {
        "pk": [1, 2, 4, 5],
        "c_name": ["s1", "s2", "s4", "s5"],
        "c_nationkey": [1, 2, 4, 5],
        "c_acctbal": [1.0, 2.0, 4.0, 5.0],
        "c_mktsegment": ["A", "B", "D", "E"],
    }
)


def test_oracle_on_hand_checked_stream():
    ev = _hand_stream()
    assert len(ev) == 20
    active = oracle.lww_active(ev)
    # key 1 -> a2, key 2 deleted, key 3 deleted, key 4 -> x2, key 5 -> e1
    assert sorted(zip(active["pk"], active["c_name"])) == [(1, "a2"), (4, "x2"), (5, "e1")]
    assert oracle.active_mismatches(active, ev) == 0
    assert oracle.active_mismatches(active.iloc[:2], ev) == 1

    topic = oracle.expected_topic(ev, SNAP)
    assert len(topic) == 10  # one record per distinct (pk, digest)
    tomb = topic[topic["tombstone"]]
    # DELETEs d3, d6, d9 and both events of key 3 (absent from the snapshot)
    assert sorted(tomb["pk"]) == [2, 3, 3, 4]
    live = topic[~topic["tombstone"]]
    assert sorted(zip(live["pk"], live["c_name"])) == [
        (1, "s1"), (1, "s1"), (2, "s2"), (4, "s4"), (4, "s4"), (5, "s5")
    ]
    assert oracle.topic_mismatches(topic, ev, SNAP) == 0
    dup = pd.concat([topic, topic.iloc[:1]])
    assert oracle.topic_mismatches(dup, ev, SNAP) == 1


def test_change_feed_net_effect():
    ev = _hand_stream()
    cols = ["pk", *gen.VALUE_COLS]
    base = oracle.lww_active(ev[ev["writetime"] <= 14])[cols]  # keys 1 (a2), 3 (c1)
    after = oracle.lww_active(ev)[cols]
    row = lambda pk, frame: frame[frame["pk"] == pk].iloc[0].to_dict()  # noqa: E731
    changes = pd.DataFrame(
        [
            {**row(3, base), "_change_type": "delete", "_commit_version": 1},
            {**row(4, after), "_change_type": "insert", "_commit_version": 1},
            {**row(5, after), "_change_type": "insert", "_commit_version": 2},
        ]
    )
    assert oracle.changefeed_mismatches(changes, ev, base) == 0
    # without the starting table, key 1 is missing from the net effect
    assert oracle.changefeed_mismatches(changes, ev) == 1


def test_percentile_rule():
    assert oracle.percentile(list(range(19)), 50) is None
    assert oracle.percentile(list(range(20)), 50) == 9.5
    assert oracle.percentile(list(range(99)), 90) is None
    assert oracle.percentile(list(range(100)), 90) == pytest.approx(89.1)
    assert oracle.percentile([], 50) is None


def test_metric_names_match_benchmark_json(tmp_path):
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}

    import run
    import workloads

    assert tuple(w["name"] for w in spec["workloads"]) == run.WORKLOADS
    assert set(workloads.PIPELINES) == set(run.WORKLOADS)
    for trace, names in ((False, e2e), (True, layer)):
        b = workloads.Bench("publish_stream", 1, 1, trace, str(tmp_path / str(trace)))
        out = b._result({k: 1.0 for k in e2e})
        assert {k: v["unit"] for k, v in out["metrics"].items()} == names
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
