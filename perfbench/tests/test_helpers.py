"""Pure helpers of the benchmark: percentiles, self time, amplification,
written-file accounting, seeded batches, digests and layer metrics.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import decimal
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import batches
from perfbench.metrics import (
    file_state,
    percentile,
    self_time,
    space_amp,
    supported_percentile,
    timing_summary,
    write_amp,
    written_since,
)
from perfbench.oracle import frame_digest, oracle_key
from perfbench.tracing import layer_metrics


@pytest.mark.parametrize(
    "n,p",
    [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_supported_percentile_needs_ten_beyond(n, p):
    assert supported_percentile(n) == p


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([5.0], 99.9) == 5.0


def test_timing_summary_states_count_and_percentile():
    s = timing_summary([1.0, 2.0, 3.0])
    assert (s["median"], s["n"], s["p"], s["p_value"]) == (2.0, 3, None, None)
    s = timing_summary([float(i) for i in range(40)])
    assert (s["p"], s["p_value"]) == (75.0, 29.0)


def test_self_time_subtracts_union_of_children():
    assert self_time(0.0, 10.0, []) == 10.0
    # overlapping children count once; parts outside the span are clipped
    assert self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 5.0), (8.0, 12.0), (-3.0, -1.0)]) == 4.0
    assert self_time(2.0, 3.0, [(0.0, 10.0)]) == 0.0


def test_amplification_ratios():
    assert write_amp(3000, 100) == 30.0
    assert space_amp(150, 100) == 1.5
    with pytest.raises(ValueError):
        write_amp(10, 0)
    with pytest.raises(ValueError):
        space_amp(10, 0)


def test_written_since_counts_new_and_changed_files(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 10)
    (tmp_path / "b").write_bytes(b"y" * 20)
    before = file_state(str(tmp_path))
    (tmp_path / "b").write_bytes(b"z" * 25)
    os.makedirs(tmp_path / "d")
    (tmp_path / "d" / "c").write_bytes(b"w" * 7)
    os.symlink(tmp_path / "a", tmp_path / "link")
    assert written_since(before, file_state(str(tmp_path))) == (32, 2)


def _live(n_orders=2000):
    rng = np.random.default_rng(0)
    keys = [(o, ln) for o in range(1, n_orders + 1) for ln in range(1, 1 + int(rng.integers(1, 5)))]
    li = pd.DataFrame(keys, columns=batches.KEYS)
    for c in batches.VALUES:
        li[c] = rng.uniform(0, 10, size=len(li)).round(2)
    width = batches.bucket_width(int(li["l_orderkey"].max()))
    return batches.project(li, width), width


def test_same_seed_same_batches_other_seed_differs():
    live, width = _live()
    nk = int(live["l_orderkey"].max()) + 1

    def run(seed):
        cur, key, out = live, nk, []
        for k in range(3):
            b, key = batches.make_batch(batches.batch_rng(seed, 0, k), cur, key, width)
            cur = batches.keep_last(cur, b)
            out.append(b)
        return out, cur

    a, live_a = run(7)
    b, live_b = run(7)
    c, _ = run(8)
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(x, y)
    pd.testing.assert_frame_equal(live_a, live_b)
    assert not all(x.equals(y) for x, y in zip(a, c))


def test_batch_shape():
    live, width = _live()
    nk = int(live["l_orderkey"].max()) + 1
    b, nk2 = batches.make_batch(batches.batch_rng(1, 0, 0), live, nk, width)
    assert abs(len(b) - round(0.01 * len(live))) <= 1
    assert not b.duplicated(batches.KEYS).any()
    new = b[b["l_orderkey"] >= nk]
    assert len(new) == nk2 - nk >= 1
    old = b[b["l_orderkey"] < nk]
    assert old["l_orderkey"].min() >= live["l_orderkey"].quantile(0.9)
    assert (b["bucket"] == b["l_orderkey"] // width).all()
    assert b["bucket"].nunique() <= 3


def test_keep_last_batch_wins_and_appends_new_keys():
    live = pd.DataFrame({"l_orderkey": [1, 2], "l_linenumber": [1, 1], "l_quantity": [1.0, 2.0]})
    batch = pd.DataFrame({"l_orderkey": [2, 3], "l_linenumber": [1, 1], "l_quantity": [9.0, 3.0]})
    out = batches.keep_last(live, batch).sort_values("l_orderkey")
    assert out["l_quantity"].tolist() == [1.0, 9.0, 3.0]


def test_frame_digest_is_order_and_type_insensitive():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.0, 2.25], "s": ["x", "y", None]})
    b = pd.DataFrame({"v": [2.25, 0.5, 1.0], "s": [None, "x", "y"], "k": [3.0, 1.0, 2.0]})
    assert frame_digest(a) == frame_digest(b)
    c = pd.DataFrame({"k": [1, 2, 3], "v": [decimal.Decimal("0.5"), 1, 2.25], "s": ["x", "y", None]})
    assert frame_digest(a)["digest"] == frame_digest(c)["digest"]
    d = a.copy()
    d.loc[1, "v"] = 1.0000001
    assert frame_digest(a)["digest"] != frame_digest(d)["digest"]
    assert frame_digest(a)["digest"] != frame_digest(a.rename(columns={"v": "w"}))["digest"]


def test_oracle_key_covers_sql_and_inputs():
    assert oracle_key("select 1", "fp") == oracle_key("select 1", "fp")
    assert oracle_key("select 1", "fp") != oracle_key("select 2", "fp")
    assert oracle_key("select 1", "fp") != oracle_key("select 1", "fp2")


def _span(i, layer, start, end, parent=None, name=None, **kw):
    return {"id": i, "layer": layer, "name": name or layer, "start": start, "end": end,
            "parent": parent, "pass": 0, **kw}


def test_layer_metrics_count_outermost_spans_and_inclusive_jobs():
    spans = [
        _span(0, "op", 0, 10),
        _span(1, "queries", 0, 6, 0, jobs=1),
        _span(2, "catalog", 0, 1, 1, name="load_tables", jobs=0),
        _span(3, "catalog", 0, 0.5, 2, name="load_table", jobs=1),
        _span(4, "ext.dedup.cc", 2, 5, 1, name="incremental_components", jobs=2),
        _span(5, "ext.dedup.cc", 3, 4, 4, name="connected_components_twophase", jobs=3),
        _span(6, "action", 6, 10, 0, jobs=2, stages=3, tasks=12),
        _span(7, "store", 10, 12, None, name="FeatureStore.upsert", jobs=5),
        _span(8, "store", 10, 11, 7, name="FeatureStore.read", jobs=1),
        _span(9, "fsops", 11.5, 11.75, 7, name="swap_dir"),
        _span(10, "fsops", 11.5, 11.6, 9, name="recover_swap"),
        _span(11, "ext.dedup.artifact", 12, 13, None, name="NearDupGraph.ensure", rebuilt=False),
        _span(12, "ext.dedup.artifact", 13, 14, None, name="ComponentLabelStore.ensure", rebuilt=True),
    ]
    m = layer_metrics(spans)
    assert (m["catalog.calls"], m["catalog.s"], m["catalog.jobs"]) == (1, 1, 1)
    assert (m["queries.build_s"], m["queries.build_jobs"]) == (6, 7)
    assert m["queries.build_self_s"] == 2  # 6 s minus catalog [0,1] and cc [2,5]
    assert (m["ext.dedup.cc_calls"], m["ext.dedup.cc_s"], m["ext.dedup.cc_jobs"]) == (1, 3, 5)
    assert (m["action.s"], m["action.jobs"], m["action.stages"], m["action.tasks"]) == (4, 2, 3, 12)
    assert (m["store.upsert_s"], m["store.upsert_jobs"], m["store.read_s"]) == (2, 6, 0)
    assert (m["fsops.swaps"], m["fsops.swap_s"]) == (1, 0.25)
    assert m["ext.dedup.artifact_rebuild_ratio"] == 0.5
