"""Tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench/test_arithmetic.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness as H  # noqa: E402
import reference as R  # noqa: E402
from wl_tick_stream import commit_time_s, tick_latencies_ms  # noqa: E402


def _progress(batch_id: int, ts: str, trigger_ms: int) -> dict:
    return {"batchId": batch_id, "timestamp": ts, "numInputRows": 1, "durationMs": {"triggerExecution": trigger_ms}}


def test_commit_time_is_trigger_start_plus_trigger_execution():
    p = _progress(3, "2026-01-01T00:00:10.250Z", 600)
    assert commit_time_s(p) == pytest.approx(1767225610.25 + 0.6)


def test_tick_latency_joins_each_tick_to_its_epoch_commit():
    t0 = 1767225600.0  # 2026-01-01T00:00:00Z
    batches = [_progress(0, "2026-01-01T00:00:00.500Z", 500), _progress(1, "2026-01-01T00:00:01.000Z", 250)]
    epochs = np.array([0, 0, 1])
    ts_us = np.array([t0 * 1e6, (t0 + 0.2) * 1e6, (t0 + 0.9) * 1e6], dtype=np.int64)
    lat = tick_latencies_ms(epochs, ts_us, batches)
    # epoch 0 commits at t0+1.0, epoch 1 at t0+1.25
    assert lat == pytest.approx([1000.0, 800.0, 350.0])


@pytest.mark.parametrize(
    "n, p, supported",
    [(99, 90.0, False), (100, 90.0, True), (999, 99.0, False), (1000, 99.0, True),
     (9999, 99.9, False), (10_000, 99.9, True), (39, 75.0, False), (40, 75.0, True)],
)
def test_tail_needs_ten_samples_beyond(n, p, supported):
    assert (H.tail(list(range(n)), p) is not None) == supported


def test_tail_interpolates_like_numpy():
    assert H.tail(list(range(1, 101)), 90.0) == pytest.approx(90.1)
    assert H.median(list(range(1, 101))) == 50.5


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "parent": parent, "op": None, "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, parent=0),
        _span(2, "b", 3.0, 6.0, parent=0),  # overlaps a: union covers 1..6
        _span(3, "c", 5.5, 5.9, parent=2),
        _span(4, "d", 9.0, 12.0, parent=0),  # runs past its parent: clipped to 9..10
    ]
    st = H.self_times_ms(spans)
    assert st["op"] == pytest.approx((10.0 - 5.0 - 1.0) * 1e3)
    assert st["b"] == pytest.approx((3.0 - 0.4) * 1e3)
    assert st["a"] == pytest.approx(3000.0) and st["d"] == pytest.approx(3000.0)


def test_tracer_records_nesting_and_restores_wrapped_functions():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tr = H.Tracer()
    tr.wrap(mod, "f", "layer.f")
    with tr.span("op"):
        assert mod.f(1) == 2
    tr.unwrap_all()
    assert not hasattr(mod.f, "__wrapped__")
    op, inner = tr.spans
    assert inner["name"] == "layer.f" and inner["parent"] == op["id"]


def test_linear_prediction_matches_the_folded_loop():
    rng = np.random.default_rng(0)
    prices = 170 + 20 * rng.random(12)
    mn, mx, n = 170.75, 189.03, 5
    w = [2.0 * i / (n * (n + 1)) for i in range(1, n + 1)]
    got = R.trailing_predictions(prices, n, mn, mx)
    assert np.isnan(got[: n - 1]).all()
    for k in range(n - 1, len(prices)):
        acc = 0.0
        for v, wi in zip(prices[k - n + 1 : k + 1], w):
            acc += (v - mn) / (mx - mn) * wi
        assert got[k] == pytest.approx(acc * (mx - mn) + mn, abs=1e-9)


def test_components_take_the_min_id():
    comp = R.components(6, [(4, 2), (2, 5), (0, 1)])
    assert list(comp) == [0, 0, 2, 3, 2, 2]
