"""Smoke test of the benchmark's own code; no Spark session is started.

    python3 -m pytest -q perfbench/test_smoke.py
"""

from __future__ import annotations

import os
import statistics
import sys
import types

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from compare import mismatch  # noqa: E402
from spans import Span, Tracer, self_time_by_layer, self_times, top_level_coverage  # noqa: E402
from stats import median, quartile_spread, worse_by  # noqa: E402


def test_median_quartiles_and_worse_by():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        median([])
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.8, 11.5, 9.8]
    # exclusive quartiles of the sorted sample: positions 2.75 and 8.25
    # (1-based) -> 9.5 + 0.75 * 0.3 = 9.725 and 11.0 + 0.25 * 0.5 = 11.125
    assert quartile_spread(xs) == pytest.approx((11.125 - 9.725) / 10.35)
    q1, _q2, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))
    assert worse_by(2.0, 2.5, "lower") == pytest.approx(0.25)
    assert worse_by(2.0, 2.5, "higher") == pytest.approx(-0.25)


def test_span_self_time():
    # parent 0..10 with children 1..4 and 3..6 (overlapping: union 1..6)
    # and a grandchild 2..3 under the first child
    spans = [Span(0, "t", "pipeline.flagship", 0.0, 10.0, None),
             Span(1, "t", "spatial.broadcast_aoi", 1.0, 4.0, 0),
             Span(2, "t", "session.ship_package", 3.0, 6.0, 0),
             Span(3, "t", "spark.collect", 2.0, 3.0, 1),
             Span(4, "t", "spark.collect", 10.0, 12.0, None)]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    by_layer = self_time_by_layer(spans)
    assert by_layer["spark"] == pytest.approx(3.0)
    # siblings 1 and 2 overlap for 1 s, which both count as self time
    assert sum(by_layer.values()) == pytest.approx(13.0)
    assert top_level_coverage(spans, 12.0) == pytest.approx(1.0)


def test_tracer_records_only_inside_a_trace():
    Mod = types.ModuleType("pkg.mod")
    Mod.f = lambda x: x + 1

    tr = Tracer()
    tr.wrap(Mod, "f")
    assert Mod.f(1) == 2 and tr.spans == []
    with tr.trace("it1"):
        with tr.span("spark.collect"):
            assert Mod.f(2) == 3
    tr.unwrap_all()
    assert [s.name for s in tr.spans] == ["spark.collect", "mod.f"]
    assert tr.spans[1].parent == 0
    assert {s.trace_id for s in tr.spans} == {"it1"}
    assert Mod.f(3) == 4 and len(tr.spans) == 2


def _frame():
    return pd.DataFrame({"aoi_id": np.array([0, 1, 2], np.int64),
                         "name": ["a", "b", "c"],
                         "mean_px": [0.5, 1.25, 2.0]})


def test_compare_accepts_reordered_equal_rows():
    a = _frame()
    b = a.iloc[[2, 0, 1]].reset_index(drop=True)
    b.loc[0, "mean_px"] += 1e-12
    assert mismatch(a, b) is None


@pytest.mark.parametrize("perturb", [
    lambda d: d.assign(aoi_id=d["aoi_id"].where(d["aoi_id"] != 1, 7)),
    lambda d: d.assign(name=d["name"].where(d["name"] != "b", "z")),
    lambda d: d.assign(mean_px=d["mean_px"] + np.array([0.0, 1e-6, 0.0])),
    lambda d: d.iloc[:2],
    lambda d: d.assign(aoi_id=d["aoi_id"].astype(np.float64)),
    lambda d: d.rename(columns={"name": "label"}),
])
def test_compare_catches_a_perturbed_row(perturb):
    assert mismatch(perturb(_frame()), _frame()) is not None
