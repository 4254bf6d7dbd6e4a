"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import measure  # noqa: E402
import metrics  # noqa: E402
from spans import Tracer, parse_metric  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _frame(n: int = 50) -> pd.DataFrame:
    return pd.DataFrame({
        "k": [f"c{i % 7}" for i in range(n)],
        "x": [i * 0.5 for i in range(n)],
        "ts": pd.to_datetime([1_700_000_000 + i for i in range(n)], unit="s"),
    })


def test_digest_ignores_row_and_column_order():
    df = _frame()
    shuffled = df.sample(frac=1.0, random_state=3)[["ts", "x", "k"]]
    assert measure.frame_digest(shuffled) == measure.frame_digest(df)


def test_digest_sees_values_dtypes_and_duplicates():
    df = _frame()
    changed = df.copy()
    changed.loc[4, "x"] = 2.0000001
    assert measure.frame_digest(changed) != measure.frame_digest(df)
    as_int = df.assign(x=(df["x"] * 2).astype("int64"))
    as_float = df.assign(x=(df["x"] * 2).astype("float64"))
    assert measure.frame_digest(as_int) != measure.frame_digest(as_float)
    doubled = pd.concat([df, df.iloc[:1]])
    assert measure.frame_digest(doubled) != measure.frame_digest(df)


@pytest.mark.parametrize("n, p", [
    (15, 50.0),     # too few for any rung: the median
    (20, 50.0),     # exactly ten beyond the median
    (59, 75.0),     # 14 beyond p75, only 5 beyond p90
    (100, 90.0),    # exactly ten beyond p90
    (999, 95.0),    # 9 beyond p99
    (1000, 99.0),
    (10_000, 99.9),
])
def test_tail_percentile_has_ten_samples_beyond(n, p):
    values = list(range(n))
    random.Random(n).shuffle(values)
    got_p, got_v = measure.tail_percentile(values)
    assert got_p == p
    assert got_v == measure.percentile(values, p)
    if n >= 20:
        assert sum(v > got_v for v in values) >= 10


def test_percentile_nearest_rank():
    assert measure.percentile([5, 1, 3, 2, 4], 50) == 3
    assert measure.percentile([5, 1, 3, 2, 4], 100) == 5
    assert measure.percentile(list(range(1, 101)), 90) == 90


def _span(start, end):
    return {"start": start, "end": end}


def test_self_time_is_span_minus_children():
    parent = _span(0.0, 10.0)
    assert measure.self_time(parent, []) == 10.0
    assert measure.self_time(parent, [_span(1, 3), _span(5, 6)]) == 7.0
    # overlapping children count once; parts outside the parent are clipped
    kids = [_span(1, 4), _span(3, 5), _span(9, 12), _span(-2, 0.5)]
    assert measure.self_time(parent, kids) == pytest.approx(10 - 4 - 1 - 0.5)


def test_tracer_records_nesting_without_spark():
    tr = Tracer(enabled=True)
    with tr.span("pass", n=0):
        with tr.span("entry.build", query="q"):
            pass
        with tr.span("sinks.noop", query="q"):
            pass
    outer = tr.named("pass")[0]
    kids = tr.children(outer)
    assert [k["name"] for k in kids] == ["entry.build", "sinks.noop"]
    assert all(k["parent"] == outer["id"] for k in kids)
    assert len({s["id"] for s in tr.spans}) == 3
    assert measure.self_time(outer, kids) <= outer["end"] - outer["start"]


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("pass") as s:
        assert s is None
    assert tr.spans == [] and tr.overhead_s == 0.0


@pytest.mark.parametrize("text, value", [
    ("total (min, med, max (stageId: taskId))\n1.5 KiB (1.0 B, 2.0 B, "
     "3.0 B (stage 1.0: task 2))", 1.5 * 1024),
    ("total (min, med, max (stageId: taskId))\n1.2 s (461 ms, 469 ms, "
     "471 ms (stage 0.0: task 1))", 1200.0),
    ("total (min, med, max (stageId: taskId))\n87 ms (1 ms, 2 ms, 3 ms "
     "(stage 0.0: task 1))", 87.0),
    ("100,000", 100_000.0),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_benchmark_json_matches_metric_lists():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in bench["end_to_end"]] == [tuple(m) for m in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == [tuple(m) for m in metrics.PER_LAYER]
    assert len(metrics.QUERIES) == 59 == len(set(metrics.QUERIES))
    assert len(metrics.PER_LAYER) <= 128
