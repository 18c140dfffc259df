"""Tests for the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, median, percentile, highest_percentile, self_times, spread, union_length  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
BENCHMARK = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())


def _span(sid, parent, start, end):
    s = Span(sid, f"s{sid}", parent, start)
    s.end = end
    return s


def test_self_time_subtracts_children_once():
    # root [0,10] has children [1,4] and [3,6] (overlapping) and [8,9];
    # child 1 has a grandchild [2,3] that must not count against root
    spans = [
        _span(0, None, 0, 10),
        _span(1, 0, 1, 4),
        _span(2, 1, 2, 3),
        _span(3, 0, 3, 6),
        _span(4, 0, 8, 9),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (5 + 1))
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(1)
    # self times of a tree add up to the root's wall time when children
    # do not overlap each other
    tree = [_span(0, None, 0, 10), _span(1, 0, 1, 4), _span(2, 1, 2, 3), _span(3, 0, 5, 9)]
    assert sum(self_times(tree).values()) == pytest.approx(10)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3)


def test_tracer_nests_and_records_parents():
    t = Tracer()
    with t.span("a") as a:
        with t.span("b") as b:
            pass
    with t.span("c") as c:
        pass
    assert (a.parent, b.parent, c.parent) == (None, a.sid, None)
    assert [s.name for s in t.descendants(a)] == ["a", "b"]
    assert a.start <= b.start <= b.end <= a.end


def test_percentile_reports_count_and_refuses_thin_tails():
    xs = list(range(1, 101))
    assert median(xs) == (50.5, 100)
    assert percentile(xs, 90) == (90, 100)
    with pytest.raises(ValueError):
        percentile(xs, 99)  # 1 sample beyond p99 of 100
    with pytest.raises(ValueError):
        percentile(list(range(19)), 50.0001)
    assert percentile(list(range(4)), 50) == (1, 4)
    assert highest_percentile(xs) == ("p90", 90, 100)
    assert highest_percentile(list(range(1000)))[0] == "p99"
    assert highest_percentile(list(range(50))) is None
    with pytest.raises(ValueError):
        median([])


def test_spread_is_iqr_over_median():
    assert spread([1, 2, 3, 4, 5]) == pytest.approx((4.5 - 1.5) / 3)


def test_metric_names_are_valid_and_match_the_benchmark():
    for section in ("workloads", "end_to_end", "per_layer"):
        names = [m["name"] for m in BENCHMARK[section]]
        assert len(names) == len(set(names))
        for n in names:
            assert NAME.fullmatch(n) and len(n) <= 64 and n[0].isalnum(), n
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == run.PER_LAYER
    assert all(m["bound"] <= 0.25 for m in BENCHMARK["end_to_end"])
    for w in BENCHMARK["workloads"]:
        assert w["name"] in run.WORKLOADS or w["name"] == "queries"


def test_generator_is_deterministic_per_seed():
    import numpy as np

    a = gen.documents(300, np.random.default_rng(7))
    b = gen.documents(300, np.random.default_rng(7))
    c = gen.documents(300, np.random.default_rng(8))
    assert a.equals(b)
    assert not a.equals(c)
    assert any(t.endswith(" dup") for t in a.column("text").to_pylist())
    ev = gen.events(1000, 50, np.random.default_rng(1))
    assert ev.equals(gen.events(1000, 50, np.random.default_rng(1)))


def test_workload_inputs_are_deterministic_per_seed():
    urls = [f"https://h{i % 7}.example.com/p/{i}" for i in range(2000)]
    s1 = gen.seed_urls(urls, 1, 5, 2)
    assert s1 == gen.seed_urls(urls, 1, 5, 2)
    assert s1 != gen.seed_urls(urls, 2, 5, 2)
    assert 0.3 < len(s1) / len(urls) < 0.5
    assert gen.query_order(run.QUERIES, 3) == gen.query_order(run.QUERIES, 3)
    assert sorted(gen.query_order(run.QUERIES, 3)) == sorted(run.QUERIES)


def test_state_table_names_scheduler_writes():
    root = "/x/state/job=j"
    assert run.state_table(f"{root}/pending/round=0") == "seed"
    assert run.state_table(f"{root}/pending/round=3") == "pending"
    assert run.state_table(f"{root}/cohort/round=2") == "cohort"
    assert run.state_table("/x/elsewhere") == "other"


def test_normalized_rows_ignore_order_and_float_noise():
    a = run.normalized_rows(["b", "a"], [(1.0000001, "x"), (None, "y")])
    b = run.normalized_rows(["a", "b"], [("y", None), ("x", 1.0)])
    assert a == b
