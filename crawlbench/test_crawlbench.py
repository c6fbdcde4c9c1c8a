"""Self-tests of the benchmark's own code; no Spark needed.

    python3 -m pytest crawlbench -q -p no:cacheprovider
"""

import json
import os
import statistics

import pytest

import spans
from spans import Span, layer_times, percentile

HERE = os.path.dirname(os.path.abspath(__file__))


def _tree():
    # crawler [0, 10) ─┬─ schedule [1, 4) ── canon [2, 3)
    #                  └─ snapshots [5, 9)
    spans_ = [
        Span("crawler", "crawler.run", 0.0, 10.0),
        Span("schedule", "schedule.rank", 1.0, 4.0, parent=0),
        Span("canon", "canon.with_canon_columns", 2.0, 3.0, parent=1),
        Span("snapshots", "snapshots.commit", 5.0, 9.0, parent=0),
    ]
    return spans_


def test_self_time_subtracts_children():
    t = layer_times(_tree(), (0.0, 10.0))
    assert t["crawler"] == {"wall_s": 10.0, "self_s": 3.0, "driver_s": 3.0}
    assert t["schedule"]["self_s"] == pytest.approx(2.0)
    assert t["canon"]["self_s"] == pytest.approx(1.0)
    assert t["snapshots"]["self_s"] == pytest.approx(4.0)
    assert sum(d["self_s"] for d in t.values()) == pytest.approx(spans.covered(_tree(), (0, 10)))


def test_self_time_clips_to_window_and_jobs():
    # window [2, 8); one Spark job [6, 7) inside snapshots' self time
    t = layer_times(_tree(), (2.0, 8.0), [(6.0, 7.0)])
    assert t["crawler"]["self_s"] == pytest.approx(1.0)  # [4, 5)
    assert t["schedule"]["self_s"] == pytest.approx(1.0)  # [3, 4)
    assert t["canon"]["wall_s"] == pytest.approx(1.0)
    assert t["snapshots"]["self_s"] == pytest.approx(3.0)  # [5, 8)
    assert t["snapshots"]["driver_s"] == pytest.approx(2.0)


def test_nested_spans_of_one_layer_count_once_in_wall():
    tree = [Span("seen", "a", 0.0, 4.0), Span("seen", "b", 1.0, 3.0, parent=0)]
    t = layer_times(tree, (0.0, 4.0))
    assert t["seen"]["wall_s"] == pytest.approx(4.0)
    assert t["seen"]["self_s"] == pytest.approx(4.0)


def test_innermost_span_at_time():
    tree = _tree()
    assert spans.innermost_at(tree, 2.5) == "canon"
    assert spans.innermost_at(tree, 4.5) == "crawler"
    assert spans.innermost_at(tree, 11.0) is None


def test_interval_helpers():
    assert spans.merge([(3, 4), (0, 2), (1, 3)]) == [(0, 4)]
    assert spans.subtract([(0, 10)], [(2, 3), (5, 12)]) == [(0, 2), (3, 5)]
    assert spans.length([(0, 1), (0.5, 2), (5, 5)]) == pytest.approx(2.0)


@pytest.mark.parametrize("values", [[3.0], [1.0, 2.0], [5.0, 1.0, 4.0, 2.0, 3.0], [2.0, 9.0, 4.0, 7.0]])
def test_percentile_median_matches_statistics(values):
    assert percentile(values, 50) == pytest.approx(statistics.median(values))


def test_percentile_ends_and_errors():
    assert percentile([4.0, 1.0, 3.0], 0) == 1.0
    assert percentile([4.0, 1.0, 3.0], 100) == 4.0
    assert percentile([0.0, 10.0], 90) == pytest.approx(9.0)
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_metric_names_are_well_formed():
    names = [n for n, _ in spans.END_TO_END] + [n for n, _ in spans.per_layer_metrics()]
    assert len(names) == len(set(names))
    for name in names:
        assert spans.NAME_RE.match(name), name
    assert len(spans.per_layer_metrics()) <= 128


def test_benchmark_json_lists_what_the_code_prints():
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(spans.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == spans.per_layer_metrics()
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert bench["paths"] == ["crawlbench"]
