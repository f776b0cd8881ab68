"""The benchmark's own arithmetic, on synthetic spans and samples.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""
from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench.trace import (
    EventLog,
    Span,
    StageStats,
    covered,
    group_totals,
    prefix_deltas,
    self_time_by_name,
    self_times,
    tail_percentile,
)


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "t")


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, "job", 0.0, 10.0),
        _span(1, "ingest", 1.0, 3.0, 0),
        _span(2, "write", 4.0, 8.0, 0),
        _span(3, "commit", 8.0, 8.5, 0),
        _span(4, "inner", 5.0, 6.0, 2),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 2.0 - 4.0 - 0.5)
    assert st[2] == pytest.approx(4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)
    # self times partition the root interval
    assert sum(st.values()) == pytest.approx(10.0)


def test_overlapping_and_overhanging_children_count_once():
    spans = [
        _span(0, "p", 0.0, 10.0),
        _span(1, "a", 1.0, 5.0, 0),
        _span(2, "b", 3.0, 7.0, 0),      # overlaps a by 2 s
        _span(3, "c", 9.0, 12.0, 0),     # runs past its parent
    ]
    assert covered([(1, 5), (3, 7), (9, 12)], 0, 10) == pytest.approx(7.0)
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_self_time_by_name_sums_repeated_spans():
    spans = [
        _span(0, "job", 0.0, 6.0),
        _span(1, "write", 0.0, 2.0, 0),
        _span(2, "write", 3.0, 4.0, 0),
    ]
    by = self_time_by_name(spans)
    assert by == pytest.approx({"job": 3.0, "write": 3.0})


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([float(x) for x in range(1, 51)]) is None
    assert tail_percentile([float(x) for x in range(1, 101)]) == (0.9, 90.0)
    assert tail_percentile([float(x) for x in range(1, 1001)]) == \
        (0.99, 990.0)
    # ties at the percentile value are not "beyond" it
    assert tail_percentile([1.0] * 95 + [2.0] * 9) is None


def test_prefix_deltas_split_cumulative_prefixes():
    times = [("span_prep", 2.0), ("parse_spans", 5.0), ("reassemble", 5.5),
             ("patterns", 6.0), ("extract", 9.0)]
    d = prefix_deltas(times)
    assert d == pytest.approx({"span_prep": 2.0, "parse_spans": 3.0,
                               "reassemble": 0.5, "patterns": 0.5,
                               "extract": 3.0})
    assert sum(d.values()) == pytest.approx(9.0)
    # noise is reported as measured, not clamped
    assert prefix_deltas([("a", 2.0), ("b", 1.5)])["b"] == \
        pytest.approx(-0.5)


def test_group_totals_sums_a_groups_stages():
    stages = {
        1: StageStats(1, "g", [10, 10, 40], 2_000_000, 500, 1500.0,
                      3e6, 1e6),
        2: StageStats(2, "g", [5, 10, 15], 1_000_000, 0, 500.0, 1e6, 0.0),
        3: StageStats(3, "other", [1], 9e9, 0, 0.0, 0.0, 0.0),
    }
    t = group_totals(EventLog(stages, {}, {}, {}), "g")
    assert t["shuffle_mb"] == pytest.approx(3.0)
    assert t["fetch_wait_s"] == pytest.approx(0.5)
    assert t["py_s"] == pytest.approx(2.0)
    assert t["py_in_mb"] == pytest.approx(4.0)
    assert t["py_out_mb"] == pytest.approx(1.0)
    # last multi-task stage: max 15 over median 10
    assert t["task_skew"] == pytest.approx(1.5)


def test_benchmark_json_matches_catalog():
    from perfbench import catalog
    from perfbench.workloads import FACTORIES
    spec = json.loads((Path(__file__).resolve().parents[2]
                       / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(FACTORIES)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in spec["end_to_end"]] == catalog.END_TO_END
    assert [(m["name"], m["unit"], m["better"])
            for m in spec["per_layer"]] == catalog.PER_LAYER


def test_generators_are_pure_functions_of_the_seed():
    from perfbench import data
    a = data.curate_corpus(40, 5, 4, 3, seed=7)
    b = data.curate_corpus(40, 5, 4, 3, seed=7)
    assert a == b
    rows, truth = a
    ids = [r[0] for r in rows]
    assert len(ids) == len(set(ids))
    assert all(len(m) == 3 for m in truth["families"].values())
    docs, _ = data.extract_corpus(200, seed=5)
    kinds = [data.doc_kind(d) for d in docs]
    assert (kinds.count("text"), kinds.count("mixed"),
            kinds.count("heavy")) == (180, 18, 2)
