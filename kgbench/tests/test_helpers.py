"""Tests of the benchmark's own helpers: the event-log parser, the
union-find behind the ``owl:sameAs`` check, and the metric and workload
names in ``BENCHMARK.json``.

    python3 -m pytest kgbench/tests -q
"""

import os
import re

import pytest

from kgbench import checks, inputs, layers, run, trace

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_event_log_totals_per_job_group():
    files = trace.event_log_files(os.path.join(HERE, "fixtures", "eventlog"))
    assert [os.path.basename(f) for f in files] == ["events_1_local-1", "events_2_local-1"]
    groups = trace.parse_event_log(files)
    assert set(groups) == {"build", ""}
    build = groups["build"]
    assert build["jobs"] == 2
    assert build["tasks"] == 4  # a killed task without metrics still counts
    assert build["executor_cpu_s"] == pytest.approx(2.5)
    assert build["executor_run_s"] == pytest.approx(3.6)
    assert build["gc_s"] == pytest.approx(0.1)
    assert build["shuffle_write_bytes"] == 1000
    assert build["shuffle_read_bytes"] == 1000
    assert build["spill_bytes"] == 50
    assert groups[""]["jobs"] == 1
    assert groups[""]["executor_cpu_s"] == pytest.approx(1.0)


def test_spans_nest_and_record_parents():
    spans = trace.Spans("r1")
    with spans.span("outer"):
        with spans.span("inner"):
            pass
    inner, outer = spans.records
    assert (inner["name"], inner["parent"]) == ("inner", "outer")
    assert (outer["name"], outer["parent"], outer["run_id"]) == ("outer", None, "r1")
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


@pytest.mark.parametrize(
    "edges, n_sameas",
    [
        ([("a", "b"), ("b", "c"), ("c", "d")], 3),  # chain: 4 nodes, 1 component
        ([("d1", "d2"), ("d1", "d3"), ("d2", "d4"), ("d3", "d4")], 3),  # diamond
        ([("s", "s")], 0),  # self-loop
        ([("t1", "t2"), ("t2", "t1")], 1),  # 2-cycle
        ([("a", "b"), ("x", "y"), ("b", "a"), ("i", "i")], 2),  # two pairs + isolated
        ([], 0),
    ],
)
def test_expected_sameas_is_nodes_minus_components(edges, n_sameas):
    assert checks.expected_sameas(edges) == n_sameas


def test_components_map_to_min_id():
    comp = checks.components([("n3", "n2"), ("n2", "n1"), ("z", "y")])
    assert comp == {"n1": "n1", "n2": "n1", "n3": "n1", "y": "y", "z": "y"}


def test_long_chain_union_find():
    ids = [f"n{i:06d}" for i in range(5000)]
    comp = checks.components(list(zip(reversed(ids), reversed(ids[:-1]))))
    assert set(comp.values()) == {"n000000"}


def test_names_units_and_targets():
    workloads = list(run.WORKLOADS)
    names = workloads + list(run.END_TO_END) + list(run.PER_LAYER)
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for unit in list(run.END_TO_END.values()) + list(run.PER_LAYER.values()):
        assert re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", unit), unit
    assert set(workloads) == set(inputs.GENERATORS)
    for name in run.PER_LAYER:
        assert layers.target(name), name
