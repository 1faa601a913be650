"""Spark-free tests of the benchmark harness: the percentile rule, the
self-time arithmetic, the tracer's per-op accounting and the metric
names in BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import gen, run
from perfbench.stats import check_spec, covered, self_times, summarize, tail
from perfbench.trace import LAYERS, Tracer, report

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_tail_has_ten_samples_beyond_it():
    for n, pct in ((100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)):
        samples = [float(x) for x in range(n)]
        value, got = tail(samples)
        assert got == pct
        assert sum(s > value for s in samples) >= 10
    assert tail([float(x) for x in range(100)]) == (89.0, 90.0)


def test_tail_without_enough_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert tail([float(x) for x in range(99)]) == (98.0, 100.0)
    with pytest.raises(ValueError):
        tail([])


def test_summarize_reports_median_tail_and_count():
    s = summarize([5.0, 1.0, 4.0, 2.0, 3.0])
    assert s == {"median": 3.0, "tail": 5.0, "tail_pct": 100.0, "n": 5}


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4  # overlap counted once
    assert covered([(1, 2), (4, 6)], 0, 10) == 3  # disjoint
    assert covered([(-5, 3), (8, 20)], 0, 10) == 5  # clipped to the parent
    assert covered([(2, 8), (3, 4)], 0, 10) == 6  # nested


def _span(start, end, parent):
    return {"start": start, "end": end, "parent": parent}


def test_self_time_subtracts_only_direct_children():
    spans = [
        _span(0, 10, None),  # root: children cover [1,4] and [3,7] -> 6
        _span(1, 4, 0),  # grandchild [2,3] -> 2
        _span(3, 7, 0),
        _span(2, 3, 1),
    ]
    assert self_times(spans) == [4, 2, 4, 1]


def test_disabled_tracer_records_nothing():
    tr = Tracer("r", enabled=False)
    with tr.span("state") as sp:
        assert sp is None
    assert tr.spans == []


def test_tracer_nests_spans_and_reports_per_op():
    tr = Tracer("r", enabled=True)
    with tr.span("session"):
        pass
    for op in (1, 3):
        tr.op = op
        with tr.span("kernels", "correction_candidates") as sp:
            sp["rows_in"], sp["rows_out"] = 10, 4
            with tr.span("expansion", "build_corrections") as inner:
                inner["rows_in"], inner["rows_out"] = 4, 1
    assert [sp["parent"] for sp in tr.spans] == [None, None, 1, None, 3]
    assert {sp["run_id"] for sp in tr.spans} == {"r"}
    results = [
        {"kind": "pass", "ms": ms, "traced": traced}
        for ms, traced in ((900.0, False), (120.0, True), (100.0, False), (130.0, True))
    ]
    out = report(tr, results, failed=1)
    assert out["kernels.rows_in"] == (10, "count")  # per traced op, not summed
    assert out["expansion.rows_out"] == (1, "count")
    assert out["expansion.yield"] == (0.25, "ratio")
    assert out["mining.rules_kept"] == (0.0, "count")  # idle layer
    assert out["failed_share"] == (0.25, "ratio")
    # op 0 compiles the plans and is left out: 125 traced vs 100 untraced
    assert out["trace.overhead_share"][0] == pytest.approx(0.25)
    kernels_self = out["kernels.busy_s"][0]
    assert 0 <= kernels_self
    assert out["session.busy_s"][0] >= 0


def test_spec_is_valid_and_names_every_emitted_metric():
    assert check_spec(SPEC) == []
    assert [w["name"] for w in SPEC["workloads"]] == ["extract", "mine_eval", "game_serve"]
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert e2e == dict(run.END_TO_END)
    assert e2e["setup_s"] == "s"
    layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    emitted = report(Tracer("r", enabled=False), [], 0)
    assert layer == {k: unit for k, (_, unit) in emitted.items()}
    for name in LAYERS:
        assert f"{name}.busy_s" in layer and f"{name}.tasks" in layer


def test_check_spec_rejects_bad_names_and_bounds():
    bad = json.loads(json.dumps(SPEC))
    bad["end_to_end"][0]["bound"] = 0.5
    bad["per_layer"][0]["name"] = "-x"
    bad["per_layer"][1]["unit"] = "a unit"
    assert len(check_spec(bad)) == 3


def test_generator_is_seeded_and_shaped():
    shape = gen.Shape(entities=100, revisions=600)
    a, b = gen.generate(5, shape), gen.generate(5, shape)
    assert a == b
    assert gen.generate(6, shape)["edits"] != a["edits"]
    edits = a["edits"]
    deletes = sum(e["op"] == "del" for e in edits) / len(edits)
    assert 0.15 < deletes < 0.35
    based = sum(r["based_on_rev_id"] is not None for r in a["revisions"]) / len(a["revisions"])
    assert 0.05 < based < 0.25
    assert any(e["pred"] == gen.SUBCLASS_OF for e in edits)
    assert len({c["type"] for c in a["constraints"]}) == 11
    # no triple is touched twice within one revision
    keys = [(e["rev_id"], e["subj"], e["pred"], e["obj"]) for e in edits]
    assert len(keys) == len(set(keys))
