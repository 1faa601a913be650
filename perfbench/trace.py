"""In-memory span tracer for the traced benchmark run.

A span is opened around each call into a package layer.  While it is
open the Spark job group is the layer's name, so the engine's status
tracker attributes every job the call runs to that layer; when the
span closes the new jobs of the group are looked up and their task
counts attached.  Spans stay in memory and are written out once, when
the run ends.  A disabled tracer records nothing and touches no Spark
state.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from .stats import self_times

LAYERS = (
    "session", "state", "canonicalize", "kernels", "expansion", "storage",
    "mining", "evaluate", "game", "edits_out", "streaming",
)
COUNTERS = ("rows_in", "rows_out", "jobs", "tasks", "failed_tasks")


class Tracer:
    def __init__(self, run_id: str, enabled: bool, sc=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seen_jobs: set[int] = set()
        self.op = None  # index of the timed operation spans belong to

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        """Record ``layer``'s work; yields the span dict (or None when
        disabled) so the caller can add row counts and yields."""
        if not self.enabled:
            yield None
            return
        sp = {
            "name": name or layer, "layer": layer, "run_id": self.run_id, "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
            "rows_in": 0, "rows_out": 0, "jobs": 0, "tasks": 0, "failed_tasks": 0,
        }
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(layer)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._attach_jobs(sp)
            parent = self.spans[self._stack[-1]]["layer"] if self._stack else None
            self._set_group(parent)

    def _set_group(self, layer: str | None) -> None:
        if self.sc is None:
            return
        if layer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(layer, layer)

    def _attach_jobs(self, sp: dict) -> None:
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(sp["layer"]):
            if job_id in self._seen_jobs:
                continue
            self._seen_jobs.add(job_id)
            sp["jobs"] += 1
            job = tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    sp["tasks"] += stage.numCompletedTasks
                    sp["failed_tasks"] += stage.numFailedTasks

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for sp, st in zip(self.spans, selfs):
                f.write(json.dumps({**sp, "self_s": st}) + "\n")


def _ratio(num, den) -> float:
    return num / den if den else 0.0


def report(tr: Tracer, results: list[dict], failed: int) -> dict[str, tuple[float, str]]:
    """The per-layer metrics of a traced run, as name -> (value, unit).

    Layer self time and counters are summed over the spans of the
    traced operations and divided by their number; ``session`` is only
    entered at set-up and reports that one span.  Yields are ratios of
    sums, each over the spans named in it.  The tracing overhead
    compares the traced and untraced ops of the run's first op kind."""
    selfs = self_times(tr.spans)
    ops = max(sum(r["traced"] for r in results), 1)
    out = {}
    for layer in LAYERS:
        in_ops = layer != "session"
        picked = [
            (sp, st) for sp, st in zip(tr.spans, selfs)
            if sp["layer"] == layer and (sp["op"] is not None) == in_ops
        ]
        div = ops if in_ops else 1
        out[f"{layer}.busy_s"] = (sum(st for _, st in picked) / div, "s")
        for c in COUNTERS:
            out[f"{layer}.{c}"] = (sum(sp[c] for sp, _ in picked) / div, "count")

    def spans(name):
        return [sp for sp in tr.spans if sp["name"] == name and sp["op"] is not None]

    def total(sps, key):
        return sum(sp.get(key, 0) for sp in sps)

    exp, basic, refined = spans("build_corrections"), spans("mine_basic_rules"), spans("refine_rules")
    ev, tiles = spans("evaluation_metrics"), spans("select_tiles")
    stored = [sp for sp in tr.spans if sp["layer"] == "storage" and "bytes" in sp]
    out["expansion.yield"] = (_ratio(total(exp, "rows_out"), total(exp, "rows_in")), "ratio")
    out["mining.rules_kept"] = (_ratio(total(basic, "rows_out"), len(basic)), "count")
    out["mining.rules_refined"] = (
        _ratio(total(refined, "rows_out") - total(refined, "rows_in"), len(refined)), "count")
    out["evaluate.found_ratio"] = (_ratio(total(ev, "found"), total(ev, "total")), "ratio")
    precision = _ratio(total(ev, "good"), total(ev, "found"))
    recall = out["evaluate.found_ratio"][0]
    out["evaluate.precision"] = (precision, "ratio")
    out["evaluate.f1"] = (_ratio(2 * precision * recall, precision + recall), "ratio")
    out["game.fill_ratio"] = (_ratio(total(tiles, "rows_out"), total(tiles, "rows_in")), "ratio")
    out["storage.bytes_per_row"] = (_ratio(total(stored, "bytes"), total(stored, "rows_in")), "B/row")

    # the first op may be the first to compile its plans: leave it out
    kind = results[0]["kind"] if results else None
    med = {
        flag: statistics.median(
            [r["ms"] for r in results[1:] if r["traced"] == flag and r["kind"] == kind] or [0.0])
        for flag in (True, False)
    }
    out["trace.overhead_share"] = (_ratio(med[True] - med[False], med[False]), "ratio")
    out["failed_share"] = (_ratio(failed, len(results)), "ratio")
    return out
