"""The three workloads and the run loop around them.

Each workload is one process with one closed-loop client: the next
operation starts when the previous one has returned.  A workload has a
``setup`` (repeated to time it), an ``op`` (the timed unit of work)
and a ``check`` that compares what the ops produced with an
independent computation after the clock has stopped.

The harness calls only public functions of the package and hands it
only the inputs ``gen`` made from the seed.  In a traced op every
layer call runs inside a span and its output is materialized at the
layer boundary, so the span holds that layer's own work; an untraced
op runs the calls exactly as the package's own callers chain them.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from collections import Counter, defaultdict

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from corhist_spark import oracle
from corhist_spark.canonicalize import interval_closure
from corhist_spark.edits_out import build_edits, statement_nodes_from_snapshot
from corhist_spark.evaluate import (
    addition_baseline,
    apply_rules,
    deletion_baseline,
    evaluation_metrics,
    train_test_split,
    tune,
)
from corhist_spark.expansion import build_corrections
from corhist_spark.game import build_possible_corrections, select_tiles
from corhist_spark.kernels import correction_candidates, prepare_constraints
from corhist_spark.mining import mine_basic_rules, refine_rules
from corhist_spark.state import build_state, current_state
from corhist_spark.storage import Warehouse
from corhist_spark.streaming import upsert_violation_queue

from . import gen

TILES = 30  # tiles per game request (the game's own cap)


def _now() -> float:
    return time.perf_counter()


def _materialize(sp, df, rows_in):
    """At a traced layer boundary: compute ``df`` once and record the
    layer's row counts.  Untraced (``sp`` is None) it is a no-op."""
    if sp is None:
        return df
    df = df.localCheckpoint()
    sp["rows_in"] = rows_in
    sp["rows_out"] = df.count()
    return df


def _table_bytes(wh: Warehouse, table: str) -> int:
    path = os.path.join(wh.root, table)
    return sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet")
    )


def _correction_key(constraint_id, corr_rev, subj, pred, obj, stmts) -> tuple:
    return (constraint_id, int(corr_rev), subj, pred, obj, frozenset(stmts))


_STR = pa.string()
EDITS = pa.schema([("rev_id", pa.int64()), ("op", _STR), ("subj", _STR), ("pred", _STR),
                   ("obj", _STR), ("obj_kind", _STR)])
REVISIONS = pa.schema([("rev_id", pa.int64()), ("entity", _STR), ("parent_rev_id", pa.int64()),
                       ("author", _STR), ("based_on_rev_id", pa.int64())])
CORRECTIONS = pa.schema([
    ("constraint_id", _STR), ("corr_rev", pa.int64()), ("target_subj", _STR),
    ("target_pred", _STR), ("target_obj", _STR),
    ("correction", pa.list_(pa.struct([("subj", _STR), ("pred", _STR), ("obj", _STR), ("op", _STR)]))),
])


class Inputs:
    """One generated instance: Python rows, their parquet copies and
    the Spark frames read back from them."""

    def __init__(self, spark, seed: int, root: str):
        self.data = gen.generate(seed)
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.edits = self._parquet(spark, "edits", self.data["edits"], EDITS)
        self.revisions = self._parquet(spark, "revisions", self.data["revisions"], REVISIONS)
        self.constraints = pd.DataFrame(self.data["constraints"])
        self.n_edits = len(self.data["edits"])

    def _parquet(self, spark, name: str, rows: list[dict], schema: pa.Schema):
        path = os.path.join(self.root, f"{name}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema), path)
        return spark.read.parquet(path)

    def reference_corrections(self) -> set:
        """The correction set by the package's pure-Python transcription
        of the reference semantics (never run on Spark)."""
        h = oracle.History(self.data["revisions"], self.data["edits"])
        return {
            _correction_key(c.constraint_id, c.corr_rev, c.target_subj, c.target_pred,
                            c.target_obj, c.correction)
            for con in self.data["constraints"]
            for c in oracle.find_corrections(h, con)
        }

    def corrections_frame(self, spark, corrections: set):
        """Write a correction set to parquet and read it back."""
        rows = [
            {"constraint_id": k[0], "corr_rev": k[1], "target_subj": k[2], "target_pred": k[3],
             "target_obj": k[4],
             "correction": [dict(zip(("subj", "pred", "obj", "op"), s)) for s in sorted(k[5])]}
            for k in sorted(corrections, key=lambda k: k[:5] + (sorted(k[5]),))
        ]
        return self._parquet(spark, "corrections", rows, CORRECTIONS)

    def current_triples(self) -> set:
        """Statements visible after the last revision: last op wins."""
        last = {}
        for e in sorted(self.data["edits"], key=lambda e: e["rev_id"]):
            last[(e["subj"], e["pred"], e["obj"])] = e["op"]
        return {t for t, op in last.items() if op == "add"}


# --- extract: dataset.Main ----------------------------------------------------


class Extract:
    """Edit history -> state -> P279 closure -> every constraint kernel
    in one plan -> expansion -> corrections committed to a fresh
    warehouse.  One op is one full extraction."""

    # a batch program compiles its plans on every run: its one timed op
    # is the process's first
    batch = True
    warm_ops = 0
    min_ops = cycle = 1

    def setup(self, spark, seed, root):
        return {"spark": spark, "inp": Inputs(spark, seed, os.path.join(root, "in")),
                "root": root}

    def op(self, ctx, i, tr):
        spark, inp = ctx["spark"], ctx["inp"]
        wh = Warehouse(spark, os.path.join(ctx["root"], f"wh-{i}"))
        t0 = _now()
        with tr.span("state", "build_state") as sp:
            cached = build_state(inp.edits).cache()
            state = _materialize(sp, cached, inp.n_edits)
        with tr.span("canonicalize", "interval_closure") as sp:
            closure = _materialize(sp, interval_closure(state), sp and state.count())
        with tr.span("kernels", "correction_candidates") as sp:
            cons = prepare_constraints(spark, inp.constraints)
            rows = correction_candidates(inp.edits, inp.revisions, state, closure, cons)
            rows = _materialize(sp, rows, inp.n_edits)
        with tr.span("expansion", "build_corrections") as sp:
            corr = build_corrections(rows, inp.edits, inp.revisions, state)
            corr = _materialize(sp, corr, sp and rows.count())
        t_write = _now()
        with tr.span("storage", "log_stage") as sp:
            out = wh.log_stage(tr.run_id, "corrections", corr)
            if sp is not None:
                sp["rows_in"] = corr.count()
                sp["rows_out"] = out.count()
                sp["bytes"] = _table_bytes(wh, "corrections")
        t1 = _now()
        cached.unpersist()
        return {"kind": "pass", "ms": (t1 - t0) * 1e3, "write_ms": (t1 - t_write) * 1e3,
                "units": inp.n_edits, "wh": wh}

    def check(self, ctx, results) -> int:
        """Every pass's committed corrections must equal the reference
        set."""
        want = ctx["inp"].reference_corrections()
        return sum(
            want != {
                _correction_key(x.constraint_id, x.corr_rev, x.target_subj, x.target_pred,
                                x.target_obj, ((s.subj, s.pred, s.obj, s.op) for s in x.correction))
                for x in r["wh"].read("corrections").collect()
            }
            for r in results
        )


# --- mine_eval: mining.Main ---------------------------------------------------


class MineEval:
    """Seeded split -> basic + refined rules -> confidence tuning (11
    ``apply_rules`` passes) -> test-set P/R/F1 -> both baselines ->
    tuned rules committed.  One op is one full pass."""

    # a batch program compiles its plans on every run: its one timed op
    # is the process's first
    batch = True
    warm_ops = 0
    min_ops = cycle = 1
    CORRECTIONS = 400

    def setup(self, spark, seed, root):
        inp = Inputs(spark, seed, os.path.join(root, "in"))
        wh = Warehouse(spark, os.path.join(root, "wh"))
        # a fixed-size seeded sample: every seed mines the same amount
        ref = sorted(inp.reference_corrections(), key=lambda k: k[:5] + (sorted(k[5]),))
        ref = random.Random(seed).sample(ref, min(self.CORRECTIONS, len(ref)))
        wh.write("corrections", inp.corrections_frame(spark, set(ref)))
        state = build_state(inp.edits).localCheckpoint()
        return {"spark": spark, "inp": inp, "wh": wh, "state": state, "seed": seed,
                "n_corr": len(ref)}

    def op(self, ctx, i, tr):
        inp, wh, state, seed = ctx["inp"], ctx["wh"], ctx["state"], ctx["seed"]
        revs = inp.revisions
        t0 = _now()
        with tr.span("storage", "read") as sp:
            corr = _materialize(sp, wh.read("corrections"), ctx["n_corr"])
        with tr.span("evaluate", "train_test_split") as sp:
            # both sides are cut from the split's lineage, as the
            # package's callers do, before rules mined from one side
            # are joined against the other
            train, test = (d.localCheckpoint() for d in train_test_split(corr, 0.8, seed))
            if sp is not None:
                sp["rows_in"], sp["rows_out"] = ctx["n_corr"], train.count() + test.count()
        with tr.span("mining", "mine_basic_rules") as sp:
            basic, bindings = mine_basic_rules(train, revs)
            basic = _materialize(sp, basic, sp and train.count())
        with tr.span("mining", "refine_rules") as sp:
            # callers cut the mined rules' lineage before tuning
            rules = refine_rules(basic, bindings, state).localCheckpoint()
            if sp is not None:
                sp["rows_in"], sp["rows_out"] = basic.count(), rules.count()
        with tr.span("evaluate", "tune") as sp:
            best = tune(rules, train, revs, state, seed=seed)
            best = _materialize(sp, best, sp and rules.count())
        with tr.span("evaluate", "apply_rules") as sp:
            applied = apply_rules(best, test, revs, state)
            applied = _materialize(sp, applied, sp and test.count())
        with tr.span("evaluate", "evaluation_metrics") as sp:
            stats = evaluation_metrics(applied).collect()
            totals = [sum(r[k] for r in stats) for k in ("total", "found", "good")]
            if sp is not None:
                sp["rows_in"], sp["rows_out"] = totals[0], len(stats)
                sp["total"], sp["found"], sp["good"] = totals
        with tr.span("evaluate", "baselines") as sp:
            dbl = deletion_baseline(test).collect()
            abl = addition_baseline(test, inp.constraints).collect()
            if sp is not None:
                sp["rows_in"], sp["rows_out"] = totals[0], len(dbl) + len(abl)
        t_write = _now()
        with tr.span("storage", "write") as sp:
            wh.write("rules", best)
            if sp is not None:
                sp["rows_in"] = sp["rows_out"] = best.count()
                sp["bytes"] = _table_bytes(wh, "rules")
        t1 = _now()
        return {"kind": "pass", "ms": (t1 - t0) * 1e3, "write_ms": (t1 - t_write) * 1e3,
                "units": ctx["n_corr"], "totals": totals, "dbl": dbl,
                "frames": (train, test, basic, applied)}

    def check(self, ctx, results) -> int:
        """Every pass must agree with the last; the last is recomputed
        independently: basic rules by a Python miner over the train
        split, P/R/F1 counts from the applied predictions, the deletion
        baseline from the test split."""
        last = results[-1]
        train, test, basic, applied = last["frames"]
        ok = _python_rules(train.collect()) == {
            (r.constraint_id, r.violation_obj,
             tuple((h.subj, h.pred, h.obj, h.op) for h in r.head)): (r.support, round(r.confidence, 9))
            for r in basic.collect()
        }
        tot = Counter()
        for r in applied.collect():
            tot["total"] += 1
            if r.predicted is not None:
                tot["found"] += 1
                tot["good"] += sorted(r.predicted) == sorted(r.correction)
        ok &= [tot["total"], tot["found"], tot["good"]] == last["totals"]
        want_dbl = defaultdict(Counter)
        for r in test.collect():
            c = want_dbl[r.constraint_id]
            c["total"] += 1
            c["good"] += [tuple(s) for s in r.correction] == [
                (r.target_subj, r.target_pred, r.target_obj, "del")]
        ok &= all(
            abs(row.precision - want_dbl[row.constraint_id]["good"] / want_dbl[row.constraint_id]["total"]) < 1e-9
            for row in last["dbl"]
        ) and len(last["dbl"]) == len(want_dbl)
        return sum(1 for r in results if not ok or r["totals"] != last["totals"])


def _python_rules(train_rows, min_support=10, min_conf=0.5) -> dict:
    """Basic rules (`Miner.possibleBasicRules`) in plain Python."""
    body, full = Counter(), Counter()
    for c in train_rows:
        for vobj in (None, c.target_obj):

            def tok(term):
                if term == c.target_subj:
                    return "?s"
                if vobj is None and term == c.target_obj:
                    return "?o"
                return term

            head = tuple(sorted({(tok(s.subj), s.pred, tok(s.obj), s.op) for s in c.correction}))
            body[(c.constraint_id, vobj)] += 1
            full[(c.constraint_id, vobj, head)] += 1
    return {
        k: (n, round(n / body[k[:2]], 9))
        for k, n in full.items()
        if n >= min_support and n / body[k[:2]] >= min_conf
    }


# --- game_serve: game.Main ----------------------------------------------------


def _stmt_id(s: str, p: str, o: str) -> str:
    return f"{s}-{hashlib.md5(f'{s}|{p}|{o}'.encode()).hexdigest()[:8]}"


def _snapshot(cur):
    """Current statements in the statement-node layout: ``p:`` entity ->
    node, ``ps:`` node -> value, and the direct edge."""
    stmt = F.concat(
        F.col("subj"), F.lit("-"),
        F.substring(F.md5(F.concat_ws("|", "subj", "pred", "obj")), 1, 8),
    )
    return (
        cur.select("subj", F.concat(F.lit("p:"), "pred").alias("pred"), stmt.alias("obj"))
        .unionByName(cur.select(stmt.alias("subj"), F.concat(F.lit("ps:"), "pred").alias("pred"), "obj"))
        .unionByName(cur.select("subj", "pred", "obj"))
    )


VIOLATION_COLS = ["violation_id", "entity", "property", "statement_id", "constraint_id"]
VIOLATION_SCHEMA = ", ".join(f"{c} string" for c in VIOLATION_COLS)


class GameServe:
    """Tile reads and queue refreshes against a statement-node snapshot.
    A read is ``select_tiles`` + ``build_edits`` + collect; every
    ``REFRESH_EVERY``-th op is a refresh: a batch of new and re-seen
    violations gets predictions, is merged into the queue and the new
    queue version is committed.  Reads after a refresh see it.

    The traffic mix is assumed, not measured: nothing in the reference
    gives the updater's cadence or the queue's state mix.  Only reads
    set the bounded metrics; refresh time is reported apart."""

    REFRESH_EVERY = 4
    batch = False
    warm_ops = REFRESH_EVERY
    # whole read/refresh cycles, so every run has the same mix
    min_ops = cycle = REFRESH_EVERY
    REFRESH_SIZE = 40  # violations per refresh, half new, half re-seen
    QUEUED_SHARE = 0.7  # of violations in the queue before the first refresh
    STATE_WEIGHTS = {"p": 7, "a": 1, "r": 1, "o": 1}  # their initial states

    def setup(self, spark, seed, root):
        inp = Inputs(spark, seed, os.path.join(root, "in"))
        wh = Warehouse(spark, os.path.join(root, "wh"))
        state = build_state(inp.edits).localCheckpoint()
        snapshot = _snapshot(current_state(state)).localCheckpoint()
        nodes = statement_nodes_from_snapshot(snapshot).localCheckpoint()
        corr = inp.corrections_frame(spark, inp.reference_corrections())
        # the served rules are the basic rules; refinement is timed in
        # mine_eval and would double this set-up
        rules, _ = mine_basic_rules(corr, inp.revisions)

        # violation reports on the constrained properties of the current
        # state; some start in the queue, the rest arrive in refreshes
        rng = random.Random(seed)
        current = inp.current_triples()
        cid_of = {c["property"]: c["constraint_id"] for c in inp.data["constraints"]}
        viols = sorted(
            (f"v-{_stmt_id(s, p, o)}", s, p, _stmt_id(s, p, o), cid_of[p])
            for s, p, o in current if p in cid_of
        )
        rng.shuffle(viols)
        cut = int(len(viols) * self.QUEUED_SHARE)
        initial, arriving = viols[:cut], viols[cut:]
        kinds, weights = zip(*self.STATE_WEIGHTS.items())
        states = {v[0]: rng.choices(kinds, weights)[0] for v in initial}
        init_df = spark.createDataFrame(pd.DataFrame(initial, columns=VIOLATION_COLS), VIOLATION_SCHEMA)
        state_df = spark.createDataFrame(
            pd.DataFrame(sorted(states.items()), columns=["violation_id", "state"]),
            "violation_id string, state string",
        )
        queue0 = build_possible_corrections(rules, init_df, snapshot).join(state_df, "violation_id")
        wh.write("queue", queue0)
        return {
            "spark": spark, "inp": inp, "seed": seed, "wh": wh, "snapshot": snapshot, "nodes": nodes,
            "rules": rules, "queue": wh.read("queue"), "current": current,
            "by_id": {v[0]: v for v in viols}, "seen": [v[0] for v in initial],
            "arriving": arriving, "versions": [states], "reads": [],
        }

    def op(self, ctx, i, tr):
        if i % self.REFRESH_EVERY == self.REFRESH_EVERY - 1:
            return self._refresh(ctx, i, tr)
        return self._read(ctx, i, tr)

    def _read(self, ctx, i, tr):
        t0 = _now()
        with tr.span("game", "select_tiles") as sp:
            proposed = ctx["queue"].filter(F.col("state") == "p")
            tiles = select_tiles(proposed, ctx["snapshot"], count=TILES, seed=ctx["seed"] * 1000 + i)
            tiles = _materialize(sp, tiles, TILES)
        with tr.span("edits_out", "build_edits") as sp:
            as_corr = tiles.select(
                "violation_id", "constraint_id", F.col("entity").alias("target_subj"),
                F.col("property").alias("target_pred"), "target_obj",
                F.col("predicted").alias("correction"),
            )
            rows = build_edits(as_corr, ctx["nodes"]).collect()
            if sp is not None:
                sp["rows_in"], sp["rows_out"] = len(rows), sum(r.edit is not None for r in rows)
        t1 = _now()
        ctx["reads"].append((len(ctx["versions"]) - 1, rows))
        return {"kind": "read", "ms": (t1 - t0) * 1e3, "units": len(rows), "read": len(ctx["reads"]) - 1}

    def _refresh(self, ctx, i, tr):
        spark, wh = ctx["spark"], ctx["wh"]
        rng = random.Random(ctx["seed"] * 7919 + i)
        new = [ctx["arriving"].pop() for _ in range(min(self.REFRESH_SIZE // 2, len(ctx["arriving"])))]
        seen = rng.sample(ctx["seen"], min(self.REFRESH_SIZE - len(new), len(ctx["seen"])))
        batch = new + [ctx["by_id"][v] for v in seen]
        batch_df = spark.createDataFrame(pd.DataFrame(batch, columns=VIOLATION_COLS), VIOLATION_SCHEMA)
        t0 = _now()
        with tr.span("game", "build_possible_corrections") as sp:
            preds = _materialize(sp, build_possible_corrections(ctx["rules"], batch_df, ctx["snapshot"]),
                                 len(batch))
        with tr.span("streaming", "upsert_violation_queue") as sp:
            queue = _materialize(sp, upsert_violation_queue(ctx["queue"], preds), sp and len(batch))
        with tr.span("storage", "write") as sp:
            wh.write("queue", queue)
            ctx["queue"] = wh.read("queue")
            if sp is not None:
                sp["rows_in"] = sp["rows_out"] = ctx["queue"].count()
                sp["bytes"] = _table_bytes(wh, "queue")
        t1 = _now()
        # the p/a/r/o merge, replayed in Python for the check
        states = dict(ctx["versions"][-1])
        for v in batch:
            states[v[0]] = "p" if states.get(v[0], "o") == "o" else states[v[0]]
        ctx["versions"].append(states)
        ctx["seen"].extend(v[0] for v in new)
        return {"kind": "refresh", "ms": (t1 - t0) * 1e3, "write_ms": (t1 - t0) * 1e3, "units": 0}

    def check(self, ctx, results) -> int:
        """Every served tile must be a proposed violation of the queue
        version the read saw, applicable in the snapshot (deleted
        statements present, added ones absent), with the edit the
        statement-node layout implies; the final queue must equal the
        Python replay of every merge."""
        current = ctx["current"]
        failed = 0
        for r in results:
            if r["kind"] == "read":
                version, rows = ctx["reads"][r["read"]]
                failed += not _tiles_ok(rows, ctx["versions"][version], current)
        final = {row.violation_id: row.state for row in ctx["queue"].select("violation_id", "state").collect()}
        if final != ctx["versions"][-1]:
            failed += sum(r["kind"] == "refresh" for r in results)
        return min(failed, len(results))


def _tiles_ok(rows, states, current) -> bool:
    if len(rows) > TILES or len({r.violation_id for r in rows}) != len(rows):
        return False
    for r in rows:
        if states.get(r.violation_id) != "p" or r.correction is None:
            return False
        stmts = [(s.subj, s.pred, s.obj, s.op) for s in r.correction]
        for s, p, o, op in stmts:
            if ((s, p, o) in current) != (op == "del"):
                return False
        if _expected_edit(stmts) != ((r.edit.action, r.edit.params.get("claim")) if r.edit else None):
            return False
    return True


def _expected_edit(stmts):
    """The wb* action a correction maps to in the statement-node
    layout, where every current statement has exactly one node."""
    adds = [x for x in stmts if x[3] == "add"]
    dels = [x for x in stmts if x[3] == "del"]
    guid = lambda x: _stmt_id(*x[:3]).replace("-", "$", 1)  # noqa: E731
    if len(stmts) == 1:
        return ("wbcreateclaim", None) if adds else ("wbremoveclaims", guid(dels[0]))
    if (len(adds), len(dels)) == (1, 1) and adds[0][:2] == dels[0][:2] and adds[0][2] != dels[0][2]:
        return ("wbsetclaimvalue", guid(dels[0]))
    return None


WORKLOADS = {"extract": Extract, "mine_eval": MineEval, "game_serve": GameServe}
