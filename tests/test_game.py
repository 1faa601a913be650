"""Game path tests, including a transcription of the reference's
hard-coded smoke test (`game/CorrectionLookup.java:86-102`): entity Q42
with a wrong P21 value on statement node Q42-error; mined rules must
propose the deletion, and edit synthesis must build a wbremoveclaims."""

from __future__ import annotations

from pyspark.sql import functions as F

from corhist_spark.edits_out import build_edits, statement_nodes_from_snapshot
from corhist_spark.evaluate import apply_rules
from corhist_spark.game import build_possible_corrections, filter_applicable, select_tiles
from corhist_spark.mining import mine_basic_rules
from corhist_spark.schemas import CORRECTIONS, EDITS, REVISIONS
from corhist_spark.state import build_state, current_state

CID = "wds:P21-09D3E4D3"
RULE_DDL = (
    "rule_id string, constraint_id string, violation_obj string, "
    "head array<struct<subj:string,pred:string,obj:string,op:string>>, "
    "context array<struct<var:string,pred:string,obj:string>>, support long, confidence double"
)


def _rules(spark):
    """Mine a 'delete the violating P21 value' rule from 12 synthetic
    corrections (stand-in for the reference's *.ser rule files)."""
    rows = [
        dict(
            constraint_id="wds:P21-09D3E4D3",
            corr_rev=2 * i + 2,
            target_subj=f"Q{i}",
            target_pred="P21",
            target_obj=f"Q{7000 + i}",
            correction=[dict(subj=f"Q{i}", pred="P21", obj=f"Q{7000 + i}", op="del")],
        )
        for i in range(12)
    ]
    revs = spark.createDataFrame(
        [
            dict(rev_id=2 * i + 2, entity=f"Q{i}", parent_rev_id=2 * i + 1, author="u",
                 based_on_rev_id=None, ts=None)
            for i in range(12)
        ],
        schema=REVISIONS,
    )
    corr = spark.createDataFrame(rows, schema=CORRECTIONS)
    rules, _ = mine_basic_rules(corr, revs, min_support=5, min_confidence=0.5)
    return rules


def _q42_world(spark):
    """The smoke-test snapshot: p:-edge entity->statement, ps:-edge
    statement->value, wdt: direct edge."""
    snapshot = spark.createDataFrame(
        [
            ("Q42", "p:P21", "Q42-error"),
            ("Q42-error", "ps:P21", "Q360210"),
            ("Q42", "P21", "Q360210"),
        ],
        "subj string, pred string, obj string",
    )
    violations = spark.createDataFrame(
        [("v1", "Q42", "P21", "Q42-error", "wds:P21-09D3E4D3")],
        "violation_id string, entity string, property string, statement_id string, constraint_id string",
    )
    return snapshot, violations


def test_q42_smoke(spark):
    rules = _rules(spark)
    snapshot, violations = _q42_world(spark)
    preds = build_possible_corrections(rules, violations, snapshot).collect()
    assert len(preds) == 1
    got = [(s.subj, s.pred, s.obj, s.op) for s in preds[0].predicted]
    assert got == [("Q42", "P21", "Q360210", "del")]


def test_applicability_and_tiles(spark):
    rules = _rules(spark)
    snapshot, violations = _q42_world(spark)
    # second violation whose claim was already removed -> inapplicable
    v2 = violations.union(
        spark.createDataFrame(
            [("v2", "Q43", "P21", "Q43-error", "wds:P21-09D3E4D3")],
            violations.schema,
        )
    )
    snap2 = snapshot.union(
        spark.createDataFrame(
            [("Q43-error", "ps:P21", "Q360299")],  # ps edge exists but no direct claim
            snapshot.schema,
        )
    )
    preds = build_possible_corrections(rules, v2, snap2)
    assert preds.filter(F.col("predicted").isNotNull()).count() == 2
    applicable = filter_applicable(preds, snap2)
    ids = [r.violation_id for r in applicable.collect()]
    assert ids == ["v1"]  # Q43's deletion target is already gone
    tiles = select_tiles(preds, snap2, count=5).collect()
    assert len(tiles) == 1


def _oversample_world(spark):
    """10 queued P21 deletions; only the first 6 claims are still in
    the snapshot's direct edges."""
    snap_rows, viol_rows = [], []
    for i in range(10):
        e, stmt, val = f"Q{100 + i}", f"Q{100 + i}-s", f"Q{9000 + i}"
        snap_rows += [(e, "p:P21", stmt), (stmt, "ps:P21", val)]
        if i < 6:  # only the first 6 still carry the direct claim
            snap_rows.append((e, "P21", val))
        viol_rows.append((f"v{i}", e, "P21", stmt, "wds:P21-09D3E4D3"))
    snapshot = spark.createDataFrame(snap_rows, "subj string, pred string, obj string")
    violations = spark.createDataFrame(
        viol_rows,
        "violation_id string, entity string, property string, statement_id string, constraint_id string",
    )
    return build_possible_corrections(_rules(spark), violations, snapshot), snapshot


def test_oversample_before_applicability_filter(spark):
    """`ConstraintCorrectionsGame.java:52-66` order: the 2x random
    fetch happens BEFORE the applicability check — with 4 of 10 queued
    tiles inapplicable, a request for 4 still fills all 4 (the 2x=8
    sample always contains >= 4 applicable ones)."""
    preds, snapshot = _oversample_world(spark)
    tiles = select_tiles(preds, snapshot, count=4).collect()
    assert len(tiles) == 4
    applicable_ids = {f"v{i}" for i in range(6)}
    assert {t.violation_id for t in tiles} <= applicable_ids


def test_select_tiles_matches_a_recount(spark):
    """Per seed, the tiles are the 2x count rows drawn in rand(seed)
    order, filtered in Python against the direct edges, first count
    kept, in that order."""
    preds, snapshot = _oversample_world(spark)
    preds = preds.localCheckpoint()
    direct = {(r.subj, r.pred, r.obj) for r in snapshot.collect() if ":" not in r.pred}
    for seed in (1, 7, 42, 99, 2024):
        for count in (2, 3, 4):
            drawn = (
                preds.filter(F.col("predicted").isNotNull())
                .orderBy(F.rand(seed))
                .limit(2 * count)
                .collect()
            )
            expected = [
                r for r in drawn
                if all(((s.subj, s.pred, s.obj) in direct) == (s.op == "del") for s in r.predicted)
            ][:count]
            assert select_tiles(preds, snapshot, count=count, seed=seed).collect() == expected


def test_filter_applicable_judges_whole_rows(spark):
    """A row is kept only when ALL its statements pass; rows without
    statements are dropped; duplicate rows are both kept."""
    snapshot = spark.createDataFrame(
        [("Q1", "P21", "Qa"), ("Q1", "P31", "Q5")], "subj string, pred string, obj string"
    )
    d, a = ("Q1", "P21", "Qa", "del"), ("Q1", "P21", "Qb", "add")
    rows = [
        ("ok-del", [d]),
        ("ok-replace", [d, a]),
        ("add-present", [d, ("Q1", "P31", "Q5", "add")]),
        ("del-absent", [("Q1", "P21", "Qz", "del")]),
        ("empty", []),
        ("null", None),
        ("ok-del", [d]),
    ]
    preds = spark.createDataFrame(
        rows, "violation_id string, predicted array<struct<subj:string,pred:string,obj:string,op:string>>"
    )
    got = sorted(r.violation_id for r in filter_applicable(preds, snapshot).collect())
    assert got == ["ok-del", "ok-del", "ok-replace"]


def test_warm_tile_read_runs_three_jobs(spark, tmp_path):
    """A warm read over a stored queue and snapshot and a materialized
    node table (the game's steady state): select_tiles + build_edits +
    collect runs at most 3 Spark jobs (two lookups and the result)."""
    preds, snapshot = _oversample_world(spark)
    preds.write.parquet(str(tmp_path / "queue"))
    snapshot.write.parquet(str(tmp_path / "snapshot"))
    preds = spark.read.parquet(str(tmp_path / "queue"))
    snapshot = spark.read.parquet(str(tmp_path / "snapshot"))
    nodes = statement_nodes_from_snapshot(snapshot).localCheckpoint()
    sc = spark.sparkContext

    def read(seed):
        tiles = select_tiles(preds, snapshot, count=4, seed=seed)
        as_corr = tiles.select(
            "violation_id", F.col("entity").alias("target_subj"), F.col("predicted").alias("correction")
        )
        return build_edits(as_corr, nodes).collect()

    read(1)
    try:
        sc.setJobGroup("warm-tile-read", "warm tile read")
        rows = read(2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 4 and all(r.edit.action == "wbremoveclaims" for r in rows)
    assert len(sc.statusTracker().getJobIdsForGroup("warm-tile-read")) <= 3


def test_edit_synthesis_from_game_prediction(spark):
    rules = _rules(spark)
    snapshot, violations = _q42_world(spark)
    preds = build_possible_corrections(rules, violations, snapshot)
    as_corrections = preds.select(
        F.col("constraint_id"),
        F.lit(0).cast("long").alias("corr_rev"),
        F.col("entity").alias("target_subj"),
        F.col("property").alias("target_pred"),
        F.col("target_obj"),
        F.col("predicted").alias("correction"),
    )
    edit = build_edits(as_corrections).collect()[0].edit
    assert edit.action == "wbremoveclaims"
    assert edit.params["claim"].startswith("Q42$")  # md5 fallback, no snapshot

    # with the statement-node snapshot, the REAL GUID is resolved via
    # the p:/ps: walk with '-' -> '$' munging (WikidataEditBuilder:134-142)
    nodes = statement_nodes_from_snapshot(snapshot)
    edit2 = build_edits(as_corrections, statement_nodes=nodes).collect()[0].edit
    assert edit2.action == "wbremoveclaims"
    assert edit2.params["claim"] == "Q42$error"

    # ambiguous match (two statement nodes carry the same triple) ->
    # the exactly-one guard drops the edit (WikidataEditBuilder:78-88)
    ambiguous = snapshot.union(
        spark.createDataFrame(
            [("Q42", "p:P21", "Q42-dup"), ("Q42-dup", "ps:P21", "Q360210")],
            snapshot.schema,
        )
    )
    edit3 = build_edits(
        as_corrections, statement_nodes=statement_nodes_from_snapshot(ambiguous)
    ).collect()[0].edit
    assert edit3 is None


def _context_rules(spark):
    """A base rule (delete the P21 value) and a refined rule that only
    holds when the subject has some P31 (`(?s, P31, ?v)`) and replaces
    the value instead; the refined rule ranks first."""
    return spark.createDataFrame(
        [
            ("base", CID, None, [("?s", "P21", "?o", "del")], [], 12, 0.6),
            ("ctx", CID, None, [("?s", "P21", "?o", "del"), ("?s", "P21", "Q6581072", "add")],
             [("?s", "P31", "?v")], 8, 0.9),
        ],
        RULE_DDL,
    )


def _predicted(row):
    return [(s.subj, s.pred, s.obj, s.op) for s in row.predicted]


def test_context_rule_outranks_base_through_direct_edges(spark):
    """`CorrectionLookup.java:56-66`: with ?g dropped, a context atom is
    looked up in the snapshot's direct edges.  Q42 has a direct P31, so
    the refined rule wins; Q43 has P31 only through a statement node,
    so the base rule does."""
    snapshot, violations = _q42_world(spark)
    snapshot = snapshot.union(
        spark.createDataFrame(
            [
                ("Q42", "P31", "Q5"),
                ("Q43", "p:P21", "Q43-error"),
                ("Q43-error", "ps:P21", "Q360299"),
                ("Q43", "P21", "Q360299"),
                ("Q43", "p:P31", "Q43-s"),
                ("Q43-s", "ps:P31", "Q5"),
            ],
            snapshot.schema,
        )
    )
    violations = violations.union(
        spark.createDataFrame([("v2", "Q43", "P21", "Q43-error", CID)], violations.schema)
    )
    preds = {
        r.violation_id: _predicted(r)
        for r in build_possible_corrections(_context_rules(spark), violations, snapshot).collect()
    }
    assert preds == {
        "v1": [("Q42", "P21", "Q360210", "del"), ("Q42", "P21", "Q6581072", "add")],
        "v2": [("Q43", "P21", "Q360299", "del")],
    }


def test_game_and_evaluator_pick_the_same_rule(spark):
    """The game is the evaluator with ?g dropped: on the same cases,
    build_possible_corrections over the current snapshot and
    apply_rules at g = the current revision fire the same rules."""
    edits = spark.createDataFrame(
        [
            dict(rev_id=1, op="add", subj="Q1", pred="P21", obj="Qa", obj_kind="iri"),
            dict(rev_id=1, op="add", subj="Q1", pred="P31", obj="Q5", obj_kind="iri"),
            dict(rev_id=2, op="add", subj="Q2", pred="P21", obj="Qb", obj_kind="iri"),
        ],
        schema=EDITS,
    )
    revs = spark.createDataFrame(
        [
            dict(rev_id=r, entity=e, parent_rev_id=p, author="u", based_on_rev_id=None, ts=None)
            for r, e, p in [(1, "Q1", None), (2, "Q2", None), (3, "Q1", 2), (4, "Q2", 2)]
        ],
        schema=REVISIONS,
    )
    state = build_state(edits)
    corr = spark.createDataFrame(
        [
            dict(constraint_id=CID, corr_rev=rev, target_subj=e, target_pred="P21", target_obj=o,
                 correction=[dict(subj=e, pred="P21", obj=o, op="del")])
            for rev, e, o in [(3, "Q1", "Qa"), (4, "Q2", "Qb")]
        ],
        schema=CORRECTIONS,
    )
    snapshot = current_state(state).select("subj", "pred", "obj").union(
        spark.createDataFrame(
            [("Q1", "p:P21", "Q1-s"), ("Q1-s", "ps:P21", "Qa"),
             ("Q2", "p:P21", "Q2-s"), ("Q2-s", "ps:P21", "Qb")],
            "subj string, pred string, obj string",
        )
    )
    violations = spark.createDataFrame(
        [("v1", "Q1", "P21", "Q1-s", CID), ("v2", "Q2", "P21", "Q2-s", CID)],
        "violation_id string, entity string, property string, statement_id string, constraint_id string",
    )
    rules = _context_rules(spark)
    applied = {r.target_subj: r for r in apply_rules(rules, corr, revs, state).collect()}
    assert {e: r.rule_id for e, r in applied.items()} == {"Q1": "ctx", "Q2": "base"}
    game = {r.entity: _predicted(r) for r in build_possible_corrections(rules, violations, snapshot).collect()}
    assert game == {e: _predicted(r) for e, r in applied.items()}
