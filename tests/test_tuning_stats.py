"""Threshold-sweep tuning (`TuningMiner.java:40-55`) and aggregated
stats (`scripts/aggregated_stats.py`) unit tests."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from corhist_spark.evaluate import SPLIT_THRESHOLD, aggregate_stats, apply_rules, evaluation_metrics, tune
from corhist_spark.mining import mine
from corhist_spark.state import build_state
from tests.test_game import RULE_DDL
from tests.test_mining import _mk


def test_tune_filters_low_confidence_when_f1_improves(spark):
    """18 del-corrections + 12 add-corrections: the base del rule has
    conf 0.6 (wrong on 12), the refined rules conf 1.0.  Sweeping to
    threshold 0.65 drops the base rule; refined rules then only fire on
    the 18 marked rows -> P=1, R=0.6, F1=0.75 beats 0.6/1.0's 0.75...
    exact outcome is data-driven; the invariant tested: tune never
    returns a worse-F1 rule set than the unfiltered one."""
    corr, revs, edits = _mk(spark, n_del=18, n_add=12, with_mark=True)
    state = build_state(edits).localCheckpoint()
    rules = mine(corr, revs, state).localCheckpoint()

    def f1_of(rs):
        m = evaluation_metrics(apply_rules(rs, corr, revs, state)).collect()[0]
        p, r = m.precision, m.recall
        return 0.0 if p + r == 0 else 2 * p * r / (p + r)

    base_f1 = f1_of(rules)
    tuned = tune(rules, corr, revs, state, seed=3)
    assert f1_of(tuned) >= base_f1 - 1e-9
    # tuned set only contains rules from the original set
    orig = {r.rule_id for r in rules.collect()}
    assert {r.rule_id for r in tuned.collect()} <= orig


def test_tune_mines_on_train_split(spark):
    """`TuningMiner.java:41`: with enough data, the base rule set is
    mined on the rand<0.10 TRAIN partition, not the full corrections
    set — the sweep then evaluates on data the rules were not mined
    from."""
    corr, revs, edits = _mk(spark, n_del=90, n_add=60, with_mark=True)
    state = build_state(edits).localCheckpoint()
    seen = {}

    def mine_cb(train):
        seen["n"] = train.count()
        return mine(train, revs, state).localCheckpoint()

    tuned = tune(None, corr, revs, state, seed=3, mine=mine_cb)
    total = corr.count()
    assert total == 150 and 0 < seen["n"] < 0.35 * total  # small split mined
    assert tuned.count() > 0  # rules came from the callback


def _threshold_rules(spark):
    """Rules for `_mk(spark, 18, 12)` (rows Q0..Q17 fixed by deleting
    (Qi, P1, Vi), Q18..Q29 by an addition): an always-wrong base rule
    at 0.55, ten 0.9 rules on V0..V9 predicting the right deletion and
    ten 0.7 deletion rules on V10..V14 (right) and V18..V22 (wrong)."""
    delete = [("?s", "P1", "?o", "del")]
    rows = [("base", "c1", None, [("?s", "P2", "?o", "del")], [], 30, 0.55)]
    rows += [(f"hi{i}", "c1", f"V{i}", delete, [], 10, 0.9) for i in range(10)]
    rows += [(f"mid{i}", "c1", f"V{i}", delete, [], 10, 0.7) for i in [*range(10, 15), *range(18, 23)]]
    return spark.createDataFrame(rows, RULE_DDL)


def test_tune_threshold_drops_a_rule(spark):
    """Unfiltered: found 30, good 15 (F1 0.667).  At 0.6 the base rule
    goes: found 20, good 15 (F1 0.706), the maximum; 0.65 and 0.7 tie
    it and the first maximum is kept.  tune must equal the
    reference's loop — one apply_rules + evaluation_metrics per
    threshold — spelled out here."""
    corr, revs, edits = _mk(spark, n_del=18, n_add=12, with_mark=True)
    state = build_state(edits).localCheckpoint()
    rules = _threshold_rules(spark)

    def f1_of(rs):
        return evaluation_metrics(apply_rules(rs, corr, revs, state)).collect()[0].f1

    best, best_f1 = rules, f1_of(rules)
    for thr in [0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95, 1.0]:
        cand = rules.filter(F.col("confidence") >= thr)
        f1 = f1_of(cand)
        if f1 > best_f1:
            best, best_f1 = cand, f1
    want = sorted(r.rule_id for r in best.collect())
    assert len(want) == 20 and "base" not in want
    assert sorted(r.rule_id for r in tune(rules, corr, revs, state).collect()) == want


def test_tune_and_apply_rules_release_their_caches(spark):
    """Neither call may leave a persisted RDD behind (a streaming
    caller applies rules once per micro-batch).  Compared as sets of
    RDD ids: the session's count also drops when the JVM collects
    other tests' frames.  The fixture size is unique to this test so
    no earlier test has cached an identical plan."""
    corr, revs, edits = _mk(spark, n_del=91, n_add=61, with_mark=True)
    assert corr.count() > SPLIT_THRESHOLD  # tune splits off a CV set
    state = build_state(edits).localCheckpoint()
    rules = mine(corr, revs, state).localCheckpoint()
    persisted = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    before = persisted()
    apply_rules(rules, corr, revs, state).collect()
    assert persisted() - before == set()
    tune(rules, corr, revs, state, seed=5).collect()
    assert persisted() - before == set()


def test_aggregate_stats_weighted_vs_unweighted(spark):
    stats = spark.createDataFrame(
        [
            ("c1", 10, 1.0, 0.5),
            ("c2", 90, 0.5, 1.0),
            ("c3", 100, float("nan"), 0.2),  # NaN filtered like the script
        ],
        "constraint_id string, total long, precision double, recall double",
    )
    cons = pd.DataFrame(
        [
            {"constraint_id": "c1", "type": "T1"},
            {"constraint_id": "c2", "type": "T1"},
            {"constraint_id": "c3", "type": "T1"},
        ]
    )
    row = aggregate_stats(stats, cons).collect()[0]
    assert row.type == "T1" and row.n == 100
    assert abs(row.w_precision - (10 * 1.0 + 90 * 0.5) / 100) < 1e-9
    assert abs(row.avg_precision - 0.75) < 1e-9
    assert abs(row.w_recall - (10 * 0.5 + 90 * 1.0) / 100) < 1e-9
