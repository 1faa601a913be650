"""Rule application + evaluation + baselines.

Transcribes:
- `corhist/.../mining/Evaluator.java:21-70`: for each test correction,
  the highest-(confidence, support) rule whose violation pattern matches
  and whose context is satisfiable predicts a correction (head
  instantiation); P = good/found with P=1 when found=0 (`:52`),
  R = found/total, F1 = 2PR/(P+R) (`Evaluation.java:23-25`).
- `DeletionBaseline.java:18-32` and `AdditionBaseline.java:24-110`.
- `TuningMiner.java:22-56`: seeded CV split (>100 rows: 10% train /
  90% CV — the reference's inverted-ratio behavior, replicated
  deliberately) + confidence-threshold sweep keeping max F1.  The
  sweep applies the rules once: with confidence as the first rank key,
  the rule firing at threshold t is the unthresholded winner when its
  confidence >= t and none otherwise, so one aggregate over the fired
  rows scores every threshold.

Rule application is a broadcast join + rank window, not a per-row loop:
first-match-by-rank becomes row_number() = 1 over
(confidence desc, support desc, rule_id) — rule_id as the deterministic
tiebreak the reference leaves to hash order (SURVEY §7.3.1).  The one
plan (`_first_match`) also serves the game queue
(`game.build_possible_corrections`), which only drops the as-of ``g``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import schemas as S
from .mining import corrections_with_g


def _with_test_id(test: DataFrame) -> DataFrame:
    return test.withColumn(
        "test_id",
        F.sha2(
            F.concat_ws(
                "\x1f",
                "constraint_id",
                F.col("corr_rev").cast("string"),
                "target_subj",
                "target_pred",
                "target_obj",
                F.to_json("correction"),
            ),
            256,
        ),
    )


def _first_match(cases: DataFrame, key: str, rules: DataFrame, facts: DataFrame) -> DataFrame:
    """First-match rule application, shared by evaluation, tuning and
    the game queue.  cases(key, constraint_id, s, o[, g]) x rules x
    facts(subj, pred, obj[, from_rev, to_rev]) -> (key, rule_id,
    support, confidence, predicted) for every case a rule fires on.

    A rule matches on constraint_id and violation_obj (NULL = any o);
    its context (0 or 1 depth-1 atoms) must exist among the facts.
    When the cases carry g the atom is looked up in globalState(g)
    (from_rev <= g < to_rev); without g the facts are a live snapshot —
    dropping that one term is the reference's ``removeContext``
    (`CorrectionLookup.java:56-66`).  The highest-ranked survivor wins
    and its head is instantiated ('?s' -> s, '?o' -> o)."""
    r = F.broadcast(
        rules.select("rule_id", "constraint_id", "violation_obj", "head", "context", "support", "confidence")
    )
    m = (
        cases.join(r, "constraint_id")
        .filter(F.col("violation_obj").isNull() | (F.col("violation_obj") == F.col("o")))
        .withColumn("atom", F.explode_outer("context"))
    )

    holds = (
        (F.col("subj") == F.when(F.col("atom.var") == "?s", F.col("s")).otherwise(F.col("o")))
        & (F.col("pred") == F.col("atom.pred"))
        & ((F.col("atom.obj") == "?v") | (F.col("obj") == F.col("atom.obj")))
    )
    if "g" in cases.columns:
        holds &= (F.col("from_rev") <= F.col("g")) & (F.col("g") < F.col("to_rev"))
    ok = m.filter(F.col("atom").isNull()).unionByName(
        m.filter(F.col("atom").isNotNull()).join(facts, holds, "left_semi")
    )

    w = Window.partitionBy(key).orderBy(F.desc("confidence"), F.desc("support"), F.asc("rule_id"))
    sub = lambda term: (
        F.when(term == "?s", F.col("s")).when(term == "?o", F.col("o")).otherwise(term)
    )
    predicted = F.array_sort(
        F.transform(
            "head",
            lambda p: F.struct(
                sub(p["subj"]).alias("subj"),
                p["pred"].alias("pred"),
                sub(p["obj"]).alias("obj"),
                p["op"].alias("op"),
            ),
        )
    )
    return (
        ok.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(key, "rule_id", "support", "confidence", predicted.alias("predicted"))
    )


def apply_rules(rules: DataFrame, test: DataFrame, revisions: DataFrame, state: DataFrame) -> DataFrame:
    """-> one row per test correction (test_id, constraint_id, corr_rev,
    target_*, correction, predicted, rule_id, support, confidence):
    the fired rule's prediction and identity — the audit trail a
    reviewer reads before trusting an automated edit — all NULL when
    no rule fired."""
    t = _with_test_id(corrections_with_g(test, revisions))
    cases = t.select(
        "test_id",
        "constraint_id",
        F.col("target_subj").alias("s"),
        F.col("target_obj").alias("o"),
        "g",
    )
    return t.join(_first_match(cases, "test_id", rules, state), "test_id", "left").select(
        "test_id",
        "constraint_id",
        "corr_rev",
        "target_subj",
        "target_pred",
        "target_obj",
        "correction",
        "predicted",
        "rule_id",
        "support",
        "confidence",
    )


def evaluation_metrics(applied: DataFrame) -> DataFrame:
    """Per-constraint P/R/F1 with the reference's conventions."""
    agg = applied.groupBy("constraint_id").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("predicted").isNotNull(), 1).otherwise(0)).alias("found"),
        F.sum(
            F.when(
                F.col("predicted").isNotNull()
                & (F.col("predicted") == F.array_sort("correction")),
                1,
            ).otherwise(0)
        ).alias("good"),
    )
    p = F.when(F.col("found") == 0, F.lit(1.0)).otherwise(F.col("good") / F.col("found"))
    r = F.col("found") / F.col("total")
    out = agg.withColumn("precision", p).withColumn("recall", r)
    f1 = F.when(
        (F.col("precision") + F.col("recall")) > 0,
        2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
    )
    return out.withColumn("f1", f1)


def deletion_baseline(test: DataFrame) -> DataFrame:
    """`DeletionBaseline.java:18-32`: predict deleting the violating
    triple; P = correct/all, R = 1."""
    pred = F.array(
        F.struct(
            F.col("target_subj").alias("subj"),
            F.col("target_pred").alias("pred"),
            F.col("target_obj").alias("obj"),
            F.lit("del").alias("op"),
        )
    )
    agg = test.groupBy("constraint_id").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.array_sort("correction") == pred, 1).otherwise(0)).alias("good"),
    )
    return agg.select(
        "constraint_id",
        "total",
        (F.col("good") / F.col("total")).alias("precision"),
        F.lit(1.0).alias("recall"),
    )


def addition_baseline(test: DataFrame, constraints_pdf) -> DataFrame:
    """`AdditionBaseline.java:24-110`: per-type templated added triple;
    parameters contribute only when single-valued
    (`Constraint.getParameter`, `dataset/Constraint.java:42-48`)."""
    rows = []
    for c in constraints_pdf.to_dict("records"):
        params = c.get("params") or {}

        def single(key):
            v = params.get(key) or []
            return v[0] if len(v) == 1 else None

        t, cid, prop = c["type"], c["constraint_id"], c["property"]
        tmpl = None  # (subj_tok, pred, obj_tok)
        if t == S.TYPE_INVERSE and single(S.PARAM_PROPERTY):
            tmpl = ("?o", single(S.PARAM_PROPERTY), "?s")
        elif t == S.TYPE_SYMMETRIC:
            tmpl = ("?o", prop, "?s")
        elif t == S.TYPE_ITEM and single(S.PARAM_PROPERTY) and single(S.PARAM_ITEM):
            tmpl = ("?s", single(S.PARAM_PROPERTY), single(S.PARAM_ITEM))
        elif t == S.TYPE_TARGET_CLAIM and single(S.PARAM_PROPERTY) and single(S.PARAM_ITEM):
            tmpl = ("?o", single(S.PARAM_PROPERTY), single(S.PARAM_ITEM))
        elif t in (S.TYPE_TYPE, S.TYPE_VALUE_TYPE):
            rel = single(S.PARAM_RELATION)
            relp = {S.REL_INSTANCE: S.INSTANCE_OF, S.REL_SUBCLASS: S.SUBCLASS_OF}.get(rel)
            cls = single(S.PARAM_CLASS)
            if relp and cls:
                tmpl = ("?s" if t == S.TYPE_TYPE else "?o", relp, cls)
        if tmpl:
            rows.append({"constraint_id": cid, "t_subj": tmpl[0], "t_pred": tmpl[1], "t_obj": tmpl[2]})

    spark = test.sparkSession
    if not rows:
        return test.groupBy("constraint_id").agg(
            F.count(F.lit(1)).alias("total"),
            F.lit(0).alias("found"),
            F.lit(0).alias("good"),
        ).select("constraint_id", "total", F.lit(None).cast("double").alias("precision"), F.lit(0.0).alias("recall"))
    from .localframe import local_df

    tm = F.broadcast(
        local_df(
            spark, rows, "constraint_id string, t_subj string, t_pred string, t_obj string"
        )
    )
    j = test.join(tm, "constraint_id", "left")
    sub = lambda tok: (
        F.when(tok == "?s", F.col("target_subj")).when(tok == "?o", F.col("target_obj")).otherwise(tok)
    )
    pred = F.when(
        F.col("t_pred").isNotNull(),
        F.array(
            F.struct(
                sub(F.col("t_subj")).alias("subj"),
                F.col("t_pred").alias("pred"),
                sub(F.col("t_obj")).alias("obj"),
                F.lit("add").alias("op"),
            )
        ),
    )
    j = j.withColumn("predicted", pred)
    agg = j.groupBy("constraint_id").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("predicted").isNotNull(), 1).otherwise(0)).alias("found"),
        F.sum(
            F.when(
                F.col("predicted").isNotNull() & (F.array_sort("correction") == F.col("predicted")),
                1,
            ).otherwise(0)
        ).alias("good"),
    )
    return agg.select(
        "constraint_id",
        "total",
        F.when(F.col("found") > 0, F.col("good") / F.col("found")).alias("precision"),
        (F.col("found") / F.col("total")).alias("recall"),
    )


def diff_shape_histogram(corrections: DataFrame) -> DataFrame:
    """`mining/Main.java:219-249`: corrections per (n additions,
    n deletions) pair — pure array aggregate, then a count."""
    n_add = F.size(F.filter("correction", lambda s: s["op"] == "add"))
    n_del = F.size(F.filter("correction", lambda s: s["op"] == "del"))
    return (
        corrections.select(n_add.alias("n_add"), n_del.alias("n_del"))
        .groupBy("n_add", "n_del")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def aggregate_stats(stats: DataFrame, constraints_pdf) -> DataFrame:
    """`scripts/aggregated_stats.py:27-46`: per-constraint-type
    weighted (by test-set size) and unweighted average P/R/F1, NaN/null
    rows excluded like the script's filters."""
    spark = stats.sparkSession
    from .localframe import local_df

    types = F.broadcast(
        local_df(
            spark,
            [(c["constraint_id"], c["type"]) for c in constraints_pdf.to_dict("records")],
            "constraint_id string, type string",
        )
    )
    s = stats.join(types, "constraint_id").filter(
        F.col("precision").isNotNull()
        & F.col("recall").isNotNull()
        & ~F.isnan("precision")
        & ~F.isnan("recall")
    )
    return s.groupBy("type").agg(
        (F.sum(F.col("precision") * F.col("total")) / F.sum("total")).alias("w_precision"),
        (F.sum(F.col("recall") * F.col("total")) / F.sum("total")).alias("w_recall"),
        F.avg("precision").alias("avg_precision"),
        F.avg("recall").alias("avg_recall"),
        F.sum("total").alias("n"),
    )


# `TuningMiner.java:11-12,25-37`: split into train/CV only above 100
# corrections (`size() > 100`)
SPLIT_THRESHOLD = 100
# `TuningMiner.java:40-55`: 0.55, 0.60, ..., 1.0
THRESHOLDS = [round(0.55 + 0.05 * i, 2) for i in range(10)]


def train_test_split(corrections: DataFrame, ratio: float = 0.8, seed: int = 42):
    """`mining/Main.java:281-291` with a seed (SURVEY §7.3.2)."""
    withr = corrections.withColumn("_r", F.rand(seed))
    train = withr.filter(F.col("_r") < ratio).drop("_r")
    test = withr.filter(F.col("_r") >= ratio).drop("_r")
    return train, test


def tune(
    rules: DataFrame,
    corrections: DataFrame,
    revisions: DataFrame,
    state: DataFrame,
    seed: int = 42,
    mine=None,
) -> DataFrame:
    """`TuningMiner.java:22-56`: confidence-threshold sweep keeping the
    rule set with best F1 on the CV split.  NOTE the reference's
    inverted ratio (rand >= 0.10 -> CV set, rand < 0.10 -> train) is
    replicated on purpose.

    When ``mine`` (corrections -> rules DataFrame) is given, the base
    rule set is mined on the TRAIN partition before the sweep —
    ``bestRules = miner.mine(trainSet)`` at `TuningMiner.java:41` —
    so the thresholds are evaluated on data the rules were not mined
    from.  Without the callback the pre-mined ``rules`` are swept
    as-is (caller is responsible for the split).

    The rules are applied once: the rank orders by confidence first, so
    at threshold t the unthresholded winner still fires iff its
    confidence >= t, and nothing else can.  One aggregate over the
    fired rows scores the unfiltered set and every threshold; the first
    strict F1 maximum wins, as in the reference's loop."""
    split = corrections.count() > SPLIT_THRESHOLD
    if split:
        withr = corrections.withColumn("_r", F.rand(seed))
        train = withr.filter(F.col("_r") < 0.10).drop("_r")
        # rand() lineage: pin the CV rows while apply_rules reads them twice
        cv = withr.filter(F.col("_r") >= 0.10).drop("_r").cache()
    else:
        train = cv = corrections
    if mine is not None:
        rules = mine(train)
    applied = apply_rules(rules, cv, revisions, state)
    fired = F.col("predicted").isNotNull()
    good = fired & (F.col("predicted") == F.array_sort("correction"))
    # None = the unfiltered rule set, scored first like the reference
    thresholds = [None] + THRESHOLDS
    kept = lambda thr: F.lit(True) if thr is None else F.col("confidence") >= thr
    try:
        row = applied.agg(
            F.count(F.lit(1)),
            *(F.count(F.when(c & kept(thr), 1)) for thr in thresholds for c in (fired, good)),
        ).collect()[0]
    finally:
        if split:
            cv.unpersist()
    n = row[0]

    def f1(found, n_good):
        p = 1.0 if found == 0 else n_good / found
        r = found / n if n else 0.0
        return 0.0 if p + r == 0 else 2 * p * r / (p + r)

    scores = [f1(row[1 + 2 * i], row[2 + 2 * i]) for i in range(len(thresholds))]
    best_thr = thresholds[scores.index(max(scores))]  # first strict maximum
    return rules if best_thr is None else rules.filter(F.col("confidence") >= best_thr)
