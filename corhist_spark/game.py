"""Online serving path (game.Main reduced scope, SURVEY §3.3):
apply mined rules to live constraint violations over an entity
snapshot, filter to still-applicable edits, and select game tiles.

Transcribes:
- `corhist/.../game/CorrectionLookup.java:56-84`: rules are applied
  with the ``?g`` context var dropped (live snapshots have no history
  graph); the violating value comes from the statement node's ``ps:``
  edge; first matching rule by (confidence, support) rank wins.
- `game/ApplicableEditChecker.java:37-94`: an edit is applicable iff
  its removed claim still exists and its created claim is not already
  present — one left join of the predicted statements against the
  snapshot's direct edges instead of live API calls.
- `game/ConstraintCorrectionsGame.java:49-66`: fetch 2x the requested
  tiles in random order (seeded here), filter applicability, limit.

The snapshot models the statement-node layout of the reference's smoke
test (`CorrectionLookup.java:86-102`): rows (subj, pred, obj) with
``p:``-edges entity->statement-node, ``ps:``-edges statement->value and
``wdt:`` direct edges, encoded as pred prefixes 'p:', 'ps:', '' (direct).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .evaluate import _first_match


def build_possible_corrections(
    rules: DataFrame, violations: DataFrame, snapshot: DataFrame
) -> DataFrame:
    """violations(violation_id, entity, property, statement_id,
    constraint_id) x snapshot(subj, pred, obj) -> + target_obj and the
    predicted correction (array<struct<subj,pred,obj,op>>, NULL when no
    rule fires).

    The violating object is resolved via the statement node
    (`statement ps:prop ?o`), mirroring `CorrectionLookup.java:69-71`;
    rules are then applied by the evaluator's first-match plan with the
    direct edges as context facts and no as-of ``g`` (`removeContext`).
    """
    ps = snapshot.filter(F.col("pred").startswith("ps:")).select(
        F.col("subj").alias("ps_stmt"),
        F.expr("substr(pred, 4)").alias("ps_prop"),
        F.col("obj").alias("target_obj"),
    )
    v = violations.join(
        ps,
        (F.col("statement_id") == F.col("ps_stmt")) & (F.col("property") == F.col("ps_prop")),
    ).select("violation_id", "entity", "property", "statement_id", "constraint_id", "target_obj")
    cases = v.select(
        "violation_id", "constraint_id", F.col("entity").alias("s"), F.col("target_obj").alias("o")
    )
    direct = snapshot.filter(~F.col("pred").contains(":"))
    fired = _first_match(cases, "violation_id", rules, direct)
    return v.join(fired.select("violation_id", "predicted"), "violation_id", "left")


def filter_applicable(predictions: DataFrame, snapshot: DataFrame) -> DataFrame:
    """`ApplicableEditChecker` as set logic: every del-statement must
    exist in the snapshot's direct edges, every add-statement must
    not.  Rows with no predicted statement are dropped.

    One lookup: each row is keyed, its statements are exploded and
    left-joined to the direct edges, and the verdict is aggregated per
    key with the row carried along, so ``predictions`` is evaluated
    once.  On a single-partition input (a sample) with a broadcast
    lookup nothing is shuffled and the rows keep their order."""
    row = ", ".join(f"`{c}`" for c in predictions.columns)
    direct = snapshot.where("NOT contains(pred, ':')").select("subj", "pred", "obj")
    # the key is drawn before the explode, so it names the input row
    stmts = predictions.selectExpr(
        f"struct({row}) AS _row", "monotonically_increasing_id() AS _key"
    ).selectExpr("_row", "_key", "explode(_row.predicted) AS _stmt")
    return (
        stmts.join(
            direct,
            F.expr("_stmt.subj = subj AND _stmt.pred = pred AND _stmt.obj = obj"),
            "left",
        )
        .groupBy("_key")
        .agg(
            F.expr("first(_row) AS _row"),
            F.expr(
                "min(CASE WHEN _stmt.op = 'del' THEN subj IS NOT NULL ELSE subj IS NULL END) AS _ok"
            ),
        )
        .where("_ok")
        .sortWithinPartitions("_key")
        .selectExpr("_row.*")
    )


def queue_stats(log: DataFrame) -> DataFrame:
    """`game/ViolationDatabase.java:175-191` (countByTypeStateAndUser):
    counts per (constraint_type, state, user_id) over the action log,
    plus the '*' row per (constraint_type, state) cell aggregating ALL
    rows including NULL users — the exact shape
    `scripts/game_stats.py:20-32` consumes."""
    per_user = (
        log.filter(F.col("user_id").isNotNull())
        .groupBy("constraint_type", "state", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    star = (
        log.groupBy("constraint_type", "state")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("constraint_type", "state", F.lit("*").alias("user_id"), "n")
    )
    return per_user.unionByName(star)


def approval_summary(stats: DataFrame) -> DataFrame:
    """`scripts/game_stats.py:20-32`: per constraint type, total tiles
    over all states, approved ('a'), rejected ('r') and the approval
    ratio rounded to 2 dp (NULL when nothing was decided)."""
    s = stats.filter(F.col("user_id") == "*")
    agg = s.groupBy("constraint_type").agg(
        F.sum("n").alias("all_n"),
        F.sum(F.when(F.col("state") == "a", F.col("n")).otherwise(0)).alias("approved"),
        F.sum(F.when(F.col("state") == "r", F.col("n")).otherwise(0)).alias("rejected"),
    )
    decided = F.col("approved") + F.col("rejected")
    return agg.withColumn(
        "ratio", F.when(decided > 0, F.round(F.col("approved") / decided, 2))
    )


def select_tiles(
    predictions: DataFrame, snapshot: DataFrame, count: int, seed: int = 42
) -> DataFrame:
    """`ConstraintCorrectionsGame.java:49-66`: fetch 2x count tiles in
    random order BEFORE the applicability check (the oversample exists
    because the filter discards tiles), then filter and take the first
    count in that order; cap 30/request (`game/Main.java:49`).

    The sample is drawn once, on one partition, with its ``rand(seed)``
    value; ``filter_applicable`` checks it there, so a warm read over a
    materialized queue adds no shuffle of its own."""
    count = min(count, 30)
    sample = (
        predictions.where("predicted IS NOT NULL")
        .select("*", F.rand(seed).alias("_rand"))
        .orderBy("_rand")
        .limit(2 * count)
    )
    return filter_applicable(sample, snapshot).orderBy("_rand").limit(count).drop("_rand")
