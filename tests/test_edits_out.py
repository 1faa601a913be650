"""Edit synthesis keeps every input row, and the statement-node walk
gives the rows of the p:/ps: join with a size estimate near the
snapshot's."""

from __future__ import annotations

from pyspark.sql import functions as F

from corhist_spark.edits_out import build_edits, statement_nodes_from_snapshot

SNAPSHOT_DDL = "subj string, pred string, obj string"


def _snapshot(spark):
    return spark.createDataFrame(
        [
            ("Q1", "p:P21", "Q1-a"), ("Q1-a", "ps:P21", "Qa"),
            # two nodes for the same claim: an ambiguous GUID
            ("Q2", "p:P21", "Q2-a"), ("Q2-a", "ps:P21", "Qb"),
            ("Q2", "p:P21", "Q2-b"), ("Q2-b", "ps:P21", "Qb"),
            # one node with two ps: values
            ("Q3", "p:P31", "Q3-a"), ("Q3-a", "ps:P31", "Q5"), ("Q3-a", "ps:P31", "Q6"),
            # a p: edge with no ps: partner, and a ps: edge with no p: edge
            ("Q4", "p:P31", "Q4-a"), ("Q5-a", "ps:P31", "Q7"),
            # two entities on one node
            ("Q6", "p:P17", "Q6-a"), ("Q7", "p:P17", "Q6-a"), ("Q6-a", "ps:P17", "Q30"),
            ("Q1", "P21", "Qa"),
        ],
        SNAPSHOT_DDL,
    )


def _join_walk(snapshot):
    """The walk as a join + distinct: the reference's row set."""
    p = snapshot.filter(F.col("pred").startswith("p:")).select(
        F.col("subj").alias("entity"), F.expr("substr(pred, 3)").alias("prop"), F.col("obj").alias("stmt")
    )
    ps = snapshot.filter(F.col("pred").startswith("ps:")).select(
        F.col("subj").alias("ps_stmt"), F.expr("substr(pred, 4)").alias("ps_prop"), F.col("obj").alias("value")
    )
    return (
        p.join(ps, (F.col("stmt") == F.col("ps_stmt")) & (F.col("prop") == F.col("ps_prop")))
        .select("entity", "prop", "value", F.expr("regexp_replace(stmt, '^([^-]*)-', '$1\\\\$')").alias("guid"))
        .distinct()
    )


def test_statement_nodes_equal_the_join(spark):
    snapshot = _snapshot(spark)
    got = statement_nodes_from_snapshot(snapshot)
    assert got.columns == ["entity", "prop", "value", "guid"]
    expected = sorted(_join_walk(snapshot).collect())
    assert sorted(got.collect()) == expected
    assert ("Q3", "P31", "Q6", "Q3$a") in expected and ("Q7", "P17", "Q30", "Q6$a") in expected


def test_statement_nodes_size_estimate_stays_near_the_snapshot(spark, tmp_path):
    """The planner must see the node table at about the snapshot's
    size, or a reader of it will not broadcast it (a join's estimate is
    the product of its inputs)."""
    _snapshot(spark).write.parquet(str(tmp_path / "snapshot"))
    snapshot = spark.read.parquet(str(tmp_path / "snapshot"))

    def size(df):
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())

    assert size(statement_nodes_from_snapshot(snapshot)) <= 4 * size(snapshot)


def test_build_edits_keeps_every_row(spark):
    """One output row per input row: identical rows, a row without a
    deleted statement, and deleted statements matching 0, 1 and 2
    statement nodes (no edit for 0 and 2)."""

    def st(s, p, o, op):
        return dict(subj=s, pred=p, obj=o, op=op)

    rows = [
        (1, [st("Q1", "P21", "Qa", "del")]),
        (1, [st("Q1", "P21", "Qa", "del")]),
        (2, [st("Q1", "P31", "Q5", "add")]),
        (3, [st("Q9", "P21", "Qa", "del")]),
        (4, [st("Q2", "P21", "Qb", "del")]),
        (5, [st("Q1", "P21", "Qa", "del"), st("Q1", "P21", "Qc", "add")]),
        (6, [st("Q2", "P21", "Qb", "del"), st("Q2", "P21", "Qc", "add")]),
    ]
    corr = spark.createDataFrame(
        rows, "id int, correction array<struct<subj:string,pred:string,obj:string,op:string>>"
    )
    out = sorted(
        build_edits(corr, statement_nodes_from_snapshot(_snapshot(spark))).collect(),
        key=lambda r: r.id,
    )
    assert [(r.id, r.correction) for r in out] == sorted(
        ((r.id, r.correction) for r in corr.collect()), key=lambda t: t[0]
    )
    got = [(r.edit.action, r.edit.params.get("claim")) if r.edit else None for r in out]
    assert got == [
        ("wbremoveclaims", "Q1$a"),
        ("wbremoveclaims", "Q1$a"),
        ("wbcreateclaim", None),
        None,
        None,
        ("wbsetclaimvalue", "Q1$a"),
        None,
    ]
