"""Edit synthesis: correction statement sets -> MediaWiki wb* actions.

Transcribes `corhist/.../game/WikidataEditBuilder.java:32-132`:
- 1 statement: addition -> wbcreateclaim, deletion -> wbremoveclaims
- 2 statements (1 add + 1 del, same subject+predicate, different
  object) -> wbsetclaimvalue (replacement)
- anything else -> unsupported (NULL edit)

Claim GUIDs: when a statement-node snapshot is supplied (the p:/ps:
layout game.py models), the GUID is resolved like `getGuids`
(`WikidataEditBuilder.java:134-142`): entity --p:prop--> statement
node --ps:prop--> value, localName's first '-' replaced by '$', and
the edit is dropped (NULL) unless EXACTLY one statement matches
(`:78-88,114-117`).  Without a snapshot the deterministic fallback
GUID ``<entity>$<md5 of s|p|o>`` keeps offline parity runs executable.

Everything is SQL expression text, parsed by Spark in one call per
projection rather than assembled node by node over py4j, plus (when
resolving) one left join against the statement-node table keyed on the
deleted triple and a per-row count of its matches — no per-row Python
anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _value_json(obj: str) -> str:
    """Wikibase value JSON for entity-id vs string values (subset of
    `game/SimpleValueSerializer.java:20-64`), as SQL text over the SQL
    expression ``obj``."""
    return (
        f"CASE WHEN {obj} RLIKE '^[QPL][0-9]+$'"
        f" THEN to_json(named_struct('type', 'wikibase-entityid', 'value', named_struct('id', {obj})))"
        f" ELSE to_json(named_struct('type', 'string', 'value', {obj})) END"
    )


# statement-node localName -> claim GUID: the first '-' becomes '$'
# (`WikidataEditBuilder.java:141` replaceFirst)
_MUNGE_GUID = (
    "CASE WHEN instr(stmt, '-') > 0 THEN concat(substring(stmt, 1, instr(stmt, '-') - 1), '$',"
    " substring(stmt, instr(stmt, '-') + 1, length(stmt))) ELSE stmt END"
)

# SQL text over the `correction` column: its single statement, first
# add and first del, and the two shapes with a deleted claim
_ONE = "element_at(correction, 1)"
_ADD1 = "element_at(filter(correction, s -> s.op = 'add'), 1)"
_DEL1 = "element_at(filter(correction, s -> s.op = 'del'), 1)"
_IS_ONE = "size(correction) = 1"
_IS_PAIR = (
    "size(correction) = 2 AND size(filter(correction, s -> s.op = 'add')) = 1"
    " AND size(filter(correction, s -> s.op = 'del')) = 1"
)

# the deleted statement whose GUID a remove/replace needs
_DEL_STMT = f"CASE WHEN {_IS_ONE} AND {_ONE}.op = 'del' THEN {_ONE} WHEN {_IS_PAIR} THEN {_DEL1} END"

# the wb* action over `correction` and the resolved claim `_guid`
_EDIT = (
    f"CASE WHEN {_IS_ONE} AND {_ONE}.op = 'add' THEN named_struct('action', 'wbcreateclaim',"
    " 'params', map_from_arrays(array('entity', 'property', 'snaktype', 'value'),"
    f" array({_ONE}.subj, {_ONE}.pred, 'value', {_value_json(_ONE + '.obj')})))"
    f" WHEN {_IS_ONE} AND {_ONE}.op = 'del' AND _guid IS NOT NULL THEN named_struct("
    "'action', 'wbremoveclaims', 'params', map_from_arrays(array('claim'), array(_guid)))"
    f" WHEN {_IS_PAIR} AND {_ADD1}.subj = {_DEL1}.subj AND {_ADD1}.pred = {_DEL1}.pred"
    f" AND {_ADD1}.obj != {_DEL1}.obj AND _guid IS NOT NULL THEN named_struct("
    "'action', 'wbsetclaimvalue', 'params', map_from_arrays(array('claim', 'snaktype', 'value'),"
    f" array(_guid, 'value', {_value_json(_ADD1 + '.obj')}))) END"
)


def statement_nodes_from_snapshot(snapshot: DataFrame) -> DataFrame:
    """(subj, pred, obj) snapshot with 'p:'/'ps:' pred prefixes ->
    (entity, prop, value, guid): the entity -p:-> node -ps:-> value
    walk of `getGuids`, one row per distinct walk.

    The ``p:`` and ``ps:`` rows are grouped by (GUID, prop) and each
    group's entities are paired with the values of the same node: the
    rows of join + distinct, with a size estimate that stays near the
    snapshot's.  (The planner estimates a join as the product of its
    inputs, and that estimate survives a checkpoint, so a reader of a
    joined table would shuffle all of it rather than broadcast it.)"""
    ends = snapshot.where("pred LIKE 'p:%' OR pred LIKE 'ps:%'").selectExpr(
        "CASE WHEN pred LIKE 'p:%' THEN obj ELSE subj END AS stmt",
        "CASE WHEN pred LIKE 'p:%' THEN substr(pred, 3) ELSE substr(pred, 4) END AS prop",
        # (node, end) pairs; the other side's rows are NULL, which collect_set drops
        "CASE WHEN pred LIKE 'p:%' THEN named_struct('stmt', obj, 'v', subj) END AS entity",
        "CASE WHEN pred LIKE 'ps:%' THEN named_struct('stmt', subj, 'v', obj) END AS value",
    )
    # grouped by GUID, so rows of two nodes with one GUID come out once
    return (
        ends.where("stmt IS NOT NULL")
        .selectExpr(f"{_MUNGE_GUID} AS guid", "prop", "entity", "value")
        .groupBy("guid", "prop")
        .agg(F.expr("collect_set(entity) AS es"), F.expr("collect_set(value) AS vs"))
        .selectExpr(
            "inline(array_distinct(flatten(transform(es, e -> transform(filter(vs, v -> v.stmt = e.stmt),"
            " v -> named_struct('entity', e.v, 'value', v.v))))))",
            "prop",
            "guid",
        )
        .select("entity", "prop", "value", "guid")
    )


def build_edits(corrections: DataFrame, statement_nodes: DataFrame | None = None) -> DataFrame:
    """corrections(..., correction array<struct<subj,pred,obj,op>>) ->
    + edit struct<action:string, params:map<string,string>> (NULL when
    the diff shape is unsupported, or — with a snapshot — when the
    deleted claim does not resolve to exactly one GUID).  One output
    row per input row.

    With ``statement_nodes`` each row's deleted statement is looked up
    in the node table as it is (no pre-aggregation of the whole table),
    and the matches are counted and min-reduced per input row.  On a
    single-partition input (a served read) with a broadcast lookup
    nothing is shuffled and the rows keep their order."""
    cols = [f"`{c}`" for c in corrections.columns]
    if statement_nodes is None:
        df = corrections.selectExpr("*", f"{_DEL_STMT} AS _d").selectExpr(
            "*", "concat(_d.subj, '$', md5(concat_ws('|', _d.subj, _d.pred, _d.obj))) AS _guid"
        )
    else:
        keyed = corrections.selectExpr(
            f"struct({', '.join(cols)}) AS _row",
            "monotonically_increasing_id() AS _key",
            f"{_DEL_STMT} AS _d",
        )
        df = (
            keyed.join(
                statement_nodes,
                F.expr("_d.subj = entity AND _d.pred = prop AND _d.obj = value"),
                "left",
            )
            .groupBy("_key")
            .agg(
                F.expr("first(_row) AS _row"),
                # exactly-one-match requirement of `getGuids` callers
                F.expr("CASE WHEN count(guid) = 1 THEN min(guid) END AS _guid"),
            )
            .sortWithinPartitions("_key")
            .selectExpr("_row.*", "_guid")
        )
    return df.selectExpr(*cols, f"{_EDIT} AS edit")
