"""Seeded input generator for the benchmark.

Builds an edit history shaped like the derived sf0.1 history: entities
whose revisions add and delete statements over a small shared value
space plus one hot value, about a quarter deletes, about one revision
in seven carrying ``isBasedOn`` to the previous revision of the same
entity (same author), and a P279 class DAG that is edited over time so
the interval closure does real work.  One constraint of every type the
kernels implement rides along.

The generator is self-contained on purpose: it shares no code with the
package, so a change to the package cannot change the workload.  The
same ``(seed, shape)`` always gives the same rows.
"""

from __future__ import annotations

import random
from dataclasses import asdict, dataclass

# constraint-type QIDs and parameter PIDs (Wikidata vocabulary)
SINGLE, UNIQUE, INVERSE, SYMMETRIC = "Q19474404", "Q21502410", "Q21510855", "Q21510862"
TYPE, VALUE_TYPE, TARGET_CLAIM, ITEM = "Q21503250", "Q21510865", "Q21510864", "Q21503247"
CONFLICT, ONE_OF, FORMAT = "Q21502838", "Q21510859", "Q21502404"
P_ITEM, P_PROPERTY, P_CLASS, P_RELATION, P_REGEX = "P2305", "P2306", "P2308", "P2309", "P1793"
REL_INSTANCE, REL_INSTANCE_OR_SUBCLASS = "Q21503252", "Q30208840"
INSTANCE_OF, SUBCLASS_OF = "P31", "P279"

HOT_VALUE = "Q5"
N_VALUES = 31  # the shared value space, like the derived history's V0..V30
N_CLASSES = 24
DELETE_SHARE = 0.25
BASED_ON_SHARE = 1 / 7
HOT_SHARE = 0.15  # of small values
FIX_SHARE = 0.08  # revisions that add a pending inverse/claim fix


@dataclass(frozen=True)
class Shape:
    """The input size; the defaults are the benchmark's."""

    entities: int = 400
    revisions: int = 2000


def constraints() -> list[dict]:
    """One constraint per implemented type, keyed to its own property."""

    def c(cid, prop, ctype, params=None):
        return {"constraint_id": cid, "property": prop, "type": ctype, "params": params or {}}

    return [
        c("c-single-P10", "P10", SINGLE),
        c("c-unique-P11", "P11", UNIQUE),
        c("c-inverse-P12", "P12", INVERSE, {P_PROPERTY: ["P13"]}),
        c("c-sym-P14", "P14", SYMMETRIC),
        c("c-type-P15", "P15", TYPE, {P_CLASS: ["Q900"], P_RELATION: [REL_INSTANCE]}),
        c("c-vtype-P16", "P16", VALUE_TYPE,
          {P_CLASS: ["Q900"], P_RELATION: [REL_INSTANCE_OR_SUBCLASS]}),
        c("c-tclaim-P17", "P17", TARGET_CLAIM, {P_PROPERTY: ["P18"]}),
        c("c-item-P19", "P19", ITEM, {P_PROPERTY: ["P20"], P_ITEM: ["Q800", "Q801"]}),
        c("c-conflict-P21", "P21", CONFLICT, {P_PROPERTY: ["P22"], P_ITEM: ["Q850"]}),
        c("c-oneof-P23", "P23", ONE_OF, {P_ITEM: [f"Q{5000 + i}" for i in range(10)]}),
        c("c-format-P24", "P24", FORMAT, {P_REGEX: ["[A-Z]{2}[0-9]+"]}),
    ]


class _Deck:
    """Draws from repeated shuffles of a fixed multiset, so any run of
    draws holds each kind in its exact share: instances of one shape
    differ in arrangement, not in how much of each kind they hold."""

    def __init__(self, rng: random.Random, items):
        self.rng, self.items, self.buf = rng, list(items), []

    def draw(self):
        if not self.buf:
            self.buf = self.items[:]
            self.rng.shuffle(self.buf)
        return self.buf.pop()


def _share(rng: random.Random, share: float, size: int = 28) -> _Deck:
    k = round(share * size)
    return _Deck(rng, [True] * k + [False] * (size - k))


def generate(seed: int, shape: Shape = Shape()) -> dict:
    """-> {"revisions", "edits", "constraints", "properties"}: plain
    Python rows (revisions and edits as lists of dicts)."""
    rng = random.Random(seed)
    ents = [f"Q{1000 + i}" for i in range(shape.entities)]
    classes = [f"Q{900 + i}" for i in range(N_CLASSES)]
    # DAG: every class but the root points at one or two lower-indexed
    # classes, so the closure has depth and diamonds but no cycles
    dag = []
    for i in range(1, N_CLASSES):
        for p in sorted(set(rng.sample(range(i), min(i, 1 + (rng.random() < 0.3))))):
            dag.append((classes[i], classes[p]))

    hot, values = _share(rng, HOT_SHARE), _Deck(rng, range(N_VALUES))

    def small():
        return HOT_VALUE if hot.draw() else f"Q{5000 + values.draw()}"

    def fmt():
        k = rng.randrange(40)
        return f"AB{k}" if rng.random() < 0.6 else f"bad-{k}"

    choosers = {
        INSTANCE_OF: (4, lambda: rng.choice(classes)),
        "P10": (3, small),
        "P11": (3, small),
        "P12": (1, lambda: rng.choice(ents)),
        "P13": (1, lambda: rng.choice(ents)),
        "P14": (1, lambda: rng.choice(ents)),
        "P15": (2, small),
        "P16": (1, lambda: rng.choice(ents + classes)),
        "P17": (1, lambda: rng.choice(ents)),
        "P18": (1, small),
        "P19": (2, small),
        "P20": (1, lambda: rng.choice(["Q800", "Q801", small()])),
        "P21": (2, small),
        "P22": (1, lambda: rng.choice(["Q850", small()])),
        "P23": (2, small),
        "P24": (2, fmt),
    }
    props = _Deck(rng, [p for p, (w, _) in choosers.items() for _ in range(w)])
    deletes, replaced = _share(rng, DELETE_SHARE), _share(rng, 0.4)
    based, fixes, fix_later = _share(rng, BASED_ON_SHARE), _share(rng, FIX_SHARE), _share(rng, 0.3)
    n_ops = _Deck(rng, [1, 1, 1, 1, 2, 2, 2, 2, 2, 3])  # mean 1.7 edits per revision
    churn, orphan = _share(rng, 0.02, 50), _share(rng, 0.05, 20)
    # the statement whose addition on the object side fixes a violation
    fix_of = {"P12": "P13", "P13": "P12", "P14": "P14", "P17": "P18"}

    revisions, edits = [], []
    current: dict[str, set] = {}  # entity -> {(pred, obj)}
    last_rev: dict[str, int] = {}
    pending: list[tuple[str, str, str]] = []  # (entity, pred, obj) fixes

    def revise(entity, ops):
        rev = len(revisions) + 1
        parent = last_rev.get(entity)
        based_on = parent if parent is not None and based.draw() else None
        revisions.append({
            "rev_id": rev, "entity": entity, "parent_rev_id": parent,
            "author": "a" + entity, "based_on_rev_id": based_on,
        })
        last_rev[entity] = rev
        cur = current.setdefault(entity, set())
        for op, pred, obj in ops:
            edits.append({
                "rev_id": rev, "op": op, "subj": entity, "pred": pred, "obj": obj,
                "obj_kind": "iri" if obj[:1] in ("Q", "P") else "string",
            })
            (cur.add if op == "add" else cur.discard)((pred, obj))

    for cls, parent in dag:
        revise(cls, [("add", SUBCLASS_OF, parent)])
    while len(revisions) < shape.revisions:
        if churn.draw():
            # hierarchy churn: drop or restore one DAG edge
            cls, parent = rng.choice(dag)
            op = "del" if (SUBCLASS_OF, parent) in current.get(cls, ()) else "add"
            revise(cls, [(op, SUBCLASS_OF, parent)])
            continue
        if pending and fixes.draw():
            entity, pred, obj = pending.pop(rng.randrange(len(pending)))
            if (pred, obj) not in current.get(entity, ()):
                revise(entity, [("add", pred, obj)])
                continue
        entity = rng.choice(ents)
        cur = current.get(entity, set())
        ops, touched = [], set()
        for _ in range(n_ops.draw()):
            if deletes.draw():
                if cur and not orphan.draw():
                    pred, obj = rng.choice(sorted(cur))
                else:  # orphan delete: dirty stream
                    pred = props.draw()
                    obj = choosers[pred][1]()
                if (pred, obj) in touched:
                    continue
                ops.append(("del", pred, obj))
                touched.add((pred, obj))
                if replaced.draw():
                    # replacement: a same-predicate add in the same revision
                    new = choosers[pred][1]()
                    if (pred, new) not in touched and new != obj:
                        ops.append(("add", pred, new))
                        touched.add((pred, new))
            else:
                pred = props.draw()
                obj = choosers[pred][1]()
                if (pred, obj) in touched:
                    continue
                ops.append(("add", pred, obj))
                touched.add((pred, obj))
                if pred in fix_of and fix_later.draw():
                    pending.append((obj, fix_of[pred], entity))
        if ops:
            revise(entity, ops)

    return {
        "revisions": revisions,
        "edits": edits,
        "constraints": constraints(),
        "properties": {"seed": seed, **asdict(shape), "edits": len(edits),
                       "delete_share": DELETE_SHARE, "based_on_share": BASED_ON_SHARE,
                       "hot_share": HOT_SHARE, "fix_share": FIX_SHARE,
                       "classes": N_CLASSES, "dag_edges": len(dag)},
    }
