"""Unit tests for the knowledge-fusion / KG-quality family
(predicate functionality, fact stability, truth discovery, KGE
negative sampling) plus Adamic-Adar link prediction — algorithm pins on hand-checked fixtures and
pure-Python reference implementations; the cross-engine DuckDB rows
live in test_entry_oracle.py."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from corhist_spark.fusion import (
    fact_stability,
    kge_negatives,
    predicate_functionality,
    truth_discovery,
)
from corhist_spark.graph import adamic_adar


def _cur(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


# ---- predicate functionality ----


def test_functionality_flags_single_value_predicates(spark):
    # P1: every subject has exactly one value (functional);
    # P2: one subject carries three values (functionality 1/3)
    cur = _cur(
        spark,
        [("s1", "P1", "a"), ("s2", "P1", "b"), ("s3", "P1", "a")]
        + [("s1", "P2", x) for x in ("x", "y", "z")],
    )
    rows = {r["pred"]: r for r in predicate_functionality(cur).collect()}
    p1, p2 = rows["P1"], rows["P2"]
    assert (p1["n_triples"], p1["n_subjects"], p1["n_objects"]) == (3, 3, 2)
    assert p1["functionality"] == 1.0 and p1["single_value_candidate"]
    # inverse functionality 2/3 < 0.95 -> not a unique-value candidate
    assert not p1["unique_value_candidate"]
    assert p2["functionality"] == round(1 / 3, 6)
    assert not p2["single_value_candidate"]
    # P2's three values are all distinct -> unique-value candidate
    assert p2["unique_value_candidate"]


# ---- fact stability ----


def test_fact_stability_counts_closed_episodes_only(spark):
    MAXR = 1 << 62
    state = spark.createDataFrame(
        [
            # contested fact: two episodes, second still open
            ("s", "P1", "v", 1, 5),
            ("s", "P1", "v", 9, MAXR),
            # single-episode fact: must be absent from the output
            ("s", "P2", "w", 2, MAXR),
            # closed twice, not current
            ("t", "P1", "v", 3, 4),
            ("t", "P1", "v", 6, 8),
        ],
        "subj string, pred string, obj string, from_rev long, to_rev long",
    )
    rows = {
        (r["subj"], r["pred"], r["obj"]): r
        for r in fact_stability(state, MAXR).collect()
    }
    assert set(rows) == {("s", "P1", "v"), ("t", "P1", "v")}
    a = rows[("s", "P1", "v")]
    # open episode contributes 0 to covered_revs
    assert (a["n_episodes"], a["covered_revs"], a["is_current"]) == (2, 4, True)
    b = rows[("t", "P1", "v")]
    assert (b["n_episodes"], b["covered_revs"], b["is_current"]) == (2, 3, False)


# ---- truth discovery ----


def _td_python(claims, n_iters=6):
    """Pure-Python Sums fixpoint replica (same L1 normalization)."""
    cl = sorted(set(claims))
    sources = sorted({s for s, *_ in cl})
    facts = sorted({tuple(f) for _, *f in cl})
    trust = {s: 1.0 / len(sources) for s in sources}
    belief = {}
    for _ in range(n_iters):
        belief = {f: 0.0 for f in facts}
        for s, *f in cl:
            belief[tuple(f)] += trust[s]
        tot = sum(belief.values())
        belief = {f: v / tot for f, v in belief.items()}
        trust = {s: 0.0 for s in sources}
        for s, *f in cl:
            trust[s] += belief[tuple(f)]
        tot = sum(trust.values())
        trust = {s: v / tot for s, v in trust.items()}
    return belief


def test_truth_discovery_matches_python_fixpoint(spark):
    # (s1, P1): sources A, B, C say v1; D says v2 -> v1 must win with
    # higher belief; (s2, P1) is uncontested
    claims = [
        ("A", "s1", "P1", "v1"),
        ("B", "s1", "P1", "v1"),
        ("C", "s1", "P1", "v1"),
        ("D", "s1", "P1", "v2"),
        ("A", "s2", "P1", "u"),
    ]
    df = spark.createDataFrame(
        claims, "source string, subj string, pred string, obj string"
    )
    out = {(r["subj"], r["pred"]): r for r in truth_discovery(df).collect()}
    assert out[("s1", "P1")]["resolved_obj"] == "v1"
    assert out[("s1", "P1")]["n_candidates"] == 2
    assert out[("s2", "P1")]["n_candidates"] == 1
    want = _td_python(claims)
    n_facts = len(want)
    for (subj, pred), r in out.items():
        key = (subj, pred, r["resolved_obj"])
        assert r["belief_norm"] == pytest.approx(want[key] * n_facts, abs=2e-6)


def test_truth_discovery_tie_breaks_to_smallest_value(spark):
    # perfectly symmetric conflict: equal beliefs, winner = min(obj)
    df = spark.createDataFrame(
        [("A", "s", "P", "vb"), ("B", "s", "P", "va")],
        "source string, subj string, pred string, obj string",
    )
    row = truth_discovery(df).collect()[0]
    assert row["resolved_obj"] == "va" and row["n_candidates"] == 2


# ---- KGE negative sampling ----


def test_kge_negatives_filtered_protocol_and_determinism(spark):
    rows = [
        (f"e{i}", f"P{i % 3}", f"x{(i * 7) % 11}") for i in range(60)
    ]
    cur = _cur(spark, rows)
    out = kge_negatives(cur).collect()
    true_set = set(rows)
    ents = {s for s, _, _ in rows}
    vals = {o for _, _, o in rows}
    assert out, "some negatives must survive the filter"
    seen = set()
    for r in out:
        key = (r["subj"], r["pred"], r["obj"], r["position"])
        assert key not in seen, "at most one negative per triple+position"
        seen.add(key)
        if r["position"] == "head":
            assert r["neg_value"] in ents and r["neg_value"] != r["subj"]
            assert (r["neg_value"], r["pred"], r["obj"]) not in true_set
        else:
            assert r["position"] == "tail"
            assert r["neg_value"] in vals and r["neg_value"] != r["obj"]
            assert (r["subj"], r["pred"], r["neg_value"]) not in true_set
    # deterministic across runs/partitionings
    again = {
        (r["subj"], r["pred"], r["obj"], r["position"], r["neg_value"])
        for r in kge_negatives(cur.repartition(7)).collect()
    }
    now = {
        (r["subj"], r["pred"], r["obj"], r["position"], r["neg_value"])
        for r in out
    }
    assert again == now


# ---- Adamic-Adar ----


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_adamic_adar_hand_graph(spark):
    import math

    # a and b share neighbors c and d (deg 2 each) and are NOT
    # adjacent -> score = 2 / ln 2; the a-c edge itself must never be
    # emitted as a prediction
    e = _edges(spark, [("a", "c"), ("b", "c"), ("a", "d"), ("b", "d")])
    rows = {
        (r["node_a"], r["node_b"]): r
        for r in adamic_adar(e, min_common=1).collect()
    }
    assert set(rows) == {("a", "b"), ("c", "d")}
    assert rows[("a", "b")]["common"] == 2
    assert rows[("a", "b")]["aa_score"] == round(2 / math.log(2), 6)


def test_adamic_adar_excludes_existing_edges_and_hubs(spark):
    # triangle a-b-c: every pair is adjacent -> no predictions at all
    e = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c")])
    assert adamic_adar(e, min_common=1).count() == 0
    # a hub wired to everything is removed FIRST: with hub_cap 2 the
    # 4-leaf star yields nothing (leaves' only neighbor is the hub)
    star = _edges(spark, [("h", f"l{i}") for i in range(4)])
    assert adamic_adar(star, hub_cap=2, min_common=1).count() == 0


# ---- plan guards (the 100-TB shape) ----


def test_fusion_plans_stay_jvm_side(spark):
    cur = _cur(
        spark, [(f"s{i}", f"P{i % 2}", f"v{i % 5}") for i in range(40)]
    )
    state = spark.createDataFrame(
        [("s", "P1", "v", 1, 5), ("s", "P1", "v", 9, 1 << 62)],
        "subj string, pred string, obj string, from_rev long, to_rev long",
    )
    claims = spark.createDataFrame(
        [("A", "s", "P", "v"), ("B", "s", "P", "w")],
        "source string, subj string, pred string, obj string",
    )
    e = _edges(spark, [("a", "c"), ("b", "c"), ("a", "d"), ("b", "d")])
    for df in (
        predicate_functionality(cur),
        fact_stability(state, 1 << 62),
        truth_discovery(claims, n_iters=2),
        kge_negatives(cur),
        adamic_adar(e, min_common=1),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan  # no row-at-a-time Python
        assert "CartesianProduct" not in plan


# ---- entity summaries ----


def test_entity_summaries_rank_rarest_predicate_first(spark):
    import math

    # P9 appears once in the corpus, P1 five times: s1's rank-1 fact
    # must be its P9 fact; ties inside a predicate break on obj
    cur = _cur(
        spark,
        [("s1", "P1", "b"), ("s1", "P1", "a"), ("s1", "P9", "z")]
        + [(f"t{i}", "P1", "x") for i in range(3)],
    )
    from corhist_spark.fusion import entity_summaries

    rows = {
        (r["subj"], r["rank"]): r for r in entity_summaries(cur, top_k=2).collect()
    }
    assert rows[("s1", 1)]["pred"] == "P9"
    assert rows[("s1", 1)]["info"] == round(-math.log(1 / 6), 6)
    assert rows[("s1", 2)]["pred"] == "P1" and rows[("s1", 2)]["obj"] == "a"
    # an entity with one fact gets exactly one row
    assert ("t0", 1) in rows and ("t0", 2) not in rows


# ---- KG linearization ----


def test_kg_linearize_canonical_text(spark):
    from corhist_spark.fusion import kg_linearize

    cur = _cur(spark, [("s1", "P2", "b"), ("s1", "P1", "c"), ("s1", "P1", "a")])
    row = kg_linearize(cur).collect()[0]
    assert row["text"] == "s1: P1 a; P1 c; P2 b"
    assert row["n_facts"] == 3
    assert row["n_tokens"] == 7
    # determinism across partitionings (collect_list order varies,
    # array_sort canonicalizes)
    again = kg_linearize(cur.repartition(5)).collect()[0]
    assert again["text"] == row["text"]


# ---- link-prediction eval ----


def test_linkpred_eval_invariants_and_empty_train(spark):
    from corhist_spark.graph import linkpred_eval

    # K5: enough edges that both split sides are nonempty for mod 2
    nodes = ["a", "b", "c", "d", "e"]
    e = _edges(
        spark, [(x, y) for i, x in enumerate(nodes) for y in nodes[i + 1 :]]
    )
    row = linkpred_eval(e, holdout_mod=2).collect()[0]
    assert row["n_holdout"] + 0 <= 10
    assert 0 <= row["n_recovered"] <= min(row["n_holdout"], row["n_predicted"])
    if row["n_holdout"]:
        assert row["recall"] == round(row["n_recovered"] / row["n_holdout"], 6)
    # holdout_mod=1 holds out EVERY edge: no train graph, no
    # predictions, recall 0, mean falls back to 0.0 (not null)
    row = linkpred_eval(e, holdout_mod=1).collect()[0]
    assert (row["n_holdout"], row["n_predicted"], row["n_recovered"]) == (10, 0, 0)
    assert (row["recall"], row["mean_recovered_score"]) == (0.0, 0.0)


def test_linkpred_recovers_a_plantable_edge(spark):
    from corhist_spark.graph import linkpred_eval

    # two hubs c,d each wired to a..b: whichever of the 'bridge'
    # edges lands in the holdout is recoverable via the other side's
    # shared neighbors; with mod 2 on this fixed graph at least one
    # held-out edge must exist and every metric is deterministic
    pairs = [("a", "c"), ("b", "c"), ("a", "d"), ("b", "d"), ("a", "b"), ("c", "d")]
    e = _edges(spark, pairs)
    r1 = linkpred_eval(e, holdout_mod=2).collect()[0]
    r2 = linkpred_eval(e, holdout_mod=2).collect()[0]
    assert r1.asDict() == r2.asDict()


# ---- graph profile ----


def test_graph_profile_star_is_perfectly_disassortative(spark):
    from corhist_spark.graph import graph_profile

    star = _edges(spark, [("h", f"l{i}") for i in range(4)])
    row = graph_profile(star).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["max_degree"]) == (5, 4, 4)
    assert row["avg_degree"] == round(8 / 5, 6)
    assert row["assortativity"] == -1.0
    # a regular graph (triangle) has zero degree variance -> guard
    # publishes 0.0 instead of dividing by zero
    tri = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c")])
    assert graph_profile(tri).collect()[0]["assortativity"] == 0.0


def test_batch6_plans_stay_jvm_side(spark):
    from corhist_spark.fusion import entity_summaries, kg_linearize
    from corhist_spark.graph import graph_profile, linkpred_eval

    cur = _cur(spark, [(f"s{i}", f"P{i % 2}", f"v{i % 5}") for i in range(40)])
    e = _edges(spark, [("a", "c"), ("b", "c"), ("a", "d"), ("b", "d")])
    for df in (
        entity_summaries(cur),
        kg_linearize(cur),
        linkpred_eval(e),
        graph_profile(e),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


# ---- skip-gram pairs ----


def test_skipgram_pairs_window_semantics(spark):
    from corhist_spark.graph import skipgram_pairs

    # one walk a->b->c->d (steps 0..3): window 2 pairs are the 3
    # adjacent + 2 distance-2 pairs, each in both directions
    walks = spark.createDataFrame(
        [("w", 0, "a"), ("w", 1, "b"), ("w", 2, "c"), ("w", 3, "d")],
        "walk string, step int, node string",
    )
    rows = {
        (r["center"], r["context"]): r["n_pairs"]
        for r in skipgram_pairs(walks, window=2).collect()
    }
    assert rows[("a", "b")] == 1 and rows[("b", "a")] == 1
    assert rows[("a", "c")] == 1 and ("a", "d") not in rows
    assert sum(rows.values()) == 2 * (3 + 2)
    # revisiting a node accumulates counts: walk x->y->x gives (x,y) 2
    loop = spark.createDataFrame(
        [("v", 0, "x"), ("v", 1, "y"), ("v", 2, "x")],
        "walk string, step int, node string",
    )
    lrows = {
        (r["center"], r["context"]): r["n_pairs"]
        for r in skipgram_pairs(loop, window=1).collect()
    }
    assert lrows[("x", "y")] == 2 and lrows[("y", "x")] == 2


# ---- characteristic sets ----


def test_characteristic_sets_groups_entity_shapes(spark):
    from corhist_spark.fusion import characteristic_sets

    cur = _cur(
        spark,
        [("s1", "P1", "a"), ("s1", "P2", "b"), ("s1", "P1", "c")]
        + [("s2", "P1", "x"), ("s2", "P2", "y")]
        + [("s3", "P3", "z")],
    )
    rows = {r["char_set"]: r for r in characteristic_sets(cur).collect()}
    assert set(rows) == {"P1,P2", "P3"}
    both = rows["P1,P2"]
    # s1 (3 triples) and s2 (2 triples) share the shape
    assert (both["n_preds"], both["n_subjects"], both["n_triples"]) == (2, 2, 5)
    assert rows["P3"]["n_subjects"] == 1


# ---- edit activity ----


def test_edit_activity_buckets_and_conditional_sums(spark):
    from corhist_spark.fusion import edit_activity

    edits = spark.createDataFrame(
        [
            (1, "add", "s1", "P1", "v"),
            (2, "del", "s2", "P1", "v"),
            (3, "add", "s1", "P1", "w"),
            (1001, "add", "s9", "P1", "v"),
        ],
        "rev_id long, op string, subj string, pred string, obj string",
    )
    rows = {
        (r["pred"], r["rev_bucket"]): r for r in edit_activity(edits).collect()
    }
    b0 = rows[("P1", 0)]
    assert (b0["n_adds"], b0["n_dels"], b0["n_entities"]) == (2, 1, 2)
    assert rows[("P1", 1)]["n_adds"] == 1


def test_batch7_plans_stay_jvm_side(spark):
    from corhist_spark.fusion import characteristic_sets, edit_activity
    from corhist_spark.graph import skipgram_pairs

    cur = _cur(spark, [(f"s{i}", f"P{i % 2}", f"v{i % 5}") for i in range(40)])
    walks = spark.createDataFrame(
        [("w", 0, "a"), ("w", 1, "b"), ("w", 2, "c")],
        "walk string, step int, node string",
    )
    edits = spark.createDataFrame(
        [(1, "add", "s1", "P1", "v")],
        "rev_id long, op string, subj string, pred string, obj string",
    )
    for df in (
        skipgram_pairs(walks),
        characteristic_sets(cur),
        edit_activity(edits),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


# ---- containment scores ----


def test_containment_detects_subset_quote(spark):
    from corhist_spark.textops import containment_scores

    # short doc 2 is a verbatim substring of long doc 1 -> containment
    # of 2 in 1 is 1.0 while jaccard would be low; doc 3 is unrelated
    long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    short = "gamma delta epsilon"
    docs = spark.createDataFrame(
        [(1, long), (2, short), (3, "unrelated words entirely here")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    rows = {r["doc_id"]: r for r in containment_scores(docs, pairs).collect()}
    assert rows[2]["max_containment"] == 1.0
    assert rows[1]["max_containment"] < 0.5
    assert 3 not in rows  # not in any candidate pair
    assert rows[1]["n_partners"] == 1


def test_batch8_plans_stay_jvm_side(spark):
    from corhist_spark.textops import containment_scores

    docs = spark.createDataFrame(
        [(i, f"w{i} common words here") for i in range(10)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "doc_a long, doc_b long")
    plan = (
        containment_scores(docs, pairs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ---- batch 9: repeated spans / corpus cube / bitext margin ----


def test_repeated_spans_merge_and_within_doc(spark):
    from corhist_spark.textops import repeated_spans

    docs = spark.createDataFrame(
        [
            (1, "abcdefgh"),   # exact dup of 2 -> one merged full span
            (2, "abcdefgh"),
            (3, "abcdabcd"),   # within-doc repeat -> two disjoint spans
            (4, "qqqq"),       # windows unique -> no row  (w=4: "qqqq"?)
            (5, "zzzzzzzz"),   # all windows identical within doc
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in repeated_spans(docs, window=4, stride=2).collect()
    }
    # docs 1/2: windows abcd,cdef,efgh all repeated across the pair ->
    # single merged span covering the whole 8 chars
    for d in (1, 2):
        assert rows[d]["n_spans"] == 1
        assert rows[d]["repeated_chars"] == 8
        assert rows[d]["frac_repeated"] == 1.0
    # doc 3: "abcd" occurs at positions 1 and 5 (within-doc repetition
    # counts); position 3's "cdab" is unique -> spans [1,4] and [5,8]
    # merge into... s=5 > prev end 4 -> two spans? No: window [1,4] and
    # [5,8] are adjacent, not overlapping -> 2 spans of 4 chars
    assert rows[3]["n_spans"] == 2
    assert rows[3]["repeated_chars"] == 8
    # doc 4: only window is "qqqq" at pos 1 -- occurs once corpus-wide
    assert 4 not in rows
    # doc 5: zzzz at 1,3,5 all identical -> merged single span 1..8
    assert rows[5]["n_spans"] == 1
    assert rows[5]["repeated_chars"] == 8


def test_corpus_cube_levels(spark):
    from corhist_spark.textops import corpus_cube

    docs = spark.createDataFrame(
        [(1, "aa", "en", "s1"), (2, "bbb", "en", "s2"), (3, "c", "fr", "s1")],
        "doc_id long, text string, lang string, source string",
    )
    rows = {(r["source"], r["lang"]): r for r in corpus_cube(docs).collect()}
    assert rows[("<all>", "<all>")]["n_docs"] == 3
    assert rows[("<all>", "<all>")]["total_chars"] == 6
    assert rows[("<all>", "<all>")]["gs"] == 1 and rows[("<all>", "<all>")]["gl"] == 1
    assert rows[("s1", "<all>")]["n_docs"] == 2
    assert rows[("<all>", "en")]["total_chars"] == 5
    assert rows[("s1", "fr")]["n_docs"] == 1
    assert rows[("s1", "fr")]["gs"] == 0 and rows[("s1", "fr")]["gl"] == 0
    assert len(rows) == (2 + 1) * (2 + 1) - 1  # (s2,fr) cell is empty


def _bitext_expected(vecs, n_queries, k):
    """Independent numpy reimplementation of the bitext-margin SPEC
    (quantize cos to round-half-up(cos*1000) ints; k-neighborhood sums;
    margin = 2k*sim/(fwd+bwd))."""
    import math

    def q(c):
        return int(math.floor(c * 1000 + 0.5)) if c >= 0 else -int(
            math.floor(-c * 1000 + 0.5)
        )

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return num / (na * nb)

    src = {i: v for i, v in vecs.items() if i % 2 == 0}
    tgt = {i: v for i, v in vecs.items() if i % 2 == 1}
    out = {}
    for qi in sorted(src):
        if qi >= 2 * n_queries:
            continue
        sims = sorted(
            ((q(cos(src[qi], tv)), ti) for ti, tv in tgt.items()),
            key=lambda p: (-p[0], p[1]),
        )
        top = sims[:k]
        m_sim, m_id = top[0]
        fwd = sum(s for s, _ in top)
        bsims = sorted(
            ((q(cos(tgt[m_id], sv)), si) for si, sv in src.items()),
            key=lambda p: (-p[0], p[1]),
        )
        bwd = sum(s for s, _ in bsims[:k])
        if fwd + bwd <= 0:
            continue
        margin = round(2 * k * m_sim / float(fwd + bwd), 6)
        out[qi] = (m_id, m_sim, margin, 1 if margin > 1.0 else 0)
    return out


def test_bitext_margin_matches_spec(spark):
    from corhist_spark.similarity import bitext_margin

    # deterministic 3-d vectors: a hub-ish target (id 1) plus spread
    vecs = {
        i: [
            1.0 + ((i * 7 + 0 * 13) % 23) / 7.0,
            ((i * 11 + 1 * 5) % 19) / 9.0 - 1.0,
            ((i * 3 + 2 * 17) % 13) / 6.0,
        ]
        for i in range(12)
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["query_id"]: (r["match_id"], r["sim_m3"], r["margin"], r["accepted"])
        for r in bitext_margin(df, n_queries=4, k=2).collect()
    }
    # spec oracle must see the FLOAT-truncated vectors spark read
    import struct

    f32 = {
        i: [struct.unpack("f", struct.pack("f", x))[0] for x in v]
        for i, v in vecs.items()
    }
    assert got == _bitext_expected(f32, n_queries=4, k=2)
    assert len(got) == 4


def test_batch9_plans_stay_jvm_side(spark):
    from corhist_spark.textops import corpus_cube, repeated_spans

    docs = spark.createDataFrame(
        [(i, f"text body number {i} with shared words", "en", f"s{i%2}") for i in range(8)],
        "doc_id long, text string, lang string, source string",
    )
    for df in (repeated_spans(docs, window=6, stride=3), corpus_cube(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


# ---- batch 10: Gopher rule filter / CDC chunking / delta LSH ----


def test_gopher_filter_rules(spark):
    from corhist_spark.textops import gopher_filter

    good = " ".join(
        ["the", "be", "to"] + [f"word{i % 7}" for i in range(60)]
    )
    docs = spark.createDataFrame(
        [
            (1, good),                                   # passes everything
            (2, "the be " + " ".join(["ok"] * 10)),      # too few words
            (3, " ".join(["1234"] * 60) + " the be"),    # <80% alpha words
            (4, good + " " + "#" * 40),                  # symbol ratio
            (5, "\n".join(["- " + good] * 10)),          # all bullet lines
            (6, " ".join(["supercalifragilistic"] * 60) + " the be"),  # mwl
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_filter(docs).collect()}
    assert rows[1]["passes"] == 1
    assert rows[2]["passes"] == 0 and rows[2]["n_words"] < 50
    assert rows[3]["passes"] == 0 and rows[3]["frac_alpha"] < 0.8
    assert rows[4]["passes"] == 0 and rows[4]["symbol_ratio"] > 0.1
    assert rows[5]["passes"] == 0 and rows[5]["frac_bullet_lines"] > 0.1
    assert rows[6]["passes"] == 0 and rows[6]["mean_word_len"] > 10
    assert rows[1]["n_stop"] >= 2


def test_cdc_chunks_shift_invariant(spark):
    """The defining CDC property: a prefix edit re-keys only the chunk
    containing the edit — every later chunk hash is content-anchored
    and survives, so the two variants share almost all chunks."""
    from corhist_spark.textops import cdc_chunks

    # aperiodic deterministic content (a periodic lattice has too few
    # distinct windows to ever hit a boundary hash)
    base = "".join(
        chr(97 + b % 26)
        for k in range(80)
        for b in hashlib.md5(f"cdc{k}".encode()).digest()
    )
    docs = spark.createDataFrame(
        [(1, base), (2, "XYZQ" + base)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in cdc_chunks(docs).collect()}
    for d in (1, 2):
        assert rows[d]["n_chunks"] > 5
        # all chunks after the first boundary align exactly
        assert rows[d]["n_shared_chunks"] >= rows[d]["n_chunks"] - 2
        assert rows[d]["frac_shared"] > 0.5


def test_lsh_delta_matches_full_recompute(spark):
    """Index-probe candidate maintenance commutes with full recompute:
    delta pairs == all pairs restricted to pairs touching a new doc."""
    from corhist_spark.textops import (
        lsh_candidates,
        lsh_candidates_delta,
        minhash_signatures,
    )

    texts = []
    for i in range(12):
        body = "shared near duplicate body text " * 4
        texts.append((i, body + (f"tail{i}" if i % 3 == 0 else "")))
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    sigs = minhash_signatures(docs).localCheckpoint()
    new_ids = docs.filter(F.col("doc_id") >= 9).select("doc_id")
    got = {
        (r["doc_a"], r["doc_b"]) for r in lsh_candidates_delta(sigs, new_ids).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidates(sigs).collect()
        if r["doc_a"] >= 9 or r["doc_b"] >= 9
    }
    assert got == full and got


def test_batch10_plans_stay_jvm_side(spark):
    from corhist_spark.textops import cdc_chunks, gopher_filter

    docs = spark.createDataFrame(
        [(i, f"some body text number {i} with the be to of and words") for i in range(8)],
        "doc_id long, text string",
    )
    for df in (gopher_filter(docs), cdc_chunks(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


def test_predicate_domain_range_argmax_and_ties(spark):
    """Induced domain/range must be the majority class with
    lexicographic tie-break, shares over TYPED triples only."""
    from pyspark.sql import functions as F

    from corhist_spark.fusion import predicate_domain_range

    triples = spark.createDataFrame(
        [
            ("e1", "p1", "x1"),
            ("e2", "p1", "x1"),
            ("e3", "p1", "x2"),   # domain: Ca 2/3 vs Cb 1/3
            ("e1", "p2", "x1"),
            ("e3", "p2", "x2"),   # domain tie Ca/Cb 1-1 -> Ca (lex)
            ("e9", "p3", "x9"),   # untyped on both sides
        ],
        "subj string, pred string, obj string",
    )
    types = spark.createDataFrame(
        [
            ("e1", "Ca"), ("e2", "Ca"), ("e3", "Cb"),
            ("x1", "Cx"), ("x2", "Cy"),
        ],
        "entity string, cls string",
    )
    got = {r.pred: r for r in predicate_domain_range(triples, types).collect()}
    assert got["p1"].domain_cls == "Ca" and got["p1"].domain_share == round(2 / 3, 6)
    assert got["p1"].range_cls == "Cx" and got["p1"].range_share == round(2 / 3, 6)
    assert got["p2"].domain_cls == "Ca" and got["p2"].domain_share == 0.5
    assert got["p3"].n_triples == 1 and got["p3"].domain_cls is None


def test_batch13_plans_stay_jvm_side(spark):
    """predicate_domain_range and blocking_quality must stay JVM-side;
    the only nested-loop joins allowed in blocking_quality are the
    single-row broadcast scalar frames (the repo's totals pattern)."""
    from corhist_spark.fusion import predicate_domain_range
    from corhist_spark.textops import blocking_quality

    triples = spark.createDataFrame(
        [(f"e{i % 4}", f"p{i % 2}", f"x{i % 3}") for i in range(12)],
        "subj string, pred string, obj string",
    )
    types = spark.createDataFrame(
        [(f"e{i}", f"C{i % 2}") for i in range(4)]
        + [(f"x{i}", f"C{i % 2}") for i in range(3)],
        "entity string, cls string",
    )
    plan = (
        predicate_domain_range(triples, types)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan

    docs = spark.createDataFrame(
        [(i * 10, f"document body number {i} repeated words {i}") for i in range(6)],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame([(0, 10)], "doc_a long, doc_b long")
    plan = (
        blocking_quality(docs, cand, sample_mod=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # truth enumeration must be the shared-shingle equi-join, and the
    # scalar combiners the 1-row broadcast nested loop
    assert "BroadcastNestedLoopJoin" in plan


# ---- batch 14: shape induction / truthy filtering / meta-blocking ----


def test_shape_induction_profiles_class_property_usage(spark):
    from corhist_spark.fusion import shape_induction

    # class CA: two instances; s1 carries P1 twice + P2 once, s2 only
    # P1 once -> P1 usage 1.0 (avg card 1.5, maxCount-1 vote 0.5),
    # P2 usage 0.5 (functional on its carrier)
    cur = _cur(
        spark,
        [("s1", "P1", "a"), ("s1", "P1", "b"), ("s1", "P2", "c"),
         ("s2", "P1", "d")],
    )
    types = spark.createDataFrame(
        [("s1", "CA"), ("s2", "CA")], "entity string, cls string"
    )
    rows = {(r["cls"], r["pred"]): r for r in shape_induction(cur, types).collect()}
    p1 = rows[("CA", "P1")]
    assert (p1["n_insts"], p1["usage_share"]) == (2, 1.0)
    assert (p1["avg_card"], p1["max_card"], p1["funct_ratio"]) == (1.5, 2, 0.5)
    p2 = rows[("CA", "P2")]
    assert (p2["n_insts"], p2["usage_share"]) == (1, 0.5)
    assert (p2["avg_card"], p2["max_card"], p2["funct_ratio"]) == (1.0, 1, 1.0)
    # untyped subjects contribute nothing
    assert set(rows) == {("CA", "P1"), ("CA", "P2")}


def test_truthy_filter_best_rank_semantics(spark):
    from corhist_spark.fusion import truthy_filter

    st = spark.createDataFrame(
        [
            # group with a preferred statement: normal rows hidden
            ("s1", "P1", "pref", "preferred"),
            ("s1", "P1", "norm", "normal"),
            ("s1", "P1", "depr", "deprecated"),
            # group without preferred: normal rows surface
            ("s2", "P1", "n1", "normal"),
            ("s2", "P1", "n2", "normal"),
            # all-deprecated group: nothing surfaces
            ("s3", "P1", "d1", "deprecated"),
        ],
        "subj string, pred string, obj string, stmt_rank string",
    )
    got = {(r["subj"], r["obj"]) for r in truthy_filter(st).collect()}
    assert got == {("s1", "pref"), ("s2", "n1"), ("s2", "n2")}


def test_meta_blocking_prunes_below_mean_weight(spark):
    from corhist_spark.textops import meta_blocking

    # blocks: (1,2) co-occur in 3 buckets, (1,3) in 1 -> mean 2,
    # WEP keeps only the heavy edge
    sigs = spark.createDataFrame(
        [(1, 0, 10), (2, 0, 10), (1, 1, 11), (2, 1, 11),
         (1, 2, 12), (2, 2, 12), (1, 3, 13), (3, 3, 13)],
        "doc_id long, band int, minhash long",
    )
    got = [(r["doc_a"], r["doc_b"], r["n_blocks"])
           for r in meta_blocking(sigs).collect()]
    assert got == [(1, 2, 3)]


def test_meta_blocking_drops_degenerate_buckets(spark):
    from corhist_spark.textops import meta_blocking

    # a bucket above the occupancy cap contributes no edges at all
    hot = [(d, 0, 99) for d in range(70)]
    cold = [(1, 1, 5), (2, 1, 5), (1, 2, 6), (2, 2, 6)]
    sigs = spark.createDataFrame(hot + cold, "doc_id long, band int, minhash long")
    got = [(r["doc_a"], r["doc_b"], r["n_blocks"])
           for r in meta_blocking(sigs).collect()]
    assert got == [(1, 2, 2)]


def test_batch14_plans_stay_jvm_side(spark):
    from corhist_spark.fusion import shape_induction, truthy_filter
    from corhist_spark.textops import meta_blocking

    cur = _cur(spark, [("s1", "P1", "a"), ("s2", "P1", "b")])
    types = spark.createDataFrame(
        [("s1", "CA"), ("s2", "CB")], "entity string, cls string"
    )
    st = cur.withColumn("stmt_rank", F.lit("normal"))
    sigs = spark.createDataFrame(
        [(1, 0, 10), (2, 0, 10)], "doc_id long, band int, minhash long"
    )
    for df in (
        shape_induction(cur, types),
        truthy_filter(st),
        meta_blocking(sigs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan  # no row-at-a-time Python
        assert "CartesianProduct" not in plan
        # the only nested-loop join is meta-blocking's single-row
        # mean-weight totals frame (the repo's totals pattern)


# ---- batch 17: join-cardinality stats / constraint suggestions ----


def test_join_cardinality_matches_enumerated_paths(spark):
    from itertools import product

    from corhist_spark.fusion import join_cardinality_stats

    triples = [
        ("a", "P1", "x"), ("b", "P1", "x"), ("x", "P2", "c"),
        ("x", "P2", "d"), ("c", "P1", "y"), ("y", "P3", "a"),
    ]
    # brute-force path enumeration as ground truth
    want = {}
    for (s1, p1, o1), (s2, p2, o2) in product(triples, triples):
        if o1 == s2:
            k = (p1, p2)
            want[k] = want.get(k, 0) + 1
    got = {
        (r["pred_a"], r["pred_b"]): r["n_paths"]
        for r in join_cardinality_stats(_cur(spark, triples)).collect()
    }
    assert got == want
    # the (P1, P2) pair composes through x alone: 2 in-edges x 2 out
    assert got[("P1", "P2")] == 4


def test_constraint_suggestions_votes(spark):
    from corhist_spark.fusion import constraint_suggestions

    cur = _cur(
        spark,
        # P1: fully symmetric, one value per subject
        [("a", "P1", "b"), ("b", "P1", "a"), ("c", "P1", "d"), ("d", "P1", "c")]
        # P2: no reciprocation, one subject holds three values
        + [("s", "P2", x) for x in ("u", "v", "w")],
    )
    rows = {r["pred"]: r for r in constraint_suggestions(cur).collect()}
    p1 = rows["P1"]
    assert (p1["n_pairs"], p1["n_recip"]) == (4, 4)
    assert p1["symmetric_share"] == 1.0
    assert p1["suggest_symmetric"] and p1["suggest_single_value"]
    p2 = rows["P2"]
    assert (p2["n_recip"], p2["symmetric_share"]) == (0, 0.0)
    assert not p2["suggest_symmetric"] and not p2["suggest_single_value"]


def test_batch17_plans_stay_jvm_side(spark):
    from corhist_spark.fusion import constraint_suggestions, join_cardinality_stats

    cur = _cur(spark, [("a", "P1", "b"), ("b", "P2", "c")])
    for df in (join_cardinality_stats(cur), constraint_suggestions(cur)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


# ---- batch 18: point-in-time multi-value check ----


def test_asof_multivalue_sees_only_covering_intervals(spark):
    from corhist_spark.fusion import asof_multivalue

    state = spark.createDataFrame(
        [
            # two values active at rev 10 -> violation
            ("s1", "P1", "a", 5, 20),
            ("s1", "P1", "b", 8, 15),
            # second value closed BEFORE rev 10 -> no violation at 10
            ("s2", "P1", "x", 1, 9),
            ("s2", "P1", "y", 2, 30),
            # second value opens AFTER rev 10
            ("s3", "P1", "u", 1, 30),
            ("s3", "P1", "v", 11, 30),
        ],
        "subj string, pred string, obj string, from_rev long, to_rev long",
    )
    got = {(r["subj"], r["n_objs"]) for r in asof_multivalue(state, 10).collect()}
    assert got == {("s1", 2)}
    # at rev 12 s3's second value is active too
    got12 = {(r["subj"], r["n_objs"]) for r in asof_multivalue(state, 12).collect()}
    assert got12 == {("s1", 2), ("s3", 2)}


def test_class_connectivity_matrix(spark):
    from corhist_spark.fusion import class_connectivity

    cur = _cur(spark, [("a", "P1", "x"), ("b", "P2", "x"), ("a", "P1", "y")])
    types = spark.createDataFrame(
        [("a", "CA"), ("b", "CB"), ("x", "CX"), ("y", "CX")],
        "entity string, cls string",
    )
    got = {
        (r["cls_a"], r["cls_b"]): (r["n_triples"], r["n_preds"])
        for r in class_connectivity(cur, types).collect()
    }
    assert got == {("CA", "CX"): (2, 1), ("CB", "CX"): (1, 1)}


def test_revert_detection_window_semantics(spark):
    from corhist_spark.fusion import revert_detection

    edits = spark.createDataFrame(
        [
            (1, "add", "s", "P", "o"),
            (5, "del", "s", "P", "o"),
            (10, "add", "s", "P", "o"),   # revert: gap 5
            (50, "del", "s", "P", "o"),
            (80, "add", "s", "P", "o"),   # gap 30 > 20: not a revert
            (3, "del", "t", "P", "o"),    # del never re-added
        ],
        "rev_id long, op string, subj string, pred string, obj string",
    )
    got = [
        (r["subj"], r["del_rev"], r["readd_rev"], r["gap"])
        for r in revert_detection(edits).collect()
    ]
    assert got == [("s", 5, 10, 5)]


def test_typed_negatives_stay_in_class(spark):
    from corhist_spark.fusion import typed_negatives

    # two classes; negatives must come from the corrupted element's
    # own class and pass the filtered protocol
    cur = _cur(
        spark,
        [("a1", "P1", "b1"), ("a2", "P1", "b2"), ("a3", "P1", "b1"),
         ("a4", "P1", "b3")],
    )
    types = spark.createDataFrame(
        [("a1", "CA"), ("a2", "CA"), ("a3", "CA"), ("a4", "CA"),
         ("b1", "CB"), ("b2", "CB"), ("b3", "CB")],
        "entity string, cls string",
    )
    cls = {r["entity"]: r["cls"] for r in types.collect()}
    true_set = {(s, p, o) for s, p, o in
                [("a1", "P1", "b1"), ("a2", "P1", "b2"),
                 ("a3", "P1", "b1"), ("a4", "P1", "b3")]}
    for r in typed_negatives(cur, types).collect():
        if r["position"] == "head":
            assert cls[r["neg_value"]] == cls[r["subj"]]
            assert (r["neg_value"], r["pred"], r["obj"]) not in true_set
            assert r["neg_value"] != r["subj"]
        else:
            assert cls[r["neg_value"]] == cls[r["obj"]]
            assert (r["subj"], r["pred"], r["neg_value"]) not in true_set
            assert r["neg_value"] != r["obj"]


def test_datatype_induction_ladder_and_majority(spark):
    from corhist_spark.fusion import datatype_induction

    cur = _cur(
        spark,
        [("s1", "P1", "Q5"), ("s2", "P1", "Q7"), ("s3", "P1", "hello"),
         ("s1", "P2", "42"), ("s2", "P2", "-7"),
         ("s1", "P3", "V3")],
    )
    rows = {r["pred"]: r for r in datatype_induction(cur).collect()}
    p1 = rows["P1"]
    assert (p1["n_qid"], p1["n_str"], p1["majority_type"]) == (2, 1, "qid")
    assert p1["majority_share"] == round(2 / 3, 6)
    assert rows["P2"]["majority_type"] == "int" and rows["P2"]["n_int"] == 2
    assert rows["P3"]["majority_type"] == "vid"


def test_violation_trend_counts_per_checkpoint(spark):
    from corhist_spark.fusion import violation_trend

    state = spark.createDataFrame(
        [
            # two values overlap only in [10, 20)
            ("s", "P", "a", 5, 20),
            ("s", "P", "b", 10, 40),
            # always single-valued
            ("t", "P", "x", 0, 100),
        ],
        "subj string, pred string, obj string, from_rev long, to_rev long",
    )
    # max_rev 50, 4 checkpoints -> revs 10, 20, 30, 40
    got = {r["checkpoint"]: (r["rev"], r["n_violating_pairs"])
           for r in violation_trend(state, 50).collect()}
    # only rev 10 sees both values ([10,20) x [10,40) overlap at 10)
    assert got == {1: (10, 1)}


def test_edit_bursts_z_and_flag(spark):
    import math

    from corhist_spark.fusion import edit_bursts

    # nine 10-edit buckets + one 100-edit burst bucket (width 10)
    revs = [(10 * b + r,) for b in range(9) for r in range(10)]
    revs += [(90 + (r % 10),) for r in range(100)]  # bucket 9: 100
    edits = spark.createDataFrame(revs, "rev_id long")
    rows = {r["bucket_id"]: r for r in edit_bursts(edits, bucket=10).collect()}
    k, s1, s2 = 10, 190, 10900
    for b in range(10):
        n = 100 if b == 9 else 10
        z = (n * k - s1) / math.sqrt(k * s2 - s1 * s1)
        assert rows[b]["zscore"] == round(z, 6)
        assert rows[b]["is_burst"] == (z > 2)
    assert rows[9]["is_burst"] and not rows[0]["is_burst"]


def test_labeler_agreement_kappa(spark):
    from corhist_spark.fusion import labeler_agreement

    labels = spark.createDataFrame(
        [(True, True)] * 40 + [(True, False)] * 10
        + [(False, True)] * 5 + [(False, False)] * 45,
        "a boolean, b boolean",
    )
    row = labeler_agreement(labels, "a", "b").collect()[0]
    assert (row["n_both"], row["n_only_a"], row["n_only_b"], row["n_neither"]) == (
        40, 10, 5, 45,
    )
    po = 85 / 100
    pe = 0.5 * 0.45 + 0.5 * 0.55
    assert row["kappa"] == round((po - pe) / (1 - pe), 6)

    # degenerate all-same-label case publishes 0.0
    same = spark.createDataFrame([(True, True)] * 5, "a boolean, b boolean")
    assert labeler_agreement(same, "a", "b").collect()[0]["kappa"] == 0.0


def test_kgqa_pairs_cardinality_gate(spark):
    from corhist_spark.fusion import kgqa_pairs

    # (P1, P2) composes via x with 1*2 = 2 paths; (P1, P3) via a hot
    # hub with 3*3 = 9 paths — a cap of 4 admits the first only
    cur = _cur(
        spark,
        [("a", "P1", "x"), ("x", "P2", "b"), ("x", "P2", "c")]
        + [(f"s{i}", "P1", "hub") for i in range(3)]
        + [("hub", "P3", f"t{i}") for i in range(3)],
    )
    rows = kgqa_pairs(cur, two_hop_cap=4).collect()
    two = {(r["question"], r["answer"]) for r in rows if r["hops"] == 2}
    assert two == {
        ("what is P2 of the P1 of a?", "b"),
        ("what is P2 of the P1 of a?", "c"),
    }
    ones = [r for r in rows if r["hops"] == 1]
    assert len(ones) == 9  # every triple yields a 1-hop pair


def test_class_balance_plan_integer_rates(spark):
    from corhist_spark.fusion import class_balance_plan

    labels = spark.createDataFrame(
        [("a",)] * 10 + [("b",)] * 4 + [("c",)] * 5, "topic string"
    )
    got = {r["label"]: (r["n_docs"], r["keep_per_1000"])
           for r in class_balance_plan(labels).collect()}
    assert got == {"a": (10, 400), "b": (4, 1000), "c": (5, 800)}


# ---- batch 33: KG axiom induction ----


def test_property_axioms_inverse_and_symmetric(spark):
    from corhist_spark.fusion import property_axioms

    # P1/P2 exact inverses; P3 symmetric; P4 has no reversed twin
    cur = _cur(
        spark,
        [
            ("a", "P1", "b"),
            ("c", "P1", "d"),
            ("b", "P2", "a"),
            ("d", "P2", "c"),
            ("x", "P3", "y"),
            ("y", "P3", "x"),
            ("a", "P4", "z"),
        ],
    )
    rows = {(r.pred_a, r.pred_b): r for r in property_axioms(cur).collect()}
    r12 = rows[("P1", "P2")]
    assert r12.n_overlap == 2 and r12.n_a == 2 and r12.n_b == 2
    assert r12.score_a == 1.0 and r12.inverse_candidate and not r12.symmetric
    assert ("P2", "P1") in rows  # both orientations emitted
    r33 = rows[("P3", "P3")]
    assert r33.symmetric and r33.n_overlap == 2 and r33.inverse_candidate
    # P4's pair set has no reversal anywhere -> no row mentions it
    assert all("P4" not in k for k in rows)


def test_transitive_support_closure_flag(spark):
    from corhist_spark.fusion import transitive_support

    # P1: a->b->c closed by a->c; P2: same wedge, not closed
    cur = _cur(
        spark,
        [
            ("a", "P1", "b"),
            ("b", "P1", "c"),
            ("a", "P1", "c"),
            ("a", "P2", "b"),
            ("b", "P2", "c"),
        ],
    )
    rows = {r.pred: r for r in transitive_support(cur).collect()}
    assert rows["P1"].n_wedges == 1 and rows["P1"].n_closed == 1
    assert rows["P1"].closed_ratio == 1.0 and rows["P1"].transitive_candidate
    assert rows["P2"].n_wedges == 1 and rows["P2"].n_closed == 0
    assert not rows["P2"].transitive_candidate


def test_transitive_support_hub_gate_skips_not_enumerates(spark):
    from corhist_spark.fusion import transitive_support

    # hub middle m: in-degree 2 x out-degree 2 = 4 wedges > cap 3 ->
    # the cell is SKIPPED (counted via the degree product) and the
    # predicate still appears with n_wedges = 0 and the skip count
    cur = _cur(
        spark,
        [
            ("x1", "P3", "m"),
            ("x2", "P3", "m"),
            ("m", "P3", "y1"),
            ("m", "P3", "y2"),
        ],
    )
    rows = {r.pred: r for r in transitive_support(cur, wedge_cap=3).collect()}
    r = rows["P3"]
    assert r.n_wedges == 0 and r.n_closed == 0
    assert r.closed_ratio is None
    assert r.n_wedges_skipped == 4 and not r.transitive_candidate


def test_axiom_plans_stay_jvm_side(spark):
    from corhist_spark.fusion import property_axioms, transitive_support

    cur = _cur(spark, [("a", "P1", "b"), ("b", "P2", "a")])
    for df in (property_axioms(cur), transitive_support(cur)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan  # no row-at-a-time Python
        assert "CartesianProduct" not in plan


# ---- batch 52: AMIE same-direction implications (PCA confidence) ----


def test_amie_pca_semantics_exact(spark):
    """Hand-built triple set where the PCA and closed-world
    denominators genuinely differ: subjects with NO head-predicate
    edge at all must not count against the rule."""
    from corhist_spark.fusion import amie_implications

    rows = [
        # P0 pairs that P1 repeats (support)
        ("a", "P0", "x"), ("a", "P1", "x"),
        ("b", "P0", "y"), ("b", "P1", "y"),
        # P0 pair whose subject HAS some P1 edge (counts in PCA denom)
        ("c", "P0", "z"), ("c", "P1", "w"),
        # P0 pair whose subject has NO P1 edge (closed-world-only)
        ("d", "P0", "q"),
    ]
    cur = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = {
        (r.body_pred, r.head_pred): r
        for r in amie_implications(cur).collect()
    }
    r = out[("P0", "P1")]
    assert r.n_body == 4 and r.n_head == 3
    assert r.n_support == 2
    # PCA denominator excludes d's pair: a, b, c only
    assert r.n_pca_body == 3
    assert r.std_conf == 0.5
    assert abs(r.pca_conf - round(2 / 3, 6)) < 1e-9
    assert r.head_coverage == round(2 / 3, 6)
    # the reverse rule exists too, with its own denominators
    rr = out[("P1", "P0")]
    assert rr.n_support == 2 and rr.n_body == 3


def test_amie_plan_stays_jvm_side(spark):
    from corhist_spark.fusion import amie_implications

    cur = spark.createDataFrame(
        [(f"s{i % 7}", f"P{i % 3}", f"v{i % 5}") for i in range(60)],
        "subj string, pred string, obj string",
    )
    plan = amie_implications(cur)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
