"""Unit tests for the KG graph-analytics operators (triangles, PageRank,
label propagation, predicate PMI, k-core, BFS, HITS, ...), against
hand-checked fixtures and exact pure-Python reference implementations
— the cross-engine DuckDB rows live in test_entry_oracle.py; these pin the ALGORITHMS on
graphs/streams small enough to verify by hand."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from corhist_spark.graph import pagerank, triangle_counts


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


# ---- triangles ----


def test_triangle_counts_hand_checked(spark):
    # K4 on {a,b,c,d} minus edge c-d, plus pendant e:
    #   triangles: {a,b,c}, {a,b,d}  ->  a:2 b:2 c:1 d:1 e:0
    pairs = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("a", "e"),
        # noise the cleaner must drop: self-loop, dup, reversed dup
        ("a", "a"), ("b", "a"), ("a", "b"),
    ]
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering"])
        for r in triangle_counts(_edges(spark, pairs)).collect()
    }
    assert got == {
        "a": (4, 2, round(2 * 2 / (4 * 3), 6)),
        "b": (3, 2, round(2 * 2 / (3 * 2), 6)),
        "c": (2, 1, 1.0),
        "d": (2, 1, 1.0),
        "e": (1, 0, 0.0),
    }


def test_triangle_counts_random_vs_python(spark):
    # pseudo-random multigraph (the entry fixture's shape) vs a brute
    # triple-loop reference
    import itertools

    k = 24
    pairs = [
        (f"n{i % k}", f"n{int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16) % k}")
        for i in range(400)
    ]
    adj: dict[str, set] = {}
    for s, d in pairs:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    want_t = {n: 0 for n in adj}
    for x, y, z in itertools.combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for n in (x, y, z):
                want_t[n] += 1
    got = {
        r["node"]: (r["degree"], r["n_triangles"])
        for r in triangle_counts(_edges(spark, pairs)).collect()
    }
    assert got == {n: (len(adj[n]), want_t[n]) for n in adj}


# ---- pagerank ----


def _pagerank_python(pairs, n_iters=8, damping=0.85):
    e = sorted({(s, d) for s, d in pairs if s != d})
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    n = len(nodes)
    out: dict[str, list] = {}
    for s, d in e:
        out.setdefault(s, []).append(d)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iters):
        dang = sum(rank[v] for v in nodes if v not in out)
        contrib = {v: 0.0 for v in nodes}
        for s, ds in out.items():
            for d in ds:
                contrib[d] += rank[s] / len(ds)
        rank = {
            v: (1.0 - damping) / n + damping * (contrib[v] + dang / n)
            for v in nodes
        }
    return {v: round(rank[v] * n, 6) for v in nodes}, rank


def test_pagerank_vs_python_and_mass_conserved(spark):
    # cycle + chord + a DANGLING sink (f has no out-edges) so the
    # dangling-redistribution branch actually runs
    pairs = [
        ("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
        ("c", "f"), ("b", "f"),
        ("a", "a"), ("a", "b"),  # cleaner noise
    ]
    want, raw = _pagerank_python(pairs)
    got = {r["node"]: r["rank_norm"] for r in pagerank(_edges(spark, pairs)).collect()}
    assert got.keys() == want.keys()
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=2e-6), v
    assert sum(raw.values()) == pytest.approx(1.0, abs=1e-12)  # mass conserved


def test_pagerank_uniform_on_symmetric_cycle(spark):
    # on a directed cycle every node has rank exactly 1/n -> norm 1.0
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    got = {r["node"]: r["rank_norm"] for r in pagerank(_edges(spark, pairs)).collect()}
    assert got == {"a": 1.0, "b": 1.0, "c": 1.0, "d": 1.0}


# ---- label propagation ----


def _lpa_python(pairs, n_iters=4):
    canon = sorted({(min(s, d), max(s, d)) for s, d in pairs if s != d})
    adj: dict[str, list] = {}
    for a, b in canon:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    label = {v: v for v in adj}
    for _ in range(n_iters):
        new = {}
        for v in adj:
            counts: dict[str, int] = {}
            for u in adj[v]:
                counts[label[u]] = counts.get(label[u], 0) + 1
            new[v] = min(
                counts, key=lambda lb: (-counts[lb], lb)
            )  # max freq, tie -> smallest label
        label = new
    return label


def test_label_propagation_two_communities(spark):
    from corhist_spark.graph import label_propagation

    # two triangles joined by one bridge edge: each triangle converges
    # onto its own min label
    pairs = [
        ("a", "b"), ("b", "c"), ("a", "c"),
        ("x", "y"), ("y", "z"), ("x", "z"),
        ("c", "x"),
        ("b", "a"), ("a", "a"),  # cleaner noise
    ]
    got = {r["node"]: r["label"] for r in label_propagation(_edges(spark, pairs)).collect()}
    assert got == _lpa_python(pairs)
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["y"] == got["z"]  # the far triangle stays one community


def test_label_propagation_random_vs_python(spark):
    k = 20
    pairs = [
        (f"n{i % k}", f"n{int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16) % k}")
        for i in range(120)
    ]
    from corhist_spark.graph import label_propagation

    got = {r["node"]: r["label"] for r in label_propagation(_edges(spark, pairs)).collect()}
    assert got == _lpa_python(pairs)


# ---- random walks ----


def _walks_python(pairs, n_steps=4):
    canon = sorted({(min(s, d), max(s, d)) for s, d in pairs if s != d})
    adj: dict[str, list] = {}
    for a, b in canon:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    rows = set()
    for start in adj:
        node = start
        rows.add((start, 0, node))
        for t in range(1, n_steps + 1):
            node = min(
                adj[node],
                key=lambda v: (
                    int(hashlib.md5(f"{start}:{t}:{v}".encode()).hexdigest()[:13], 16),
                    v,
                ),
            )
            rows.add((start, t, node))
    return rows


def test_random_walks_vs_python(spark):
    from corhist_spark.graph import random_walks

    k = 16
    pairs = [
        (f"n{i % k}", f"n{int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16) % k}")
        for i in range(80)
    ]
    got = {
        (r["walk"], r["step"], r["node"])
        for r in random_walks(_edges(spark, pairs)).collect()
    }
    assert got == _walks_python(pairs)


def test_random_walks_shape_and_determinism(spark):
    from corhist_spark.graph import random_walks

    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    df = random_walks(_edges(spark, pairs), n_steps=3)
    rows = {(r["walk"], r["step"], r["node"]) for r in df.collect()}
    # one walk per node, steps 0..3, every hop along a real edge
    assert {w for w, _, _ in rows} == {"a", "b", "c", "d"}
    assert all(
        sum(1 for w, s, _ in rows if w == start and s == t) == 1
        for start in "abcd"
        for t in range(4)
    )
    und = {(min(a, b), max(a, b)) for a, b in pairs}
    path = {w: [n for _, s, n in sorted(r for r in rows if r[0] == w)] for w in "abcd"}
    for w, p in path.items():
        assert p[0] == w
        for x, y in zip(p, p[1:]):
            assert (min(x, y), max(x, y)) in und
    # second run is identical (hash determinism, no RNG state)
    rows2 = {
        (r["walk"], r["step"], r["node"])
        for r in random_walks(_edges(spark, pairs), n_steps=3).collect()
    }
    assert rows2 == rows


# ---- predicate PMI ----


def test_predicate_pmi_hand_checked(spark):
    from corhist_spark.graph import predicate_pmi

    state = spark.createDataFrame(
        [
            ("s1", "P1", "v"), ("s1", "P2", "v"),
            ("s2", "P1", "v"), ("s2", "P2", "v"), ("s2", "P2", "w"),  # dup presence
            ("s3", "P1", "v"),
            ("s4", "P3", "v"),
        ],
        "subj string, pred string, obj string",
    )
    rows = predicate_pmi(state).collect()
    assert len(rows) == 1  # only (P1, P2) co-occurs
    r = rows[0]
    assert (r["pred_a"], r["pred_b"], r["n_both"]) == ("P1", "P2", 2)
    # pmi = ln(n_both * n / (n_a * n_b)) = ln(2*4 / (3*2))
    assert r["pmi"] == pytest.approx(round(math.log(8 / 6), 6), abs=1e-9)


# ---- plan guards (the 100-TB shape) ----


def test_graph_and_sketch_plans_stay_jvm_side(spark):
    from corhist_spark.graph import label_propagation, predicate_pmi

    state = spark.createDataFrame(
        [("s1", "P1", "v"), ("s1", "P2", "v")], "subj string, pred string, obj string"
    )
    edges = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    from corhist_spark.graph import random_walks

    for df in (
        triangle_counts(edges),
        pagerank(edges, n_iters=2),
        label_propagation(edges, n_iters=2),
        random_walks(edges, n_steps=2),
        predicate_pmi(state),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan  # no row-at-a-time Python
        assert "CartesianProduct" not in plan


def test_triangle_wedges_use_oriented_out_degree(spark):
    # a star (hub h with 30 leaves) has NO triangles; the degree
    # orientation must direct every edge leaf->hub, so wedge volume
    # from the hub side is zero (the Suri-Vassilvitskii skew bound) —
    # pin the result and that the count is exact
    pairs = [("h", f"l{i}") for i in range(30)]
    rows = triangle_counts(_edges(spark, pairs)).collect()
    assert all(r["n_triangles"] == 0 for r in rows)
    hub = [r for r in rows if r["node"] == "h"][0]
    assert hub["degree"] == 30 and hub["clustering"] == 0.0


# ---- k-core ----


def _kcore_python(pairs, k=3, rounds=6):
    edges = {(min(s, d), max(s, d)) for s, d in pairs if s != d}
    for _ in range(rounds):
        deg: dict[str, int] = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, c in deg.items() if c >= k}
        edges = {(a, b) for a, b in edges if a in keep and b in keep}
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    return deg


def test_k_core_hand_checked(spark):
    from corhist_spark.graph import k_core

    # K4 {a,b,c,d} is its own 3-core; the pendant path c-e-f peels
    # away (e has degree 2, then f degree 0) — TWO rounds needed, so
    # this also pins that peeling cascades
    pairs = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
        ("c", "e"), ("e", "f"),
        ("a", "a"), ("b", "a"),  # cleaner noise
    ]
    got = {r["node"]: r["core_degree"] for r in k_core(_edges(spark, pairs)).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_k_core_random_vs_python(spark):
    k = 24
    pairs = [
        (f"n{i % k}", f"n{int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16) % k}")
        for i in range(300)
    ]
    from corhist_spark.graph import k_core

    got = {r["node"]: r["core_degree"] for r in k_core(_edges(spark, pairs)).collect()}
    assert got == _kcore_python(pairs)


def test_k_core_empty_when_graph_too_sparse(spark):
    from corhist_spark.graph import k_core

    # a tree has no 3-core at all
    pairs = [("a", "b"), ("b", "c"), ("b", "d"), ("d", "e")]
    assert k_core(_edges(spark, pairs)).count() == 0


# ---- bounded BFS ----


def _bfs_python(pairs, seeds, rounds=4):
    canon = {(min(s, d), max(s, d)) for s, d in pairs if s != d}
    adj: dict[str, set] = {}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds if s in adj}
    frontier = set(dist)
    for t in range(1, rounds + 1):
        nxt = {v for u in frontier for v in adj[u]} - dist.keys()
        for v in nxt:
            dist[v] = t
        frontier = nxt
    return dist


def test_bfs_distances_hand_checked(spark):
    from corhist_spark.graph import bfs_distances

    # path a-b-c-d-e-f-g from seed a: g is 6 hops out -> absent at
    # the 4-round bound; a ghost seed not in the graph is dropped
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"), ("f", "g")]
    seeds = spark.createDataFrame([("a",), ("ghost",)], "node string")
    got = {r["node"]: r["dist"] for r in bfs_distances(_edges(spark, pairs), seeds).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3, "e": 4}


def test_bfs_distances_multi_source_takes_min(spark):
    from corhist_spark.graph import bfs_distances

    # seeds at both ends of the path: distances meet in the middle
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    seeds = spark.createDataFrame([("a",), ("e",)], "node string")
    got = {r["node"]: r["dist"] for r in bfs_distances(_edges(spark, pairs), seeds).collect()}
    assert got == {"a": 0, "e": 0, "b": 1, "d": 1, "c": 2}


def test_bfs_distances_random_vs_python(spark):
    from corhist_spark.graph import bfs_distances

    k = 40
    pairs = [
        (f"n{i % k}", f"n{int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16) % k}")
        for i in range(90)
    ]
    seed_nodes = ["n0", "n7"]
    seeds = spark.createDataFrame([(s,) for s in seed_nodes], "node string")
    got = {r["node"]: r["dist"] for r in bfs_distances(_edges(spark, pairs), seeds).collect()}
    assert got == _bfs_python(pairs, seed_nodes)


def test_new_ops_plans_stay_jvm_side(spark):
    from corhist_spark.graph import bfs_distances, k_core

    edges = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")])
    seeds = spark.createDataFrame([("a",)], "node string")
    for df in (
        k_core(edges, n_rounds=2),
        bfs_distances(edges, seeds, n_rounds=2),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


# ---- HITS ----


def _hits_python(pairs, n_iters=8):
    e = sorted({(s, d) for s, d in pairs if s != d})
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    n = len(nodes)
    inn: dict[str, list] = {}
    out: dict[str, list] = {}
    for s, d in e:
        out.setdefault(s, []).append(d)
        inn.setdefault(d, []).append(s)
    hub = {v: 1.0 / n for v in nodes}
    auth = {}
    for _ in range(n_iters):
        auth = {v: sum(hub[u] for u in inn.get(v, [])) for v in nodes}
        t = sum(auth.values())
        auth = {v: a / t for v, a in auth.items()}
        hub = {v: sum(auth[d] for d in out.get(v, [])) for v in nodes}
        t = sum(hub.values())
        hub = {v: h / t for v, h in hub.items()}
    return {v: (round(auth[v] * n, 6), round(hub[v] * n, 6)) for v in nodes}


def test_hits_vs_python(spark):
    from corhist_spark.graph import hits

    pairs = [
        ("a", "b"), ("a", "c"), ("d", "b"), ("d", "c"), ("b", "c"),
        ("c", "e"),
        ("a", "a"), ("a", "b"),  # cleaner noise
    ]
    want = _hits_python(pairs)
    got = {
        r["node"]: (r["auth_norm"], r["hub_norm"])
        for r in hits(_edges(spark, pairs)).collect()
    }
    assert got.keys() == want.keys()
    for v in want:
        assert got[v][0] == pytest.approx(want[v][0], abs=2e-6), v
        assert got[v][1] == pytest.approx(want[v][1], abs=2e-6), v


def test_hits_bipartite_hub_authority_split(spark):
    from corhist_spark.graph import hits

    # pure hubs h1,h2 point at pure authorities x,y,z: hubs end with
    # zero authority and authorities with zero hub score
    pairs = [(h, a) for h in ("h1", "h2") for a in ("x", "y", "z")]
    got = {
        r["node"]: (r["auth_norm"], r["hub_norm"])
        for r in hits(_edges(spark, pairs)).collect()
    }
    for h in ("h1", "h2"):
        assert got[h][0] == 0.0 and got[h][1] > 0
    for a in ("x", "y", "z"):
        assert got[a][0] > 0 and got[a][1] == 0.0
    # symmetry: equal hubs, equal authorities
    assert got["h1"] == got["h2"] and got["x"] == got["y"] == got["z"]


def test_hits_random_vs_python(spark):
    from corhist_spark.graph import hits

    k = 20
    pairs = [
        (f"n{i % k}", f"n{int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16) % k}")
        for i in range(120)
    ]
    want = _hits_python(pairs)
    got = {
        r["node"]: (r["auth_norm"], r["hub_norm"])
        for r in hits(_edges(spark, pairs)).collect()
    }
    assert got.keys() == want.keys()
    for v in want:
        assert got[v][0] == pytest.approx(want[v][0], abs=2e-6), v
        assert got[v][1] == pytest.approx(want[v][1], abs=2e-6), v


# ---- neighbor jaccard ----


def _nj_python(pairs, hub_cap=64, min_pct=10):
    canon = {(min(s, d), max(s, d)) for s, d in pairs if s != d}
    adj: dict[str, set] = {}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    keep = {n for n in adj if len(adj[n]) <= hub_cap}
    fadj = {n: adj[n] & keep for n in keep}
    out = {}
    nodes = sorted(fadj)
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            common = len(fadj[x] & fadj[y])
            union = len(fadj[x]) + len(fadj[y]) - common
            if common and common * 100 >= min_pct * union:
                out[(x, y)] = (common, round(common / union, 6))
    return out


def test_neighbor_jaccard_hand_checked(spark):
    from corhist_spark.graph import neighbor_jaccard

    # a and b share neighbors {n1, n2}; a also has n3, b also has n4:
    # jaccard(a,b) = 2/4.  hub h (degree > cap) must vanish first and
    # drag its wedges with it.
    pairs = [
        ("a", "n1"), ("a", "n2"), ("a", "n3"),
        ("b", "n1"), ("b", "n2"), ("b", "n4"),
    ] + [("h", f"x{i}") for i in range(5)] + [("a", "h"), ("b", "h")]
    got = {
        (r["node_a"], r["node_b"]): (r["common"], r["jaccard"])
        for r in neighbor_jaccard(_edges(spark, pairs), hub_cap=4, min_pct=10).collect()
    }
    want = _nj_python(pairs, hub_cap=4, min_pct=10)
    assert got == want
    assert got[("a", "b")] == (2, 0.5)
    assert not any("h" in p for p in got)


def test_neighbor_jaccard_random_vs_python(spark):
    from corhist_spark.graph import neighbor_jaccard

    k = 30
    pairs = [
        (f"n{i % k}", f"n{int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16) % k}")
        for i in range(200)
    ]
    got = {
        (r["node_a"], r["node_b"]): (r["common"], r["jaccard"])
        for r in neighbor_jaccard(_edges(spark, pairs), hub_cap=12, min_pct=10).collect()
    }
    assert got == _nj_python(pairs, hub_cap=12, min_pct=10)


def test_k_core_fixed_rounds_reach_fixpoint(spark):
    """The unrolled oracle replicates whatever round count the engine
    uses, so a too-shallow peel could never be caught cross-engine —
    guard convergence directly: at the fixpoint every surviving
    degree is >= k AND two extra rounds change nothing.  The fixture
    is the entry harness's derived-entity-graph shape (constant
    expected degree ~40, like every sf tier; convergence at the real
    tiers was additionally probed via DuckDB: sf0.01 converges by
    round 5, sf1 by round 5, bound 6)."""
    from corhist_spark.graph import KCORE_K, KCORE_ROUNDS, k_core

    k_nodes = 40
    pairs = [
        (f"n{i % k_nodes}",
         f"n{int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16) % k_nodes}")
        for i in range(800)
    ]
    got = {
        r["node"]: r["core_degree"]
        for r in k_core(_edges(spark, pairs)).collect()
    }
    assert got and all(d >= KCORE_K for d in got.values())
    more = {
        r["node"]: r["core_degree"]
        for r in k_core(_edges(spark, pairs), n_rounds=KCORE_ROUNDS + 2).collect()
    }
    assert got == more


def test_reciprocity_counts_reverse_edges(spark):
    from corhist_spark.graph import reciprocity

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("a", "b"),  # dup edge
         ("d", "d")],  # self-loop dropped
        "src string, dst string",
    )
    rows = {r["node"]: r for r in reciprocity(e).collect()}
    assert (rows["a"]["out_deg"], rows["a"]["n_recip"]) == (2, 1)
    assert rows["a"]["recip_ratio"] == 0.5
    assert (rows["b"]["out_deg"], rows["b"]["n_recip"]) == (1, 1)
    assert rows["b"]["recip_ratio"] == 1.0
    assert "c" not in rows and "d" not in rows  # no out-edges survive

    plan = reciprocity(e)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_temporal_linkpred_tests_only_new_edges(spark):
    from corhist_spark.graph import temporal_linkpred

    # train: a-b, b-c, a-c missing; future adds a-c (the wedge AA
    # predicts) and d-e (unpredictable)
    train = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    future = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("d", "e")],
        "src string, dst string",
    )
    row = temporal_linkpred(train, future, min_common=1).collect()[0]
    assert row["n_new"] == 2            # a-c and d-e
    assert row["n_recovered"] == 1      # AA closes the a-b-c wedge
    assert row["recall"] == 0.5


def test_hyperball_matches_python_hll_mirror(spark):
    """The estimates are pinned EXACTLY against a pure-Python HLL
    mirror (same md5 registers, same linear-counting correction) —
    sketch variance on tiny graphs is irrelevant to the contract,
    which is deterministic register arithmetic."""
    import hashlib
    import math

    from corhist_spark.graph import HB_ALPHA16, HB_BUCKETS, hyperball_2hop

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "e")]
    e = spark.createDataFrame(edges, "src string, dst string")

    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)

    def regs(members):
        r = {}
        for x in members:
            h = hashlib.md5(f"hb:{x}".encode()).hexdigest()
            bucket = int(h[0], 16)
            v = int(h[1:14], 16)
            rho = 53 if v == 0 else 53 - v.bit_length()
            r[bucket] = max(r.get(bucket, 0), rho)
        return r

    def est(r):
        m = HB_BUCKETS
        s = sum(2.0 ** -reg for reg in r.values()) + (m - len(r))
        zeros = m - len(r)
        raw = HB_ALPHA16 * m * m / s
        if raw <= 2.5 * m and zeros > 0:
            return round(m * math.log(m / zeros))
        return round(raw)

    got = {r["node"]: r for r in hyperball_2hop(e).collect()}
    for n in adj:
        b1 = {n} | adj[n]
        b2 = set(b1)
        for x in adj[n]:
            b2 |= adj[x]
        assert got[n]["ball1_est"] == est(regs(b1)), n
        assert got[n]["ball2_est"] == est(regs(b2)), n

    plan = hyperball_2hop(e)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_degree_histogram_log2_bins(spark):
    from corhist_spark.graph import degree_histogram

    # star: hub degree 4 (bin 2), leaves degree 1 (bin 0)
    e = spark.createDataFrame(
        [("h", x) for x in ("a", "b", "c", "d")], "src string, dst string"
    )
    got = {r["log2_bin"]: r for r in degree_histogram(e).collect()}
    assert got[2]["n_nodes"] == 1 and got[2]["max_degree"] == 4
    assert got[0]["n_nodes"] == 4 and got[0]["min_degree"] == 1


def test_degree_drift_ranks_growth(spark):
    from corhist_spark.graph import degree_drift

    old = spark.createDataFrame([("a", "b")], "src string, dst string")
    new = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("e", "f")],
        "src string, dst string",
    )
    rows = degree_drift(old, new, top_k=3).collect()
    assert [(r["node"], r["d_old"], r["d_new"], r["growth"]) for r in rows] == [
        ("a", 1, 3, 2),
        ("c", 0, 1, 1),
        ("d", 0, 1, 1),
    ]


# ---- batch 40: GraphSAGE neighbor sampling ----


def test_neighbor_sample_fanout_and_determinism(spark):
    from corhist_spark.graph import neighbor_sample

    # a hub with 12 out-neighbors must be cut to the fanout; small
    # nodes keep their full adjacency; self-loops and duplicate
    # edges are ignored
    rows = (
        [("hub", f"n{i:02d}") for i in range(12)]
        + [("hub", "n00"), ("hub", "hub")]       # dup edge + self-loop
        + [("tiny", "x"), ("tiny", "y")]
    )
    e = spark.createDataFrame(rows, "src string, dst string")
    out = neighbor_sample(e, fanout=8).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.src, []).append(r)
    assert len(by_src["hub"]) == 8
    assert sorted(r.slot for r in by_src["hub"]) == list(range(1, 9))
    assert len(by_src["tiny"]) == 2
    assert all(r.dst != r.src for r in out)
    # deterministic under repartitioning
    again = neighbor_sample(e.repartition(7), fanout=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_clip_pairs_positive_negative_structure(spark):
    from corhist_spark.extract import clip_pairs

    links = spark.createDataFrame(
        [
            (1, 5, "mediatoken1", "alpha"),
            (1, 9, "mediatoken2", "bravo"),
            (2, 3, "mediatoken3", "coyote"),
        ],
        "doc_id long, span_idx int, media_ref string, context_mention string",
    )
    rows = clip_pairs(links).collect()
    pos = [r for r in rows if r.label == 1]
    neg = [r for r in rows if r.label == 0]
    assert len(pos) == 3 and len(neg) == 3  # one negative per positive
    pos_by_key = {(r.doc_id, r.span_idx): r.mention for r in pos}
    for r in neg:
        # the negative is a REAL vocabulary mention and never the
        # positive of the same span
        assert r.mention in {"alpha", "bravo", "coyote"}
        assert r.mention != pos_by_key[(r.doc_id, r.span_idx)]


# ---- batch 43: directed triad census ----


def test_triad_census_planted_motifs(spark):
    from corhist_spark.graph import triad_census

    # one pure cycle {a,b,c}, one pure feed-forward {d,e,f}, one
    # bidirectional-pair triangle {g,h,i} that is BOTH
    rows = (
        [("a", "b"), ("b", "c"), ("c", "a")]
        + [("d", "e"), ("e", "f"), ("d", "f")]
        + [("g", "h"), ("h", "g"), ("h", "i"), ("g", "i")]
    )
    e = spark.createDataFrame(rows, "src string, dst string")
    r = triad_census(e).collect()[0]
    assert r.n_triangles == 3
    # cycle counts once; the bidirectional triangle g->h->i + g->i is
    # feed-forward, and h->g,g->i with h->i? h->i exists: also
    # transitive both ways -> still not cyclic (no i->g or i->h)
    assert r.n_cyclic == 1
    assert r.n_feedforward == 2
    # every triangle is cyclic or transitive (3-tournament property)
    assert r.n_cyclic + r.n_feedforward >= r.n_triangles


def test_sdtype_assign_recovers_types_from_perfect_signal(spark):
    from corhist_spark.fusion import sdtype_assign
    from pyspark.sql import functions as F

    # predicate Pk is used ONLY by class Ck subjects -> a held-out
    # entity using Pk must be typed Ck
    rows = []
    for k in range(3):
        for i in range(6):
            rows.append((f"E{k}{i}", f"P{k}", f"V{i}"))
    cur = spark.createDataFrame(rows, "subj string, pred string, obj string")
    types = spark.createDataFrame(
        [(f"E{k}{i}", f"C{k}") for k in range(3) for i in range(6)],
        "entity string, cls string",
    )
    heldout = spark.createDataFrame(
        [(f"E{k}0",) for k in range(3)], "entity string"
    )
    out = {r.entity: r for r in sdtype_assign(cur, types, heldout).collect()}
    assert set(out) == {"E00", "E10", "E20"}
    for k in range(3):
        r = out[f"E{k}0"]
        assert r.predicted_cls == f"C{k}" == r.actual_cls and r.correct
        assert r.score_ppm == 1000000  # pure signal -> full vote


# ---- batch 54: Newman modularity decomposition ----


def test_modularity_exact_on_two_cliques(spark):
    """Two triangles joined by one bridge: with the natural
    assignment Q = 2*(3/7 - (7/14)^2) ~ 0.357; with everything in one
    community Q = 0 exactly (1 - (14/14)^2 ... the degenerate check
    is the single-community identity Q = m/m - 1 = 0)."""
    from corhist_spark.graph import community_modularity

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("x", "y"), ("y", "z"), ("z", "x"),
         ("a", "x")],
        "src string, dst string",
    )
    labels = spark.createDataFrame(
        [("a", "L"), ("b", "L"), ("c", "L"),
         ("x", "R"), ("y", "R"), ("z", "R")],
        "node string, label string",
    )
    rows = {r.label: r for r in community_modularity(edges, labels).collect()}
    # m = 7; L: intra 3, degrees 3+2+2=7; R symmetric
    for lab in ("L", "R"):
        r = rows[lab]
        assert (r.n_nodes, r.degree_sum, r.intra_edges) == (3, 7, 3)
        assert r.q_contrib == round((4 * 7 * 3 - 49) / (4.0 * 49), 6)
    # total modularity for the split assignment
    assert abs(sum(r.q_contrib for r in rows.values()) - 0.357143) < 2e-6

    one = spark.createDataFrame(
        [(n, "ALL") for n in "abcxyz"], "node string, label string"
    )
    rows1 = community_modularity(edges, one).collect()
    assert len(rows1) == 1 and rows1[0].q_contrib == 0.0
    # degree identity: sum of degree_sum over communities = 2m
    assert sum(r.degree_sum for r in rows.values()) == 14

    # a precomputed canon frame (the multi-assignment sharing path)
    # must be result-identical to the internal build
    from pyspark.sql import functions as F

    canon = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    shared = {
        r.label: r for r in community_modularity(edges, labels, canon=canon).collect()
    }
    assert {lab: tuple(r) for lab, r in shared.items()} == {
        lab: tuple(r) for lab, r in rows.items()
    }


def test_modularity_plan_stays_jvm_side(spark):
    from corhist_spark.graph import community_modularity

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 3 + 1) % 20}") for i in range(40)],
        "src string, dst string",
    )
    labels = spark.createDataFrame(
        [(f"n{i}", f"c{i % 4}") for i in range(20)], "node string, label string"
    )
    plan = (
        community_modularity(edges, labels)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ---- batch 55: Hill tail-index estimator ----


def test_hill_tail_index_exact_vs_pure_python(spark):
    """Degree sequence planted via star hubs: the engine's micro-nat
    integer Hill estimate must equal the pure-Python replica, and the
    uniform-degree degenerate tail must yield NULL alpha."""
    import math
    from corhist_spark.graph import hill_tail_index

    # hubs h0..h4 with degrees 40, 30, 20, 16, 12 to distinct leaves
    degs = [40, 30, 20, 16, 12]
    edges = []
    leaf = 0
    for h, d in enumerate(degs):
        for _ in range(d):
            edges.append((f"h{h}", f"leaf{leaf}"))
            leaf += 1
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.k: r for r in hill_tail_index(df, ks=(4,)).collect()}
    # top-4 degrees: 40, 30, 20, 16 -> d_k = 16
    r = got[4]
    assert r.d_k == 16 and r.n_tail == 4
    s = sum(round(math.log(d / 16) * 1_000_000) for d in [40, 30, 20, 16])
    assert r.alpha_ppm == (4 * 10**12) // s
    # uniform degrees: all ratios ln(1)=0 -> degenerate, alpha NULL
    uni = spark.createDataFrame(
        [(f"u{i}", f"v{i}") for i in range(8)], "src string, dst string"
    )
    ru = hill_tail_index(uni, ks=(4,)).collect()
    assert len(ru) == 1 and ru[0].alpha_ppm is None and ru[0].d_k == 1


# ---- batch 58: personalized PageRank ----


def test_ppr_scores_exact_vs_pure_python(spark):
    """Planted 5-node graph with a dangling node: per-(seed, node)
    picounit ranks must match the pure-Python integer fixpoint
    EXACTLY (dangling mass returns to the seed; floored division per
    contribution), and per-seed mass must conserve up to the bounded
    floor leakage."""
    from corhist_spark.graph import (
        ppr_scores,
        PPR_DAMPING_PCT,
        PPR_ITERS,
        PPR_UNIT,
    )

    edge_list = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"),
        ("c", "a"),
        ("e", "a"),
    ]
    df = spark.createDataFrame(edge_list, "src string, dst string")
    got = {(r.seed, r.node): r.rank_pico for r in ppr_scores(df).collect()}

    # pure-Python integer replication; seeds = top-4 out-degree,
    # ties by node id
    out = {}
    for s, t in edge_list:
        out.setdefault(s, []).append(t)
    odeg = {s: len(ts) for s, ts in out.items()}
    seeds = sorted(odeg, key=lambda s: (-odeg[s], s))[:4]
    assert seeds == ["a", "b", "c", "e"]
    dp = PPR_DAMPING_PCT
    expect = {}
    for seed in seeds:
        rank = {seed: PPR_UNIT}
        n_addends = 0
        for _ in range(PPR_ITERS):
            dang = sum(v for n, v in rank.items() if n not in out)
            nxt = {seed: (100 - dp) * PPR_UNIT // 100 + dp * dang // 100}
            n_addends = 1
            for n, v in rank.items():
                for t in out.get(n, []):
                    nxt[t] = nxt.get(t, 0) + dp * v // (100 * odeg[n])
                    n_addends += 1
            rank = {n: v for n, v in nxt.items() if v > 0}
        # mass conservation up to floor leakage (< 1 picounit/addend)
        leak = PPR_UNIT - sum(rank.values())
        assert 0 < leak < n_addends * PPR_ITERS * 2, (seed, leak)
        for n, v in rank.items():
            expect[(seed, n)] = v
    assert got == expect


# ---- batch 60: partition strategy audit ----


def test_partition_audit_exact_vs_pure_python(spark):
    """Hub-heavy planted graph: 1D-by-src must show the hub's full
    skew, the 2D grid must split the hub row-wise; every number must
    match the md5 replication."""
    from corhist_spark.graph import partition_audit, PART_ROWS, PART_COLS

    edge_list = [("hub", f"t{i}") for i in range(24)] + [
        ("u1", "u2"), ("u2", "u3"), ("u3", "u1"),
    ]
    df = spark.createDataFrame(edge_list, "src string, dst string")
    got = {r.strategy: r for r in partition_audit(df).collect()}
    p_total = PART_ROWS * PART_COLS

    def h(v):
        return int(hashlib.md5(f"part:{v}".encode()).hexdigest()[:13], 16)

    for strategy in ("1d_src", "1d_dst", "2d_grid"):
        loads, vparts = {}, set()
        for s, t in edge_list:
            if strategy == "1d_src":
                p = h(s) % p_total
            elif strategy == "1d_dst":
                p = h(t) % p_total
            else:
                p = (h(s) % PART_ROWS) * PART_COLS + h(t) % PART_COLS
            loads[p] = loads.get(p, 0) + 1
            vparts.add((s, p))
            vparts.add((t, p))
        n_edges, max_edges = len(edge_list), max(loads.values())
        n_v = len({v for v, _ in vparts})
        r = got[strategy]
        assert (r.n_parts, r.n_edges, r.max_edges) == (
            p_total, n_edges, max_edges,
        ), strategy
        assert r.skew_ppm == (1_000_000 * max_edges * p_total) // n_edges
        assert r.repl_ppm == (1_000_000 * len(vparts)) // n_v
    # the hub's 24 edges land in ONE partition under 1d_src but are
    # split across PART_COLS cells under the 2D grid
    assert got["1d_src"].max_edges >= 24
    assert got["2d_grid"].max_edges < 24


# ---- batch 62: HyperBall distance distribution ----


def test_distance_distribution_matches_python_hll_mirror(spark):
    """N(k) pinned EXACTLY against the pure-Python HLL mirror on a
    5-cycle (true k-ball sizes 3, 5, 5, 5): monotone, saturating, and
    the effective-diameter flag lands on the first saturated k."""
    import hashlib
    import math

    from corhist_spark.graph import (
        HB_ALPHA16,
        HB_BUCKETS,
        DD_EFF_PCT,
        distance_distribution,
    )

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "e")]
    e = spark.createDataFrame(edges, "src string, dst string")

    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)

    def regs(members):
        r = {}
        for x in members:
            h = hashlib.md5(f"hb:{x}".encode()).hexdigest()
            bucket = int(h[0], 16)
            v = int(h[1:14], 16)
            rho = 53 if v == 0 else 53 - v.bit_length()
            r[bucket] = max(r.get(bucket, 0), rho)
        return r

    def est(r):
        m = HB_BUCKETS
        s = sum(2.0 ** -reg for reg in r.values()) + (m - len(r))
        zeros = m - len(r)
        raw = HB_ALPHA16 * m * m / s
        if raw <= 2.5 * m and zeros > 0:
            return round(m * math.log(m / zeros))
        return round(raw)

    balls = {n: {n} for n in adj}
    want = {}
    for k in range(1, 5):
        balls = {n: b | {y for x in b for y in adj[x]} for n, b in balls.items()}
        want[k] = sum(est(regs(b)) for b in balls.values())
    got = {r.k: r for r in distance_distribution(e).collect()}
    assert {k: got[k].n_pairs_est for k in got} == want
    n_max = want[4]
    first = min(k for k in want if 100 * want[k] >= DD_EFF_PCT * n_max)
    for k, r in got.items():
        assert r.frac_of_max_ppm == (1_000_000 * want[k]) // n_max
        assert r.is_eff_diameter == (k == first)
    assert sum(1 for r in got.values() if r.is_eff_diameter) == 1


def test_scc_components_exact_vs_tarjan(spark):
    """Planted digraph with nested structure — two 3-cycles joined by
    a one-way bridge, a 2-cycle, a DAG chain, a self-loop and an
    isolated edge: bounded FW-BW coloring must reproduce Tarjan's SCCs
    exactly and mark every vertex resolved."""
    from corhist_spark.graph import scc_components

    edges = [
        # 3-cycle A
        ("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
        # one-way bridge (no back path)
        ("a1", "b1"),
        # 3-cycle B
        ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),
        # 2-cycle
        ("c1", "c2"), ("c2", "c1"),
        # DAG chain of singletons
        ("d1", "d2"), ("d2", "d3"),
        # self-loop
        ("e1", "e1"),
        # feed into cycle A from a singleton
        ("f1", "a2"),
    ]
    d = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: (r.scc_id, r.resolved) for r in scc_components(d).collect()}

    # pure-Python Tarjan
    adj = {}
    nodes = set()
    for s, t in edges:
        adj.setdefault(s, []).append(t)
        nodes.update((s, t))
    index, low, onstack, stack, sccs = {}, {}, set(), [], []
    counter = [0]

    def strongconnect(v):
        work = [(v, 0)]
        while work:
            node, pi = work[-1]
            if pi == 0:
                index[node] = low[node] = counter[0]
                counter[0] += 1
                stack.append(node)
                onstack.add(node)
            recurse = False
            succs = adj.get(node, [])
            for j in range(pi, len(succs)):
                w = succs[j]
                if w not in index:
                    work[-1] = (node, j + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in onstack:
                    low[node] = min(low[node], index[w])
            if recurse:
                continue
            if low[node] == index[node]:
                comp = []
                while True:
                    w = stack.pop()
                    onstack.discard(w)
                    comp.append(w)
                    if w == node:
                        break
                sccs.append(comp)
            work.pop()
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[node])

    for v in sorted(nodes):
        if v not in index:
            strongconnect(v)
    want = {}
    for comp in sccs:
        m = min(comp)
        for v in comp:
            want[v] = m

    assert set(got) == nodes
    for v in nodes:
        assert got[v] == (want[v], True), (v, got[v], want[v])
    # structure sanity: the two 3-cycles are distinct SCCs
    assert got["a1"][0] == got["a2"][0] == got["a3"][0] == "a1"
    assert got["b1"][0] == got["b2"][0] == got["b3"][0] == "b1"
    assert got["a1"][0] != got["b1"][0]
    assert got["d1"][0] == "d1" and got["d2"][0] == "d2"


def test_scc_components_fixture_graph_vs_tarjan(spark):
    """The derived entity graph at sf0.001 (64 nodes, ~1k edges):
    bounded coloring must match an in-memory Tarjan on the REAL
    fixture graph — evidence the 2x8 round bound covers the graphs
    the registry query actually runs on."""
    import __spark_entry__ as entry_mod
    from corhist_spark.graph import scc_components

    e = entry_mod._kg_edges(spark, "/root/testdata/sf0.001")
    pairs = [(r.src, r.dst) for r in e.collect()]
    got = {
        r.node: (r.scc_id, r.resolved)
        for r in scc_components(e).collect()
    }

    adj = {}
    nodes = set()
    for s, t in pairs:
        adj.setdefault(s, []).append(t)
        nodes.update((s, t))
    index, low, onstack, stack, sccs = {}, {}, set(), [], []
    counter = [0]
    import sys

    def strongconnect(v):
        work = [(v, 0)]
        while work:
            node, pi = work[-1]
            if pi == 0:
                index[node] = low[node] = counter[0]
                counter[0] += 1
                stack.append(node)
                onstack.add(node)
            recurse = False
            succs = adj.get(node, [])
            for j in range(pi, len(succs)):
                w = succs[j]
                if w not in index:
                    work[-1] = (node, j + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in onstack:
                    low[node] = min(low[node], index[w])
            if recurse:
                continue
            if low[node] == index[node]:
                comp = []
                while True:
                    w = stack.pop()
                    onstack.discard(w)
                    comp.append(w)
                    if w == node:
                        break
                sccs.append(comp)
            work.pop()
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[node])

    for v in sorted(nodes):
        if v not in index:
            strongconnect(v)
    want = {}
    for comp in sccs:
        m = min(comp)
        for v in comp:
            want[v] = m
    assert set(got) == nodes
    unresolved = [v for v in nodes if not got[v][1]]
    assert not unresolved, f"round bound left {len(unresolved)} unresolved"
    for v in nodes:
        assert got[v][0] == want[v], (v, got[v], want[v])
