"""Unit tests for the graph-analytics operators (operators/graph.py):
integer fixed-point PageRank and degree-ordered triangle counting,
verified against brute-force Python replications of the same integer
recurrences on hand-built graphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rearview_spark.operators.graph import (
    PAGERANK_SCALE,
    pagerank,
    triangle_counts,
)


def _pagerank_py(edges: list, iterations: int, scale: int = PAGERANK_SCALE) -> dict:
    """Driver-side replication of the exact integer recurrence."""
    outdeg: dict = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    nodes = sorted(outdeg)
    n = len(nodes)
    base = (15 * scale) // (100 * n)
    r = {v: scale // n for v in nodes}
    for _ in range(iterations):
        nxt = {v: base for v in nodes}
        for s, d in edges:
            if d in nxt:
                nxt[d] += (85 * r[s]) // (100 * outdeg[s])
        r = nxt
    return r


def _sym(pairs: list) -> list:
    return [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]


def test_pagerank_matches_integer_recurrence(spark):
    # two tight pairs bridged through a hub (node 2)
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (0, 2), (2, 4)]
    edges = _sym(pairs)
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["rank_fp"] for r in pagerank(df, iterations=4).collect()}
    assert got == _pagerank_py(edges, 4)


def test_pagerank_hub_ranks_highest_and_mass_conserved(spark):
    # star: hub 0 linked to 1..6
    pairs = [(0, i) for i in range(1, 7)]
    df = spark.createDataFrame(_sym(pairs), "src bigint, dst bigint")
    rows = pagerank(df, iterations=8).collect()
    ranks = {r["node"]: r["rank"] for r in rows}
    assert max(ranks, key=ranks.get) == 0
    # total fixed-point mass stays within n floor-losses of SCALE
    total_fp = sum(r["rank_fp"] for r in rows)
    assert 0 < PAGERANK_SCALE - total_fp < 40 * len(rows)


def test_pagerank_rank_is_single_division_projection(spark):
    df = spark.createDataFrame(_sym([(1, 2), (2, 3)]), "src bigint, dst bigint")
    for r in pagerank(df, iterations=2).collect():
        assert r["rank"] == r["rank_fp"] / PAGERANK_SCALE


def _triangles_py(pairs: list) -> dict:
    es = set(pairs)
    nodes = sorted({x for p in pairs for x in p})
    out: dict = {}
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            for c in nodes:
                if c <= b:
                    continue
                if (a, b) in es and (b, c) in es and (a, c) in es:
                    for v in (a, b, c):
                        out[v] = out.get(v, 0) + 1
    return out


@pytest.mark.parametrize(
    "pairs",
    [
        # K4: every node is in C(3,2)=3 triangles
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)],
        # one triangle plus a pendant edge
        [(0, 1), (1, 2), (0, 2), (2, 3)],
        # triangle-free (4-cycle): empty result
        [(0, 1), (1, 2), (2, 3), (0, 3)],
        # skewed: hub 0 in many triangles, spokes in exactly one each
        [(0, i) for i in range(1, 8)] + [(1, 2), (3, 4), (5, 6)],
    ],
)
def test_triangle_counts_match_bruteforce(spark, pairs):
    df = spark.createDataFrame(pairs, "u bigint, v bigint")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == _triangles_py(pairs)


def test_triangle_counts_partitioning_invariant(spark):
    pairs = [(a, b) for a in range(12) for b in range(a + 1, 12) if (a * b) % 3 != 1]
    df = spark.createDataFrame(pairs, "u bigint, v bigint")
    expected = _triangles_py(pairs)
    for parts in (1, 5):
        got = {
            r["node"]: r["n_triangles"]
            for r in triangle_counts(df.repartition(parts)).collect()
        }
        assert got == expected


def test_frequent_item_pairs_apriori_equals_unpruned(spark):
    """The a-priori prune may only remove work, never results: the
    pruned pair list equals the brute-force pair count on a corpus
    where several items fall below support; duplicate items within one
    basket count once."""
    from rearview_spark.operators.graph import frequent_item_pairs

    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"), (3, "x"),   # x appears once overall
        (4, "c"), (4, "y"),
        (5, "c"), (5, "c"),             # duplicate within basket
    ]
    df = spark.createDataFrame(rows, "bk long, it string")
    got = {
        (r["item_a"], r["item_b"]): r["pair_support"]
        for r in frequent_item_pairs(df, "bk", "it", min_support=2).collect()
    }
    assert got == {("a", "b"): 3}
    # lower support keeps (a, c) and (b, c) from basket 1? no — each
    # co-occurs once, so support 1 admits them
    low = {
        (r["item_a"], r["item_b"]): r["pair_support"]
        for r in frequent_item_pairs(df, "bk", "it", min_support=1).collect()
    }
    assert low[("a", "c")] == 1 and low[("b", "c")] == 1 and low[("c", "y")] == 1
    assert ("a", "x") in low  # support-1 keeps the singleton item too


def test_personalized_pagerank_seed_proximity(spark):
    """Star graph with the hub as seed: the hub outranks the leaves,
    symmetric leaves get IDENTICAL fixed-point ranks (integer
    determinism), an attached distant node ranks below the leaves
    (proximity decay where the topology isn't parity-oscillating — a
    bare path alternates under few iterations, the expected PPR
    behavior on bipartite-ish graphs); off-graph seeds are ignored and
    an all-off-graph seed set raises."""
    import pytest

    from rearview_spark.operators.graph import personalized_pagerank

    undirected = [(1, 2), (1, 3), (1, 4), (4, 5)]
    edges = spark.createDataFrame(
        undirected + [(b, a) for a, b in undirected], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (99,)], "node long")  # 99 off-graph
    got = {
        r.node: r.rank_fp for r in personalized_pagerank(edges, seeds, 9).collect()
    }
    assert got[1] == max(got.values())
    assert got[2] == got[3]  # symmetric leaves: bit-identical
    assert got[5] < got[2] and got[5] > 0  # two hops out ranks below leaves
    with pytest.raises(ValueError):
        personalized_pagerank(
            edges, spark.createDataFrame([(99,)], "node long"), 3
        )


# --- label propagation / k-core / association rules (r12) -------------------

from rearview_spark.operators.graph import (  # noqa: E402
    association_rules,
    k_core,
    label_propagation,
)


def test_label_propagation_two_cliques_with_bridge(spark):
    # two triangles {0,1,2} and {10,11,12} joined by one bridge 2-10:
    # each triangle settles on ONE internal label and the two stay
    # distinct communities. (The right side lands on label 2, not 10 —
    # bridge node 10's first iteration sees three count-1 labels
    # {11, 12, 2} and the smallest-label tie-break imports 2; plurality
    # inside the triangle then spreads it. Deterministic, replayed by
    # the oracle — the point is the PARTITION, not which id names it.)
    pairs = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
    df = spark.createDataFrame(_sym(pairs), "src bigint, dst bigint")
    got = {r["node"]: r["label"] for r in label_propagation(df, iterations=4).collect()}
    assert set(got[n] for n in (0, 1, 2)) == {0}
    right = set(got[n] for n in (10, 11, 12))
    assert len(right) == 1 and right != {0}


def test_label_propagation_matches_python_replay(spark):
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0), (1, 3)]
    edges = _sym(pairs)
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    for iters in (1, 3):
        lab = {n: n for n in {s for s, _ in edges}}
        for _ in range(iters):
            votes: dict = {}
            for s, d in edges:
                votes.setdefault(d, {}).setdefault(lab[s], 0)
                votes[d][lab[s]] += 1
            lab = {
                d: max(v.items(), key=lambda kv: (kv[1], -kv[0]))[0]
                for d, v in votes.items()
            }
        got = {
            r["node"]: r["label"]
            for r in label_propagation(df, iterations=iters).collect()
        }
        assert got == lab


def test_k_core_strips_pendants_keeps_clique(spark):
    # 4-clique {0,1,2,3} with pendant chain 3-4-5: the 3-core is the
    # clique alone (peeling 5 exposes 4, which then peels too), and
    # every survivor keeps degree 3.
    pairs = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(_sym(pairs), "src bigint, dst bigint")
    got = {r["node"]: r["core_degree"] for r in k_core(df, k=3).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_k_core_empty_when_k_exceeds_graph(spark):
    pairs = [(0, 1), (1, 2), (0, 2)]
    df = spark.createDataFrame(_sym(pairs), "src bigint, dst bigint")
    assert k_core(df, k=5, max_rounds=3).count() == 0


def test_association_rules_hand_computed(spark):
    # baskets: {a,b}, {a,b}, {a,c}, {b} -> pair (a,b) support 2,
    # conf(a->b) = 2/3, conf(b->a) = 2/3, lift = 2*4/(3*3)
    rows = [
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "b"),
    ]
    df = spark.createDataFrame(rows, "bk bigint, it string")
    got = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules(df, "bk", "it", min_support=2).collect()
    }
    assert set(got) == {("a", "b"), ("b", "a")}
    ab = got[("a", "b")]
    assert ab["pair_support"] == 2 and ab["ant_support"] == 3
    assert ab["confidence"] == 2.0 / 3.0
    assert ab["lift"] == 8.0 / 9.0
    ba = got[("b", "a")]
    assert ba["confidence"] == 2.0 / 3.0 and ba["lift"] == 8.0 / 9.0


def test_bfs_hops_path_graph_distances(spark):
    from rearview_spark.operators.graph import bfs_hops

    # path 0-1-2-3-4 plus isolated pair 10-11; seed {0, 99 (off-graph)}
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)]
    edges = spark.createDataFrame(_sym(pairs), "src bigint, dst bigint")
    seeds = spark.createDataFrame([(0,), (99,)], "node bigint")
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=6).collect()}
    # 10/11 unreachable -> absent; off-graph seed 99 ignored
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}


def test_bfs_hops_cap_and_multi_source(spark):
    from rearview_spark.operators.graph import bfs_hops

    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(_sym(pairs), "src bigint, dst bigint")
    seeds = spark.createDataFrame([(0,), (5,)], "node bigint")
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=2).collect()}
    # nearest-seed distance, truncated at 2 hops (node at distance 3
    # from both seeds does not exist on this 6-path)
    assert got == {0: 0, 1: 1, 2: 2, 5: 0, 4: 1, 3: 2}


def _hits_py(edges, iters, scale=10**6):
    srcs = sorted({s for s, _ in edges})
    dsts = sorted({d for _, d in edges})
    h = {u: scale for u in srcs}
    a = {}
    for _ in range(iters):
        a = {v: sum(h[u] for u, d in edges if d == v) for v in dsts}
        m = max(a.values())
        a = {v: (x * scale) // m for v, x in a.items()}
        h = {u: sum(a[d] for s, d in edges if s == u) for u in srcs}
        m = max(h.values())
        h = {u: (x * scale) // m for u, x in h.items()}
    return h, a


def test_hits_matches_integer_replay_and_ranks_sensibly(spark):
    from rearview_spark.operators.graph import hits

    # buyers 0,2,4 -> sellers 1,3: seller 1 endorsed by all three,
    # seller 3 only by buyer 0; buyer 0 (buys from both) is the top hub
    edges = [(0, 1), (2, 1), (4, 1), (0, 3)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: (r["hub_fp"], r["auth_fp"]) for r in hits(df, 3).collect()}
    h, a = _hits_py(edges, 3)
    assert got == {
        n: (h.get(n, 0), a.get(n, 0)) for n in set(h) | set(a)
    }
    assert got[1][1] > got[3][1]        # seller 1 the stronger authority
    assert got[0][0] == max(v[0] for v in got.values())  # buyer 0 top hub
    assert got[0][1] == 0 and got[1][0] == 0             # pure roles

    # iterations < 1 is a clear validation error, not an opaque
    # AttributeError from joining against a = None (ADVICE r12)
    import pytest

    with pytest.raises(ValueError, match="iterations"):
        hits(df, 0)


def test_degree_histogram_dedupes_multiedges(spark):
    from rearview_spark.operators.graph import degree_histogram

    # node 1 touches {2, 3} (the duplicate 1->2 edge must not double-
    # count); nodes 2 and 3 each touch {1}
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 1), (1, 2)], "src int, dst int"
    )
    out = degree_histogram(edges).collect()
    assert [(r["degree"], r["n_nodes"]) for r in out] == [(1, 2), (2, 1)]

def test_clustering_coefficient_hand_computed(spark):
    """Graph: triangle 1-2-3 plus pendant 3-4. deg = [2, 2, 3, 1];
    node 1: 2*1/(2*1) = 1.0; node 3: 2*1/(3*2) = 1/3; node 4 has no
    wedge -> NULL. A degree-2 node with no triangle (path 5-6-7)
    reads 0.0."""
    from rearview_spark.operators.graph import clustering_coefficient

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (5, 6), (6, 7)],
        "u long, v long",
    )
    got = {r["node"]: tuple(r) for r in clustering_coefficient(edges).collect()}
    assert got[1] == (1, 2, 1, 1.0)
    assert got[2] == (2, 2, 1, 1.0)
    assert got[3] == (3, 3, 1, 2.0 * 1 / (3 * 2))
    assert got[4] == (4, 1, 0, None)
    assert got[6] == (6, 2, 0, 0.0)
    assert got[5] == (5, 1, 0, None)


def test_modularity_two_triangles_bridge(spark):
    """Hand-computed Newman modularity: two triangles joined by one
    bridge edge, partitioned triangle-by-triangle. m2 = 14 directed
    edges; each community has 6 intra directed edges and degree sum 7
    (bridge endpoints have degree 3), so dq_num = 14*6 - 49 = 35 per
    community and Q = 2 * 35/196 = 5/14."""
    from rearview_spark.operators.graph import modularity

    pairs = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    edges = spark.createDataFrame(_sym(pairs), "src bigint, dst bigint")
    labels = spark.createDataFrame(
        [(n, 1) for n in (1, 2, 3)] + [(n, 4) for n in (4, 5, 6)],
        "node bigint, label bigint",
    )
    rows = {r["label"]: r for r in modularity(edges, labels).collect()}
    assert set(rows) == {1, 4}
    for lbl in (1, 4):
        r = rows[lbl]
        assert (r["n_nodes"], r["intra2"], r["deg_sum"], r["dq_num"], r["m2"]) == (
            3, 6, 7, 35, 14
        )
    q = sum(r["dq_num"] for r in rows.values()) / 14**2
    assert q == pytest.approx(5 / 14)

    # everything in ONE community: Q = m2*m2 - m2^2 = 0 exactly
    one = spark.createDataFrame(
        [(n, 1) for n in range(1, 7)], "node bigint, label bigint"
    )
    allrows = modularity(edges, one).collect()
    assert len(allrows) == 1 and allrows[0]["dq_num"] == 0


def test_modularity_envelope_raises(spark):
    from unittest.mock import patch

    from rearview_spark.operators import graph as G

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src bigint, dst bigint")
    labels = spark.createDataFrame([(1, 1), (2, 1)], "node bigint, label bigint")
    with patch.object(type(edges), "count", lambda self: 3_037_000_500):
        with pytest.raises(ValueError, match="envelope"):
            G.modularity(edges, labels)


def test_shortest_paths_weighted_vs_round_bound(spark):
    """Hand graph 1-2 (w=1), 2-3 (w=1), 1-3 (w=5): with enough rounds
    the two-step path (cost 2) beats the direct heavy edge; with ONE
    round only the direct relaxation exists (cost 5) — the round cap
    is a path-LENGTH bound, exactly like bfs_hops. Off-graph seeds are
    ignored; NULL or negative weights raise."""
    from rearview_spark.operators.graph import shortest_paths

    pairs = [(1, 2, 1), (2, 3, 1), (1, 3, 5)]
    edges = spark.createDataFrame(
        [(a, b, w) for a, b, w in pairs] + [(b, a, w) for a, b, w in pairs],
        "src bigint, dst bigint, w bigint",
    )
    seeds = spark.createDataFrame([(1,), (99,)], "node long")

    got = {r["node"]: r["dist"] for r in shortest_paths(edges, seeds, rounds=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2}
    one = {r["node"]: r["dist"] for r in shortest_paths(edges, seeds, rounds=1).collect()}
    assert one == {1: 0, 2: 1, 3: 5}

    neg = spark.createDataFrame([(1, 2, -1), (2, 1, -1)], "src bigint, dst bigint, w bigint")
    with pytest.raises(ValueError, match="negative"):
        shortest_paths(neg, seeds)
    # a NULL weight would leave NULL distances behind it: out of contract
    null_w = spark.createDataFrame(
        [(1, 2, None), (2, 1, None), (2, 3, 4), (3, 2, 4)],
        "src bigint, dst bigint, w bigint",
    )
    with pytest.raises(ValueError, match="NULL"):
        shortest_paths(null_w, seeds)


def test_hits_one_iteration_and_dual_role_nodes(spark):
    """One iteration is the in-degree step alone; nodes 1 and 3 are both
    a src and a dst and carry both scores; an edge with a NULL endpoint
    is dropped."""
    from rearview_spark.operators.graph import hits

    edges = [(0, 1), (2, 1), (1, 3), (3, 0), (0, 3), (3, 2)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    for iters in (1, 2):
        rows = hits(df, iters).collect()
        got = {r["node"]: (r["hub_fp"], r["auth_fp"]) for r in rows}
        h, a = _hits_py(edges, iters)
        assert got == {n: (h.get(n, 0), a.get(n, 0)) for n in set(h) | set(a)}
    assert all(got[n][0] > 0 and got[n][1] > 0 for n in (1, 3))

    nulls = df.unionByName(
        spark.createDataFrame([(None, 1), (2, None)], "src bigint, dst bigint")
    )
    assert sorted(map(tuple, hits(nulls, 2).collect())) == sorted(map(tuple, rows))


def test_hits_iteration_costs_six_jobs(spark, count_jobs):
    """Each HITS iteration launches 6 jobs: per renorm, the score
    broadcast, the join/partial-agg shuffle map and the checkpoint fill,
    which also yields the renorm max."""
    from rearview_spark.operators.graph import hits

    df = spark.createDataFrame([(0, 1), (2, 1), (4, 1), (0, 3)], "src bigint, dst bigint")
    _, two = count_jobs(lambda: hits(df, 2).collect())
    _, three = count_jobs(lambda: hits(df, 3).collect())
    assert three - two == 6


def test_connected_components_round_costs_three_jobs(spark, count_jobs):
    """Each propagation round launches 3 jobs: the label broadcast, the
    shuffle map and the checkpoint fill, which also yields the
    convergence sum."""
    import warnings

    from rearview_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a bigint, id_b bigint"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        _, one = count_jobs(lambda: connected_components(pairs, max_iter=1).collect())
        _, two = count_jobs(lambda: connected_components(pairs, max_iter=2).collect())
    assert two - one == 3


def test_connected_components_first_round_from_the_edges(spark, count_jobs):
    """Round 1 needs only the edge checkpoint: max_iter=1 is the edge
    fill, round 1's map side and fill, and the collect (4 jobs, no label
    frame and no broadcast). Round 1's labels are each node's min over
    itself and its neighbours."""
    import warnings

    from rearview_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a bigint, id_b bigint"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        got, jobs = count_jobs(lambda: connected_components(pairs, max_iter=1).collect())
    assert jobs == 4
    assert {r["id"]: r["component"] for r in got} == {
        i: max(i - 1, 0) for i in range(9)
    }


def test_hits_one_iteration_reads_the_edges_once(spark, count_jobs):
    """hits(iterations=1) is the edge fill with its in-degree window,
    h_1's map side and fill, and the collect's two jobs (6, no a_1
    checkpoint and no broadcast). Its authorities come from the
    per-edge a_1 projection, the one reader of it: every dst appears
    once, with its in-degree renormed, beside the hub scores, on a graph
    whose nodes have in-degrees 0 to 3."""
    from rearview_spark.operators.graph import hits

    edges = [(0, 1), (2, 1), (4, 1), (0, 3), (3, 5), (5, 3), (1, 0)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    rows, jobs = count_jobs(lambda: hits(df, 1).collect())
    assert jobs == 6
    assert len(rows) == len({n for e in edges for n in e})
    h, a = _hits_py(edges, 1)
    got = {r["node"]: (r["hub_fp"], r["auth_fp"]) for r in rows}
    assert got == {n: (h.get(n, 0), a.get(n, 0)) for n in set(h) | set(a)}
    assert got[1][1] == 10**6 and got[3][1] == 10**6 * 2 // 3


def test_fixed_points_warn_when_stopped_unconverged(spark):
    """A 9-node path needs more than 3 rounds: connected_components at
    max_iter=3 and k_core at max_rounds=3 both warn, pointing at the
    line that called the operator. A triangle converges within the
    default caps and neither warns."""
    import warnings

    from rearview_spark.operators.dedup import connected_components

    path = [(i, i + 1) for i in range(8)]
    pairs = spark.createDataFrame(path, "id_a bigint, id_b bigint")
    with pytest.warns(RuntimeWarning, match=r"connected_components: .*max_iter=3") as cc_w:
        got = connected_components(pairs, max_iter=3).collect()
    assert len({r["component"] for r in got}) > 1
    # a 2-core peel of a path removes one end node per side per round
    edges = spark.createDataFrame(_sym(path), "src bigint, dst bigint")
    with pytest.warns(RuntimeWarning, match=r"k_core: .*max_rounds=3") as kc_w:
        assert k_core(edges, k=2, max_rounds=3).count() > 0
    for w in [*cc_w, *kc_w]:
        if issubclass(w.category, RuntimeWarning):
            assert w.filename == __file__
    tri = [(0, 1), (1, 2), (0, 2)]
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = connected_components(
            spark.createDataFrame(tri, "id_a bigint, id_b bigint")
        ).collect()
        assert {r["component"] for r in got} == {0}
        tri_edges = spark.createDataFrame(_sym(tri), "src bigint, dst bigint")
        assert k_core(tri_edges, k=2).count() == 3


# --- one fixed-point loop: per-round cost and the folded operators ---------

from rearview_spark.operators import graph as G  # noqa: E402

_ROUND_RUNNERS = {
    "pagerank": lambda e, s, n: G.pagerank(e, iterations=n),
    "personalized_pagerank": lambda e, s, n: G.personalized_pagerank(e, s, n),
    "label_propagation": lambda e, s, n: G.label_propagation(e, iterations=n),
    "bfs_hops": lambda e, s, n: G.bfs_hops(e, s, max_hops=n),
    "shortest_paths": lambda e, s, n: G.shortest_paths(
        e.withColumn("w", F.lit(1).cast("long")), s, rounds=n
    ),
    "k_core": lambda e, s, n: G.k_core(e, k=2, max_rounds=n),
}


@pytest.mark.parametrize(
    "op,per_round",
    [
        ("pagerank", 3),
        ("personalized_pagerank", 3),
        ("label_propagation", 4),
        ("bfs_hops", 4),
        ("shortest_paths", 4),
        ("k_core", 4),
    ],
)
def test_iterative_round_job_cost(spark, count_jobs, op, per_round):
    """One more round costs the operator's fixed number of jobs (the
    state broadcast, its shuffle maps and the checkpoint fill) — the
    shared loop adds none. A 10-node path keeps every operator moving
    for 3 rounds (k_core peels one end node per side per round)."""
    import warnings

    edges = spark.createDataFrame(
        _sym([(i, i + 1) for i in range(9)]), "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame([(0,)], "node bigint")
    run = _ROUND_RUNNERS[op]
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        _, two = count_jobs(lambda: run(edges, seeds, 2).collect())
        _, three = count_jobs(lambda: run(edges, seeds, 3).collect())
    assert three - two == per_round


def _seeded_rank_py(edges: list, iterations: int, seeds=None, scale=PAGERANK_SCALE) -> dict:
    """Driver-side replay of pagerank (``seeds`` None) and
    personalized_pagerank that also covers off-contract dst-only nodes:
    uniform PageRank gives them the teleport base plus their
    contributions, personalized PageRank their contributions only."""
    outdeg: dict = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    seeded = set(outdeg) if seeds is None else set(seeds) & set(outdeg)
    base = (15 * scale) // (100 * len(seeded))
    r = {v: scale // len(seeded) if v in seeded else 0 for v in outdeg}
    for _ in range(iterations):
        nxt = {v: base if v in seeded else 0 for v in outdeg}
        for s, d in edges:
            nxt.setdefault(d, base if seeds is None else 0)
            nxt[d] += (85 * r[s]) // (100 * outdeg[s])
        r = nxt
    return r


def test_pagerank_off_contract_dst_only_node(spark):
    """Node 3 appears only as a dst. PageRank gives it the teleport
    base plus its contributions; personalized PageRank (seed 0) gives
    it only its contributions."""
    edges = [(0, 1), (1, 0), (1, 2), (2, 0), (1, 3), (2, 3)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    pr = {r["node"]: r["rank_fp"] for r in G.pagerank(df, iterations=3).collect()}
    want = _seeded_rank_py(edges, 3)
    assert pr == want
    assert want[3] > (15 * PAGERANK_SCALE) // (100 * 3)  # base + contributions
    seeds = spark.createDataFrame([(0,)], "node bigint")
    ppr = {
        r["node"]: r["rank_fp"]
        for r in G.personalized_pagerank(df, seeds, 3).collect()
    }
    assert ppr == _seeded_rank_py(edges, 3, seeds=[0])


def test_shortest_paths_unit_weights_cost_bfs_jobs(spark, count_jobs):
    """The weight check rides the edge checkpoint's fill job, so unit-
    weight shortest paths cost exactly the jobs of bfs_hops and return
    the same distances."""
    edges = spark.createDataFrame(
        _sym([(i, i + 1) for i in range(5)]), "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame([(0,)], "node bigint")
    for rounds in (0, 2):
        bfs, bfs_jobs = count_jobs(
            lambda: G.bfs_hops(edges, seeds, max_hops=rounds).collect()
        )
        sp, sp_jobs = count_jobs(
            lambda: G.shortest_paths(
                edges.withColumn("w", F.lit(1).cast("long")), seeds, rounds=rounds
            ).collect()
        )
        assert sp_jobs == bfs_jobs
        assert sorted(map(tuple, sp)) == sorted(map(tuple, bfs))
