"""Graph analytics over relationship edges derived from the relational
tables: fixed-point PageRank and degree-ordered triangle counting.

Not rearview parity; north-star pipeline extensions (the reference's
dashboards rank jobs/metrics by direct aggregates — entity-importance
ranking over a *relationship* graph, e.g. "which suppliers sit at the
center of the purchasing network", is the graph-shaped version of the
same question, and triangle density is the classic cohesion signal for
community/abuse detection over interaction logs).

Determinism contract (the reason both operators are gate-able with a
value-level DuckDB oracle): PageRank here is INTEGER fixed-point — ranks
are maintained as ``floor(rank * SCALE)`` bigints and every per-edge
contribution is ``(num * r) div (den * outdeg)`` in bigint arithmetic,
so partial-aggregation order cannot perturb a single bit (integer sums
commute exactly; float sums do not). One float appears in the output:
``rank = rank_fp / SCALE``, a single division per row, identical IEEE
result in any engine. Triangle counts are pure integers.

Why these shapes survive 100 TB:

- PageRank state is O(nodes) per iteration; the edge list is built
  once, co-partitioned by ``src`` and locally checkpointed, so every
  iteration is one partition-local join (edges x ranks on the SAME key)
  plus one shuffle-agg keyed by ``dst`` whose map-side combine reduces
  to one row per (task, dst). Nothing corpus-sized moves twice.
- Fixed-point also kills the classic distributed-PageRank drift bug:
  float ranks diverge across runs when AQE re-splits partial sums;
  integer ranks cannot.
- Triangle counting orients each undirected edge from its
  lower-(degree, id) endpoint to its higher one. Every wedge join then
  fans out from a node's *forward* adjacency only, which is O(sqrt(m))
  per node on any graph (the standard arboricity bound) instead of
  O(max_degree) — the difference between a skew-immune join and a hot
  key that never finishes at scale. The closing edge lookup is a
  semi-join against the oriented edge list itself.

Reference parity note: the reference has no graph layer (its Ruby app
delegates all analytics to Graphite — /root/reference/README.md:6);
this module is part of the large-scale-pipeline scope described in
SURVEY.md §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rearview_spark.operators._util import bcast_state as _bcast_state
from rearview_spark.operators._util import fixed_point
from rearview_spark.operators._util import observed_checkpoint as _observed_checkpoint

PAGERANK_SCALE = 10**12


def _edges_checkpoint(edges: DataFrame, **checks) -> tuple[DataFrame, dict]:
    """The edge list checkpointed as it stands, with its row count ``m``
    and any ``checks`` aggregates observed by the fill job. It is not
    repartitioned by ``src`` first: under AQE the checkpoint reports
    ``UnknownPartitioning``, so no later join could use that layout, and
    the exchange would only cost a job."""
    return _observed_checkpoint(edges, m=F.count(F.lit(1)), **checks)


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Integer fixed-point PageRank over a directed edge list
    ``(src bigint, dst bigint)``.

    Every node must appear as a ``src`` at least once (callers using an
    undirected relationship emit both directions, which guarantees it);
    nodes that receive no contributions in an iteration still get the
    teleport base.

    Recurrence (all bigint):

        r0(v)     = scale div n
        r_{t+1}(v) = (den-num)*scale div (den*n)
                     + sum over in-edges (u,v) of
                       (num * r_t(u)) div (den * outdeg(u))

    This is :func:`personalized_pagerank` with every node a seed, and
    runs the same core. Off contract, a dst-only node also gets the
    teleport base (personalized PageRank gives it its contributions
    only).

    Returns ``(node, rank_fp, rank)`` — ``rank_fp`` the bigint
    fixed-point rank, ``rank`` its single-division double projection.
    """
    return _seeded_rank(edges, None, iterations, damping_num, damping_den, scale)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Personalized PageRank: the teleport mass restarts at ``seeds``
    (a frame with a ``node`` column) instead of uniformly — rank becomes
    proximity TO the seed set, the classic recommendation / related-
    entity primitive ("suppliers close to this customer segment").

    Same integer fixed-point contract as :func:`pagerank` (bigint
    recurrence, aggregation-order-immune, oracle-replayable):

        r0(v)      = scale div s            if v is an in-graph seed, else 0
        r_{t+1}(v) = [v seed] * (den-num)*scale div (den*s)
                     + sum over in-edges (u,v) of
                       (num * r_t(u)) div (den * outdeg(u))

    with s = |seeds present in the graph| (off-graph seeds are ignored
    on BOTH engines — proximity to a node with no edges is undefined).
    Unlike uniform PageRank the mass is not conserved toward 1 — rank
    decays with distance from the seeds, which is the point."""
    return _seeded_rank(edges, seeds, iterations, damping_num, damping_den, scale)


def _seeded_rank(
    edges: DataFrame,
    seeds: DataFrame | None,
    iterations: int,
    damping_num: int,
    damping_den: int,
    scale: int,
) -> DataFrame:
    """The rank recurrence behind :func:`pagerank` (``seeds`` None:
    every node is a seed) and :func:`personalized_pagerank`.

    Scale shape: the edge list is joined to its out-degrees and
    checkpointed ONCE; each iteration is one join against the O(nodes)
    rank frame — broadcast while the node count n fits (see
    ``_bcast_state``), so the edge list is never re-shuffled — plus one
    dst-keyed aggregate.
    Driver scalars: the seed count s and node count n, observed by the
    job that fills the node checkpoint (no job of their own)."""
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    ew = edges.join(deg, "src").localCheckpoint(eager=True)
    nodes = ew.select(F.col("src").alias("node")).distinct()
    if seeds is None:
        flagged, contrib_seed = nodes.withColumn("_seed", F.lit(1)), F.lit(1)
    else:
        sflag = seeds.select("node").distinct().withColumn("_seed", F.lit(1))
        flagged = nodes.join(sflag, "node", "left").select(
            "node", F.coalesce(F.col("_seed"), F.lit(0)).alias("_seed")
        )
        contrib_seed = F.lit(None)
    nodes, obs = _observed_checkpoint(
        flagged, s=F.sum("_seed"), n=F.count(F.lit(1))
    )
    s, n = obs["s"] or 0, obs["n"]
    if s == 0:
        if seeds is not None:
            raise ValueError("personalized_pagerank: no seed appears in the graph")
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("rank_fp"),
            F.lit(0.0).alias("rank"),
        )
    base = ((damping_den - damping_num) * scale) // (damping_den * s)
    ranks = nodes.select(
        "node",
        F.when(F.col("_seed") == 1, F.lit(scale // s))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    )

    def step(ranks: DataFrame, _) -> DataFrame:
        rb = _bcast_state(ranks, n)
        contrib = ew.join(rb, ew["src"] == rb["node"]).select(
            F.col("dst").alias("node"),
            contrib_seed.cast("int").alias("_seed"),
            F.expr(f"({damping_num} * r) div ({damping_den} * outdeg)").alias("c"),
        )
        # Every node adds one zero row carrying its seed flag, so one
        # aggregation yields both the flag (max) and the contribution
        # sum: sum over {contribs, one 0} == coalesce(sum(contribs), 0)
        # exactly (bigint), with no per-iteration node join. Contribution
        # rows carry the uniform flag (1) or NULL, which decides whether
        # an off-contract dst-only node gets the teleport base.
        return (
            contrib.unionByName(
                nodes.select("node", "_seed", F.lit(0).cast("long").alias("c"))
            )
            .groupBy("node")
            .agg(F.sum("c").alias("su"), F.max("_seed").alias("_seed"))
            .select(
                "node",
                (
                    F.when(F.col("_seed") == 1, F.lit(base)).otherwise(F.lit(0))
                    + F.col("su")
                ).cast("long").alias("r"),
            )
        )

    ranks = fixed_point(ranks, step, iterations)
    return ranks.select(
        "node",
        F.col("r").alias("rank_fp"),
        (F.col("r") / F.lit(float(scale))).alias("rank"),
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an UNDIRECTED edge
    list given as canonical pairs ``(u bigint, v bigint)`` with
    ``u < v``, pre-deduplicated (callers build it with
    least/greatest + distinct).

    Orients each edge from its lower-(degree, id) endpoint ``a`` to the
    higher one, joins forward adjacencies ``(a,b) x (a,c)`` with
    ``b`` before ``c`` in the same order to enumerate each wedge once,
    and closes the wedge against the oriented edge list — so every
    triangle is found exactly once, regardless of degree skew (see
    module docstring for the arboricity bound).

    Returns ``(node, n_triangles)`` for nodes in at least one triangle.
    """
    # total (degree, id) order: rank = degree * 2^32 + id (ids are
    # table keys, far below 2^32; documented caller contract)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        .select(
            "node", (F.col("d") * F.lit(2**32) + F.col("node")).alias("rank")
        )
    )
    ru = deg.select(F.col("node").alias("u"), F.col("rank").alias("rank_u"))
    rv = deg.select(F.col("node").alias("v"), F.col("rank").alias("rank_v"))
    oriented = (
        edges.join(ru, "u")
        .join(rv, "v")
        .select(
            F.when(F.col("rank_u") < F.col("rank_v"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("a"),
            F.when(F.col("rank_u") < F.col("rank_v"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("b"),
            F.greatest("rank_u", "rank_v").alias("rank_b"),
        )
    ).localCheckpoint(eager=True)
    e1 = oriented.select("a", "b", "rank_b")
    e2 = oriented.select(
        F.col("a").alias("a2"), F.col("b").alias("c"), F.col("rank_b").alias("rank_c")
    )
    wedges = e1.join(e2, (e1["a"] == e2["a2"]) & (e1["rank_b"] < e2["rank_c"])).select(
        "a", "b", "c"
    )
    closing = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tris = wedges.join(closing, ["b", "c"], "left_semi")
    corners = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node —
    ``2 * tri(v) / (deg(v) * (deg(v) - 1))`` over the same canonical
    undirected edge list :func:`triangle_counts` consumes (``u < v``,
    deduplicated): the per-node cohesion read between the global
    triangle count and the degree histogram (a hub whose neighbors
    interlink is a community core; one whose neighbors never meet is a
    broker/spam hub — the shape dedup and recommendation sampling both
    key on).

    Exactness: degrees and triangle counts are exact int64 (each edge
    contributes one neighbor to each endpoint — the input is distinct
    canonical pairs, so no multi-edges); the coefficient is ONE
    division of exact integers (``deg * (deg - 1)`` fits int64 to
    ~3e9-degree hubs), mirrored op-for-op. Nodes with fewer than 2
    neighbors report NULL (no wedge to close); nodes with no triangle
    report 0.0 (degree-frame left join, not the triangle frame's
    inner domain).

    Scale shape: :func:`triangle_counts`' degree-ordered wedge join
    (arboricity-bounded, skew-immune — module docstring) plus one
    node-domain degree aggregate and one node-keyed left join.
    Returns ``(node, degree, n_triangles, clustering)``.
    """
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tc = triangle_counts(edges)
    j = deg.join(tc, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0))
        .cast("long")
        .alias("n_triangles"),
    )
    return j.select(
        "node",
        "degree",
        "n_triangles",
        F.when(
            F.col("degree") >= 2,
            F.lit(2.0)
            * F.col("n_triangles").cast("double")
            / (F.col("degree") * (F.col("degree") - F.lit(1))).cast("double"),
        ).alias("clustering"),
    )


def frequent_item_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Market-basket frequent pairs with a-priori pruning (Agrawal &
    Srikant VLDB'94): pairs of items co-occurring in at least
    ``min_support`` baskets — the co-occurrence EDGE LIST the
    recommendation / co-purchase graph is built from (and the input
    :func:`pagerank` / :func:`triangle_counts` consume).

    The a-priori property carries the scale story: a pair can only be
    frequent if BOTH items are (support is anti-monotone), so items
    below ``min_support`` are dropped BEFORE the basket self-join —
    the join's blow-up is quadratic in basket size, and pruning
    removes the long tail of one-off items from every basket first.
    Plan: distinct (basket, item) → item-support hash agg →
    broadcast-semi prune → self-join on basket → pair hash agg with an
    integer HAVING. All counts are integers — no float drift anywhere.
    """
    b = df.select(
        F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
    ).distinct()
    freq = (
        b.groupBy("it")
        .agg(F.count("*").alias("item_support"))
        .filter(F.col("item_support") >= min_support)
        .select("it")
    )
    pruned = b.join(freq, "it", "left_semi")
    a = pruned.select(F.col("bk"), F.col("it").alias("item_a"))
    c = pruned.select(F.col("bk"), F.col("it").alias("item_b"))
    return (
        a.join(c, "bk")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("pair_support"))
        .filter(F.col("pair_support") >= min_support)
    )


def label_propagation(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007) over a directed edge list ``(src bigint,
    dst bigint)`` — callers with undirected relationships emit both
    directions, the same contract as :func:`pagerank`, which also
    guarantees every node appears as ``src``.

    Each node starts labelled with its own id; every iteration it
    adopts the label held by the PLURALITY of its in-neighbors. Vanilla
    LPA breaks plurality ties randomly, which is useless for a
    value-level oracle — here ties break toward the SMALLEST label
    (``max_by`` on the integer struct ``(cnt, -label)``), making the
    whole recurrence pure integer arithmetic: aggregation order cannot
    perturb it, and a DuckDB oracle replays it exactly with chained
    CTEs (the PageRank oracle discipline).

    Synchronous + deterministic LPA can oscillate on bipartite-ish
    structures instead of converging, so ``iterations`` is a FIXED
    hyperparameter (bounded-round LPA), not a convergence loop — the
    oracle unrolls exactly the same number of rounds, and production
    use at 100 TB keeps the same bounded-iteration form.

    Scale shape per iteration: one equi-join of the (repartitioned,
    checkpointed-once) edge list against the O(nodes) label frame on
    the SAME key, one (node, label) hash aggregate with map-side
    combine, one max_by hash aggregate keyed by node. State between
    iterations is O(nodes); nothing edge-sized persists or re-shuffles.
    """
    # edge-row count bounds the node count (every node appears as src):
    # an exact-enough driver scalar to gate the per-iteration broadcast
    ew, obs = _edges_checkpoint(edges)
    m = obs["m"]
    labels = (
        ew.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )

    def step(labels: DataFrame, _) -> DataFrame:
        lb = _bcast_state(labels, m)
        nbr = ew.join(lb, ew["src"] == lb["node"]).select(
            F.col("dst").alias("node"), "label"
        )
        counts = nbr.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        return counts.groupBy("node").agg(
            F.expr("max_by(label, struct(cnt, -label))").alias("label")
        )

    return fixed_point(labels, step, iterations)


def k_core(edges: DataFrame, k: int, max_rounds: int = 8) -> DataFrame:
    """The ``k``-core of an undirected graph — the maximal subgraph in
    which every node keeps degree >= k — via the standard peeling
    fixed point: repeatedly drop nodes with current degree < k until
    nothing changes (Seidman 1983; the classic cohesion filter that
    strips the long tail of casual attachments off an interaction
    graph before community work).

    Takes the symmetric directed form ``(src, dst)`` (both directions
    per undirected edge — the module-wide contract), so a node's
    degree is exactly its out-degree. Peeling is monotone (nodes only
    ever leave), hence order-independent and exactly replayable by an
    oracle that unrolls the SAME number of rounds: once the fixed
    point is hit, extra rounds are no-ops, so "operator stops early,
    oracle runs all ``max_rounds``" cannot diverge. Pure integer
    arithmetic throughout.

    Scale shape per round: one out-degree hash aggregate (map-side
    combined) + two semi-joins of the current edge list against the
    O(survivors) keep-list. The edge frame shrinks monotonically; the
    edge count observed by each round's checkpoint-fill job detects
    the fixed point and stops. ``max_rounds`` bounds the worst case —
    degeneracy-ordered graphs need O(peel depth) rounds, and each
    round is a full parallel sweep, not per-node work. Stopping at
    ``max_rounds`` before a round confirms the fixed point warns.

    Returns ``(node, core_degree)`` — survivors with their degree
    inside the core.
    """
    cur, obs = _edges_checkpoint(edges)

    def peel(cur: DataFrame, obs: dict) -> DataFrame:
        keep = (
            cur.groupBy("src")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= k)
            .select("src")
        )
        # keep-list rows <= distinct src <= this round's edge count
        # (observed by the previous round's fill) — broadcast the
        # semi-join probe side while that bound fits
        m = obs["m"]
        return cur.join(_bcast_state(keep, m), "src", "left_semi").join(
            _bcast_state(keep.select(F.col("src").alias("dst")), m),
            "dst",
            "left_semi",
        )

    cur = fixed_point(
        cur,
        peel,
        max_rounds,
        obs=obs,
        converge_on="m",
        op="k_core",
        cap_name="max_rounds",
        m=F.count(F.lit(1)),
    )
    return (
        cur.groupBy("src")
        .agg(F.count("*").alias("core_degree"))
        .select(F.col("src").alias("node"), "core_degree")
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Directed association rules ``antecedent -> consequent`` with
    support / confidence / lift over the frequent pairs from
    :func:`frequent_item_pairs` (Agrawal & Srikant VLDB'94 step 2 —
    rule generation).

    For each frequent unordered pair {A, B}, emits BOTH directions:

        confidence(A -> B) = support(A,B) / support(A)
        lift(A -> B)       = support(A,B) * n_baskets
                             / (support(A) * support(B))

    All supports are exact integers from hash aggregates; the two
    ratios are each ONE float division of bigint operands (numerators
    pre-multiplied in bigint), so the doubles are bit-identical across
    engines — the single-division discipline every float-emitting gate
    in this repo follows. Driver-side scalar: one basket count.

    Scale shape: the distinct (basket, item) frame is materialized
    ONCE (checkpoint) and shared by every consumer — basket count, item
    supports, the a-priori prune (inlined from
    :func:`frequent_item_pairs`, same algebra), and both sides of the
    pair self-join; item supports are one hash aggregate joined twice
    by item key (broadcastable when the item dimension is small, plain
    shuffled equi-join otherwise — item cardinality, not basket
    cardinality, drives that choice).
    """
    b = (
        df.select(F.col(basket_col).alias("bk"), F.col(item_col).alias("it"))
        .distinct()
        .localCheckpoint(eager=True)  # built ONCE, read by basket count,
        # item supports, the a-priori prune, and both self-join sides —
        # without this the distinct aggregate re-executes per consumer
        # (6 corpus scans in the un-checkpointed plan)
    )
    n_baskets = b.select("bk").distinct().count()
    item_support = b.groupBy("it").agg(F.count("*").alias("sup"))
    freq = item_support.filter(F.col("sup") >= min_support).select("it")
    pruned = b.join(freq, "it", "left_semi")
    pa = pruned.select("bk", F.col("it").alias("item_a"))
    pc = pruned.select("bk", F.col("it").alias("item_b"))
    pairs = (
        pa.join(pc, "bk")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("pair_support"))
        .filter(F.col("pair_support") >= min_support)
    )
    directed = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "pair_support",
    ).unionAll(
        pairs.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            "pair_support",
        )
    )
    ant = item_support.select(
        F.col("it").alias("antecedent"), F.col("sup").alias("ant_support")
    )
    con = item_support.select(
        F.col("it").alias("consequent"), F.col("sup").alias("con_support")
    )
    out = directed.join(ant, "antecedent").join(con, "consequent")
    return out.select(
        "antecedent",
        "consequent",
        "pair_support",
        "ant_support",
        "con_support",
        (
            F.col("pair_support").cast("double") / F.col("ant_support")
        ).alias("confidence"),
        (
            (F.col("pair_support") * F.lit(n_baskets)).cast("double")
            / (F.col("ant_support") * F.col("con_support"))
        ).alias("lift"),
    )


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int = 6) -> DataFrame:
    """Multi-source BFS: the hop distance from the nearest node in
    ``seeds`` (a frame with a ``node`` column), up to ``max_hops`` —
    the landmark-distance primitive graph feature pipelines read
    ("how far is this part from the promoted set", blast-radius
    queries, heuristic embeddings).

    Same module contracts as the rest of the family: symmetric
    directed edge list, every node appears as ``src``; seeds outside
    the graph are ignored on both engines. Pure integer distances, so
    the frontier recurrence

        d_0(v)     = 0 if v in seeds
        d_{t+1}(v) = min(d_t(v), 1 + min over in-edges (u,v) of d_t(u))

    is aggregation-order-immune and replayable by a recursive-CTE
    oracle (min over all reached (node, depth) pairs ≤ max_hops).

    Scale shape per round: one equi-join of the checkpointed edge list
    against the O(reached) distance frame on the src key, one min hash
    aggregate keyed by dst, one full-outer min-merge with the previous
    frame. Unreached nodes never enter the state — the frontier frame
    grows to O(reached nodes), not O(nodes), and ``max_hops`` bounds
    the rounds exactly like PageRank's fixed iterations.

    Returns ``(node, hops)`` for reached nodes only (seeds at 0). This
    is :func:`shortest_paths` with unit weights, and runs the same core.
    """
    ew, obs = _edges_checkpoint(edges)
    return _relax(ew, obs["m"], seeds, max_hops, F.lit(1), "hops")


def _relax(
    ew: DataFrame, m: int, seeds: DataFrame, rounds: int, cost, col: str
) -> DataFrame:
    """Bounded min-plus relaxation behind :func:`bfs_hops` (``cost`` 1)
    and :func:`shortest_paths` (``cost`` the weight column) over the
    checkpointed edge list ``ew`` of ``m`` rows: the ``(node, <col>)``
    frame after ``rounds`` rounds of

        d_{t+1}(v) = min(d_t(v), min over in-edges (u,v) of d_t(u) + cost)

    from the in-graph seeds at 0. The reached frame is broadcast into
    the edge join while ``m`` bounds it: reached <= nodes <= edge rows
    under the symmetric-edges contract (every node appears as a src).
    On a raw directed list dst-only nodes enter the state too and it
    can approach ~2x edge rows — still far under Spark's 8 GB
    broadcast cap at the guard default.
    """
    in_graph = ew.select(F.col("src").alias("node")).distinct()
    dist = (
        seeds.select("node")
        .distinct()
        .join(in_graph, "node", "left_semi")
        .select("node", F.lit(0).cast("long").alias(col))
        .localCheckpoint(eager=True)
    )

    def step(dist: DataFrame, _) -> DataFrame:
        db = _bcast_state(dist, m)
        relaxed = ew.join(db, ew["src"] == db["node"]).select(
            F.col("dst").alias("node"), (F.col(col) + cost).cast("long").alias("_d")
        )
        best = relaxed.groupBy("node").agg(F.min("_d").alias("_d"))
        return dist.join(best, "node", "full_outer").select(
            "node",
            F.least(
                F.coalesce(F.col(col), F.col("_d")),
                F.coalesce(F.col("_d"), F.col(col)),
            ).cast("long").alias(col),
        )

    return fixed_point(dist, step, rounds)


HITS_SCALE = 10**6


def hits(
    edges: DataFrame, iterations: int = 5, scale: int = HITS_SCALE
) -> DataFrame:
    """Kleinberg's HITS over a directed edge list ``(src, dst)``: hub
    score = how well a node points at strong authorities, authority
    score = how strongly it is pointed at by good hubs — on a bipartite
    purchase graph (customer -> supplier) this is the natural
    "discerning buyers / endorsed sellers" dual that PageRank's single
    score conflates.

    Integer fixed-point with MAX-norm renormalization instead of the
    textbook L2 (no square roots — every quantity stays integral, so
    the recurrence is aggregation-order-immune and oracle-replayable;
    max-norm and L2-norm power iterations converge to the same
    direction):

        h_0(u)     = scale
        a_{t+1}(v) = sum over (u, v) of h_t(u),  renormed to max = scale
        h_{t+1}(u) = sum over (u, v) of a_{t+1}(v),  renormed likewise

    All values are nonnegative, so truncating and floor division agree
    (Spark ``div`` == DuckDB ``//`` here, no pmod dance needed).

    First round. Since ``h_0`` is the constant ``scale``, ``a_1(v)`` is
    ``scale`` times v's in-degree, renormed by the largest in-degree.
    The edge checkpoint carries each edge's ``_indeg`` (a window over
    ``dst``, computed in the fill) and observes its max, so ``h_1`` is
    one ``src`` aggregate of the per-edge ``a_1(dst)``: the edges alone
    determine the first round, with no score frame, no broadcast and no
    join. ``a_1`` stays a lazy projection of the edges (one row per
    edge, folded per node by the output's max) that only
    ``iterations=1`` reads.

    Scale shape per later half-step: an equi-join of the checkpointed
    edge list against an O(nodes) score frame (dst for authorities, src
    for hubs) + a map-side-combined hash aggregate; each renorm maximum
    is observed by the job that fills the score checkpoint, NOT a
    partition-less window — the plan stays sweep-clean. ``h`` holds
    every src and ``a`` every dst, so the output is their union grouped
    by node. Returns ``(node, hub_fp, hub, auth_fp, auth)`` with zeros
    for roles a node never plays (a pure source has no authority; a
    pure sink no hubness). Edges with a NULL endpoint are dropped.
    """
    if iterations < 1:
        raise ValueError(
            "hits: iterations must be >= 1 (authority scores only exist "
            "after the first propagation step)"
        )
    # hub/authority state is O(src nodes)/O(dst nodes) <= edge rows, so
    # m bounds every renorm round's broadcast decision (_bcast_state)
    ew, obs = _edges_checkpoint(
        edges.dropna(subset=["src", "dst"]).withColumn(
            "_indeg", F.count(F.lit(1)).over(Window.partitionBy("dst"))
        ),
        mx=F.max("_indeg"),
    )
    m, mx = obs["m"], obs["mx"]
    if not mx:
        raise ValueError("hits: score mass vanished (empty graph?)")

    def _renorm(df: DataFrame, col: str) -> DataFrame:
        # Checkpoint the AGGREGATE and observe its max in the same
        # fill job: the edge-score join lineage is scanned once per
        # renorm, and the max costs no job of its own. The division
        # rides lazily as a projection over the checkpointed frame.
        df, obs = _observed_checkpoint(df, mx=F.max(col))
        mx = obs["mx"]
        if not mx:
            raise ValueError("hits: score mass vanished (empty graph?)")
        return df.select(
            "node", F.expr(f"({col} * {scale}) div {mx}").alias(col)
        )

    def _step(score: DataFrame, via: str, to: str, col: str) -> DataFrame:
        # one half-step: sum the ``via`` endpoints' scores onto ``to``
        sb = _bcast_state(score, m)
        return _renorm(
            ew.join(sb, ew[via] == sb["node"])
            .groupBy(F.col(to).alias("node2"))
            .agg(F.sum(score.columns[1]).alias(col))
            .select(F.col("node2").alias("node"), col),
            col,
        )

    # a_1(v) = scale * indeg(v), renormed by the max in-degree's
    a1 = F.expr(f"(_indeg * {scale} * {scale}) div {mx * scale}")
    h = _renorm(
        ew.groupBy(F.col("src").alias("node")).agg(F.sum(a1).alias("h")), "h"
    )
    # a_1 per edge: only iterations=1 reads it, through the output's
    # per-node max, which folds the repeats with no shuffle of its own
    a = ew.select(F.col("dst").alias("node"), a1.alias("a"))
    for _ in range(iterations - 1):
        a = _step(h, "src", "dst", "a")
        h = _step(a, "dst", "src", "h")
    zero = F.lit(0).cast("long")
    out = (
        h.select("node", F.col("h").alias("hub_fp"), zero.alias("auth_fp"))
        .unionAll(a.select("node", zero.alias("hub_fp"), F.col("a").alias("auth_fp")))
        .groupBy("node")
        .agg(
            F.max("hub_fp").cast("long").alias("hub_fp"),
            F.max("auth_fp").cast("long").alias("auth_fp"),
        )
    )
    return out.select(
        "node",
        "hub_fp",
        (F.col("hub_fp") / F.lit(float(scale))).alias("hub"),
        "auth_fp",
        (F.col("auth_fp") / F.lit(float(scale))).alias("auth"),
    )


def degree_histogram(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Degree distribution of an edge list — the first graph-forensics
    read (hub detection, power-law sanity, join-skew prediction for
    any downstream per-node iteration: the histogram's tail IS the
    skew the salting/AQE knobs will face): distinct-neighbor degree
    per node, collapsed to ``(degree, n_nodes)`` rows.

    Exact int64 end to end — a distinct on (src, dst) dedupes
    multi-edges (degree counts NEIGHBORS, not edge multiplicity), then
    two hash collapses: node-domain, then degree-domain. This is the
    OUT-degree over ``src_col``: an UNDIRECTED graph must be passed
    pre-symmetrized (both directions per edge — the _coorder_edges
    form every iterative gate here uses) or dst-only nodes vanish and
    degrees undercount; for a directed graph, swap the column
    arguments for in-degree. Isolated / sink nodes don't appear (an
    out-edge list cannot carry them; join the node dimension upstream
    if zero-degree rows matter).

    Scale shape: the distinct is the only edge-scale stage; everything
    after is node- then degree-domain sized. Returns ``(degree,
    n_nodes)`` ascending by degree.
    """
    deg = (
        edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
        .distinct()
        .groupBy("_s")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("degree")
    )


def adamic_adar(
    edges: DataFrame,
    max_degree: int | None = None,
    scale: int = 10**9,
) -> DataFrame:
    """Adamic-Adar link-prediction scores (Adamic & Adar 2003,
    "Friends and neighbors on the Web") over an UNDIRECTED canonical
    edge list ``(u bigint, v bigint)`` with ``u < v``, deduplicated
    (the triangle_counts caller contract): for every NON-edge pair
    with at least one common neighbor,

        score(x, y) = sum over common neighbors w of 1 / ln(deg(w))

    — hubs count for less, which is why AA beats raw common-neighbor
    counts. The recommendation/similar-entities read over the same
    co-occurrence graphs the PageRank/LPA gates build.

    Cross-engine determinism (the column_entropy ln discipline): each
    neighbor's contribution ``1 / ln(deg(w))`` is quantized to
    1/``scale`` units in int64 and summed order-free per pair; the
    published score is ONE nudged 6dp rounding of that exact sum.
    Degree-1 common neighbors are excluded (ln(1) = 0 — the standard
    AA domain restriction; such a w cannot be a common neighbor of a
    non-edge pair anyway).

    Scale shape: candidate pairs enumerate through the shared
    neighbor — one adjacency self-join on w with the lower-id side
    first, sized sum_w deg(w)^2 / 2 (the wedge bound, NOT docs^2). A
    hub inflates that quadratically while contributing ~nothing to
    the score (1/ln grows ever flatter), so ``max_degree`` caps
    participating CENTERS w — the principled skew valve, mirrored in
    the oracle as a HAVING on the degree table; at deployment scale
    set it so sum over kept w of deg(w)^2 fits the shuffle budget.
    Known edges drop via one anti-join against the edge list. Returns
    ``(u, v, n_common, score)`` for scored non-edge pairs, u < v,
    ordered by (u, v).
    """
    if max_degree is not None and (
        not isinstance(max_degree, int) or max_degree < 2
    ):
        raise ValueError(
            f"adamic_adar: max_degree must be >= 2 (got {max_degree!r})"
        )
    # checkpoint the edge list ONCE (the pagerank/triangles discipline):
    # it feeds the degree table, both wedge sides, and the final
    # anti-join — without the lineage cut the caller's edge-building
    # join (e.g. the co-order self-join) re-executes per consumer
    # (28 scans observed in the un-checkpointed plan)
    edges = edges.localCheckpoint(eager=True)
    adj = edges.select(F.col("u").alias("w"), F.col("v").alias("x")).unionAll(
        edges.select(F.col("v").alias("w"), F.col("u").alias("x"))
    )
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("d"))
    centers = deg.filter(F.col("d") >= 2)
    if max_degree is not None:
        centers = centers.filter(F.col("d") <= max_degree)
    units = F.round(
        F.lit(float(scale)) / F.log(F.col("d").cast("double"))
    ).cast("long")
    ctr = centers.select("w", units.alias("_u"))
    a1 = adj.join(ctr, "w").select("w", F.col("x").alias("u"), "_u")
    a2 = adj.select(F.col("w").alias("w2"), F.col("x").alias("v"))
    pairs = a1.join(
        a2, (a1["w"] == a2["w2"]) & (a1["u"] < a2["v"])
    ).select("u", "v", "_u")
    scored = pairs.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("_u").alias("_units"),
    )
    non_edges = scored.join(edges, ["u", "v"], "left_anti")
    return non_edges.select(
        "u",
        "v",
        "n_common",
        F.round(
            F.col("_units") / F.lit(float(scale)) + F.lit(5e-10), 6
        ).alias("score"),
    ).orderBy("u", "v")


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a node partition over a directed edge list
    ``(src bigint, dst bigint)`` that carries BOTH directions of every
    undirected relationship (the :func:`pagerank` /
    :func:`label_propagation` contract) — the single quality number a
    community detection run (LPA, components, a clustering) is judged
    by before its output is trusted for sampling or dedup decisions.
    ``labels`` is ``(node bigint, label bigint)`` covering every node
    that appears in ``edges`` (e.g. :func:`label_propagation` output).

    With ``m2`` = len(edges) = sum of degrees = 2m, per community c:
    ``e_c`` = directed intra-community edges (counts each undirected
    edge twice) and ``D_c`` = sum of member degrees. Then

        Q = sum_c e_c / m2  -  sum_c (D_c / m2)^2
          = (m2 * sum_c e_c - sum_c D_c^2) / m2^2

    Every term before the final division is exact int64 — the LPA /
    PageRank integer-determinism discipline — so the per-community
    contributions and Q hash bit-identically cross-engine. Envelope:
    ``m2 <= 3_037_000_499`` (so ``m2**2`` and every ``D_c**2`` fit
    int64); past it the caller owns a hi/lo split, and this raises
    loudly rather than wrap (the correlation-matrix lesson).

    Returns one row per community ``(label, n_nodes, intra2, deg_sum,
    dq_num)`` plus the exact global pieces on every row (``m2``) —
    ``dq_num = m2 * intra2 - deg_sum**2``; the community's modularity
    contribution is ``dq_num / m2^2`` and Q is their sum over rows,
    left to the caller/gate so this frame stays all-integer.

    Scale shape: ONE scalar count for m2; degrees via a src-keyed hash
    aggregate (both directions present, so out-degree = degree); two
    node-keyed equi-joins of the edge list against the O(nodes) label
    frame (same key as the LPA iteration joins — at deployment the
    edge list arrives hash-partitioned on src and both joins reuse the
    exchange); label-keyed hash aggregates with map-side combine.
    Nothing edge-sized is collected or re-shuffled more than the two
    label joins.
    """
    m2 = edges.count()
    if m2 > 3_037_000_499:
        raise ValueError(
            f"modularity: {m2} directed edges overflow the int64 m2^2 "
            "envelope (3_037_000_499); split D_c^2 hi/lo before scaling past it"
        )
    lab = labels.select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
    deg_by_label = (
        deg.join(lab, deg["src"] == lab["node"])
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("deg_sum"),
        )
    )
    ls = lab.select(F.col("node").alias("_s"), F.col("label").alias("_sl"))
    ld = lab.select(F.col("node").alias("_d"), F.col("label").alias("_dl"))
    intra = (
        edges.join(ls, edges["src"] == ls["_s"])
        .join(ld, edges["dst"] == ld["_d"])
        .filter(F.col("_sl") == F.col("_dl"))
        .groupBy(F.col("_sl").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra2"))
    )
    return deg_by_label.join(intra, "label", "left").select(
        "label",
        "n_nodes",
        F.coalesce(F.col("intra2"), F.lit(0)).cast("long").alias("intra2"),
        "deg_sum",
        (
            F.lit(m2) * F.coalesce(F.col("intra2"), F.lit(0))
            - F.col("deg_sum") * F.col("deg_sum")
        ).cast("long").alias("dq_num"),
        F.lit(m2).cast("long").alias("m2"),
    )


def shortest_paths(
    edges: DataFrame, seeds: DataFrame, rounds: int = 6
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths — bounded Bellman-Ford over
    a directed edge list ``(src bigint, dst bigint, w bigint)`` with
    non-negative integer weights: the weighted companion to
    :func:`bfs_hops` (hop counts answer "how many steps"; this answers
    "how close", with edge weight as the closeness cost — e.g. the
    inverse co-order support, so strongly co-purchased parts sit
    nearer). Same module contracts: symmetric directed edges, seeds
    outside the graph ignored on both engines.

    Bounded rounds, not a convergence loop (the PageRank / LPA / k-core
    discipline): round t holds the cheapest path using <= t edges,

        d_0(v)     = 0 if v in seeds
        d_{t+1}(v) = min(d_t(v), min over in-edges (u,v) of d_t(u) + w)

    so ``rounds`` caps path LENGTH exactly like ``max_hops``, and with
    non-negative integer weights the recurrence is pure int64 min/plus
    arithmetic — aggregation-order-immune, replayable by a chained-CTE
    oracle, no tie-break rule needed (min over equal ints is itself).
    NULL or negative weights are rejected loudly (Bellman-Ford would
    need the full |V|-1 rounds plus a negative-cycle check — out of
    contract); they are counted by the job that fills the edge
    checkpoint, at no job of their own.

    Scale shape per round: one equi-join of the (repartitioned,
    checkpointed-once) edge list against the O(reached) distance frame
    on the src key, one min hash aggregate with map-side combine keyed
    by dst, one full-outer min-merge with the previous frame; state
    stays O(reached nodes). Weight-domain bound: max dist <= rounds *
    max(w), so int64 is safe for any real weight scale. Runs the same
    core as :func:`bfs_hops`.

    Returns ``(node, dist)`` for reached nodes only (seeds at 0).
    """
    w = F.col("w")
    ew, obs = _edges_checkpoint(edges, bad=F.count_if(w.isNull() | (w < 0)))
    if obs["bad"]:
        raise ValueError(
            f"shortest_paths: {obs['bad']} edge weights are NULL or negative; "
            "the bounded-round relaxation needs non-negative costs"
        )
    return _relax(ew, obs["m"], seeds, rounds, w, "dist")
