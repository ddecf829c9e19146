"""Graph analytics over the emitted KG: entity importance.

Every operator here that reads an edge list reads it through
``simple_graph``, the one prologue of the family: it takes the (src, dst) pairs in both
directions (or as given, for directed PageRank), drops self-loops,
collapses parallel edges, and cuts lineage once. Each operator then
runs its own fixed-round ``for`` loop over that table.

PageRank with a FIXED-ITERATION, engine-replayable recipe (the same
determinism policy as the trained IVF codebook): no RNG, no
convergence test, ranks rounded per iteration — any SQL engine that
replays the recipe reproduces the ranks bit-for-bit, which is what
lets the driver's DuckDB oracle gate the whole computation.

Scale design:
  - the edge table carries each source's out-degree (simple_graph's
    ``deg``) and is checkpointed once; each undirected iteration is
    then one join + one groupBy (two shuffles) over (node, rank)
    pairs — the rank table is |V| rows, edges |E|; both partition on
    node id.
  - undirected input is symmetrized (both directions), so every node
    has an in-edge, there are no dangling nodes, and the
    mass-conservation term is just the teleport factor; directed mode
    (``symmetrize=False``) keeps the KG's edge direction, left-joins
    the node table (a node may have no in-edge) and redistributes
    dangling mass via a 1-row broadcast aggregate per round — no
    extra |V|-sized shuffle.
  - O(n_iters) rounds, each ending in a lazy ``localCheckpoint``:
    without the cut every round's plan re-derives all earlier rounds
    (the same iterative-operator discipline as connected components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def simple_graph(edges: DataFrame, directed: bool, *keep: str) -> DataFrame:
    """(s, t, *keep, deg): the simple graph of ``edges``' (src, dst)
    pairs, ``deg`` being the out-degree of ``s`` — the prologue of every
    graph operator, lineage-cut once.

    Undirected (``directed=False``) adds both directions of every
    pair. Either way self-loops are dropped and parallel edges
    collapse to one row, which keeps the minimum of each ``keep``
    column (the edge cost of ``sssp_bounded``). One exchange, on
    ``s``, serves both the dedup and the degree window; it puts a
    hub's adjacency list in one task, which is linear in its degree.

    The cut is lazy: under adaptive execution it runs its shuffle at
    once and leaves only the final stage to the first action that
    reads the table, one job fewer than an eager cut."""
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("t"), *keep)
    if not directed:
        e = e.unionByName(
            edges.select(F.col("dst").alias("s"), F.col("src").alias("t"), *keep)
        )
    e = e.filter(F.col("s") != F.col("t")).repartition("s")
    if keep:
        e = e.groupBy("s", "t").agg(*[F.min(c).alias(c) for c in keep])
    else:
        e = e.dropDuplicates()
    deg = F.count("*").over(Window.partitionBy("s"))
    return e.withColumn("deg", deg).localCheckpoint(eager=False)


def pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    symmetrize: bool = True,
) -> DataFrame:
    """(node, rank) after ``n_iters`` power iterations.

    ``symmetrize=True`` (default) treats the input as undirected
    (both directions added) — right for co-occurrence graphs, and
    there are no dangling nodes by construction. ``symmetrize=False``
    keeps edge direction — right for a KG's directed relations — and
    redistributes DANGLING mass: a node with no out-edges leaks its
    rank, so each iteration adds d·(Σ ranks of dangling nodes)/N to
    every node (the standard correction; without it total mass decays
    and ranks of sink-heavy graphs collapse toward the teleport
    term). The dangling sum is a 1-row broadcast aggregate per round,
    rounded to 6 dp so both engines agree.

    rank_0 = round(1/N, 6); rank_{k+1}(v) = round((1−d)/N +
    d · (Σ_{u→v} rank_k(u)/outdeg(u) [+ dang_k/N]), 6). Rounding per
    iteration is what makes the result engine-reproducible (absorbs
    summation-order noise); the recipe conserves mass up to rounding
    in both modes. The out-degree comes with the edge table, so no
    round joins a degree table; it stays a divisor (not a stored
    reciprocal) because the oracle divides, and a product rounds
    differently."""
    e = simple_graph(edges, directed=not symmetrize)
    if symmetrize:
        nodes = e.select(F.col("s").alias("node")).distinct()
    else:
        nodes = (
            e.select(F.col("s").alias("node"))
            .union(e.select(F.col("t").alias("node")))
            .distinct()
        )
    n = nodes.count()  # scalar parameter of the recipe (N)
    if n == 0:  # no edge survives simple_graph: nothing to rank
        return nodes.select("node", F.lit(None).cast("double").alias("rank"))
    dangling = nodes.join(
        e.select(F.col("s").alias("node")), "node", "left_anti"
    )
    ranks = nodes.select("node", F.round(F.lit(1.0 / n), 6).alias("rank"))
    for _ in range(n_iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "s"), "s")
            .select(
                F.col("t").alias("node"),
                (F.col("rank") / F.col("deg")).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        if symmetrize:
            # every node has an in-edge, so contrib covers all nodes
            nxt = contrib.select(
                "node",
                F.round(
                    F.lit((1.0 - damping) / n) + F.lit(damping) * F.col("_in"), 6
                ).alias("rank"),
            )
        else:
            dang = dangling.join(ranks, "node").agg(
                F.round(F.coalesce(F.sum("rank"), F.lit(0.0)), 6).alias("_dang")
            )
            new_rank = F.round(
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (
                    F.coalesce(F.col("_in"), F.lit(0.0))
                    + F.col("_dang") / F.lit(float(n))
                ),
                6,
            )
            nxt = (
                nodes.join(contrib, "node", "left")
                .crossJoin(F.broadcast(dang))
                .select("node", new_rank.alias("rank"))
            )
        ranks = nxt.localCheckpoint(eager=False)
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(entity, n_triangles): how many triangles each node of the
    undirected graph participates in — the KG's local-clustering
    signal (a mention pair that closes many triangles is a cohesive
    entity cluster; a bridge node closes none).

    Scale design — the Suri–Vassilvitskii degree-orientation trick:
    every undirected edge is oriented from its LOWER-degree endpoint
    to its higher-degree endpoint (ties broken lexicographically, so
    the orientation is total and engine-reproducible). Wedges are then
    enumerated only at each edge's low-degree end, which bounds the
    per-node join fan-out by O(sqrt(|E|)) instead of by the max degree
    — a celebrity node with 10^8 mentions contributes ZERO wedge pairs
    from its own adjacency list. Without this, the wedge self-join on
    a skewed co-occurrence graph is quadratic in the hub degree; with
    it, the whole count is 2 self-joins + 1 explode-groupBy, all
    partitioned on node ids.

    Input edges may be directed or undirected; the simple graph
    symmetrizes and de-duplicates them, so parallel edges and
    direction don't inflate counts. The oriented edge set is
    lineage-cut before the self-join (self-joins recompute their
    shared subtree per side).
    """
    e = simple_graph(edges, directed=False)
    # orient: keep (s,t) iff (deg_s, s) < (deg_t, t); the graph is
    # symmetric, so t's degree is its in-degree
    dt = F.count("*").over(Window.partitionBy("t"))
    ranked = (
        e.withColumn("_dt", dt)
        .filter(
            (F.col("deg") < F.col("_dt"))
            | ((F.col("deg") == F.col("_dt")) & (F.col("s") < F.col("t")))
        )
        .select(F.col("s").alias("a"), F.col("t").alias("b"))
    )
    ranked = ranked.localCheckpoint(eager=False)
    # wedge at the low end: (a→b), (a→c), b<c; closes iff (b→c) or
    # (c→b) is an oriented edge — orientation makes exactly ONE of
    # the two orderings present when the closing edge exists, and the
    # b<c wedge guard stops double-enumeration, so each triangle is
    # found exactly once.
    w1 = ranked.select(F.col("a"), F.col("b").alias("x"))
    w2 = ranked.select(F.col("a"), F.col("b").alias("y"))
    wedges = w1.join(w2, "a").filter(F.col("x") < F.col("y"))
    # unionByName, not union: the reversed projection's column ORDER
    # is (y, x), and positional union would silently re-add the
    # forward orientation instead of the reverse one
    closed = wedges.join(
        ranked.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
            ranked.select(F.col("a").alias("y"), F.col("b").alias("x"))
        ),
        ["x", "y"],
    )
    return (
        closed.select(
            F.explode(F.array("a", "x", "y")).alias("entity")
        )
        .groupBy("entity")
        .agg(F.count("*").alias("n_triangles"))
    )


def khop_neighbors(edges: DataFrame, seeds: DataFrame, k: int = 2) -> DataFrame:
    """(seed, entity, dist): every node within ``k`` undirected hops
    of each seed, at its MINIMAL distance — the neighborhood/
    property-path read query over the constructed KG (SPARQL's
    ``e (:rel)\\{1,k\\} ?x`` shape re-expressed as iterative joins).

    BFS by frontier expansion: round d joins the previous frontier
    against the edge table and anti-joins everything already visited,
    so each (seed, node) pair is emitted exactly once at its first
    (minimal) distance — the anti-join is what keeps the frontier
    from re-expanding the whole visited set (the difference between
    O(k·|E|) and exponential blowup on cyclic graphs). Rounds are
    lineage-cut like every iterative operator here; all joins key on
    node ids, seeds ride along as a payload column, so skew follows
    the graph's degree distribution (hub nodes → the same salting
    story as the co-occurrence builder)."""
    scol = seeds.columns[0]
    sym = simple_graph(edges, directed=False)
    frontier = seeds.select(
        F.col(scol).alias("seed"),
        F.col(scol).alias("node"),
        F.lit(0).alias("dist"),
    )
    visited = frontier
    for d in range(1, k + 1):
        nxt = (
            frontier.join(sym, frontier.node == sym.s)
            .select("seed", F.col("t").alias("node"))
            .dropDuplicates()
            .join(visited.select("seed", "node"), ["seed", "node"],
                  "left_anti")
            .withColumn("dist", F.lit(d))
        )
        nxt = nxt.localCheckpoint(eager=False)
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.filter(F.col("dist") > 0)


def pmi_edge_weights(mentions: DataFrame, n_events: int) -> DataFrame:
    """(src, dst, n_cooccur, pmi): pointwise mutual information over
    the co-mention events of (conv_id, turn_idx, entity) rows — the KG
    edge-weighting step that separates informative entity pairs from
    pairs that co-occur only because both are frequent (raw
    co-occurrence counts rank hub pairs first; PMI normalizes by
    marginal frequency).

    pmi(a,b) = round(ln(c(a,b)·N / (c(a)·c(b))), 6) with c(x) =
    number of distinct (conv_id, turn_idx) events mentioning x and
    N = ``n_events`` — a RECIPE PARAMETER (the caller counts total
    events once, the same scalar-parameter policy as PageRank's N),
    so the computation stays a pure dataflow any SQL engine replays
    bit-for-bit.

    Scale design: marginals are one groupBy over the mention table;
    the pair table joins each endpoint's marginal on the entity id —
    entity vocabularies are large at web scale, so both joins stay
    keyed shuffles (no forced broadcast; AQE broadcasts small
    gazetteers at runtime). All counts are DISTINCT events via a
    dropDuplicates on (event, entity) BEFORE counting, so repeated
    mentions inside one turn don't inflate the statistics."""
    m = mentions.select(
        "conv_id", "turn_idx", F.col("entity").alias("e")
    ).dropDuplicates()
    marg = m.groupBy("e").agg(F.count("*").alias("_c"))
    a, b = m.alias("a"), m.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("a.turn_idx") == F.col("b.turn_idx"))
            & (F.col("a.e") < F.col("b.e")),
        )
        .groupBy(F.col("a.e").alias("src"), F.col("b.e").alias("dst"))
        .agg(F.count("*").alias("n_cooccur"))
    )
    return (
        pairs.join(marg.withColumnRenamed("e", "src"), "src")
        .withColumnRenamed("_c", "_ca")
        .join(marg.withColumnRenamed("e", "dst"), "dst")
        .withColumnRenamed("_c", "_cb")
        .select(
            "src", "dst", "n_cooccur",
            F.round(
                F.log(
                    F.col("n_cooccur") * F.lit(float(n_events))
                    / (F.col("_ca") * F.col("_cb"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def label_propagation(edges: DataFrame, n_iters: int = 3) -> DataFrame:
    """(node, label) after ``n_iters`` rounds of SYNCHRONOUS label
    propagation — community detection over the entity graph, with the
    fixed-iteration deterministic recipe this repo uses for every
    iterative operator (PageRank, IVF training): no RNG, no
    convergence test, total tie order, so a SQL engine can replay
    every round and the driver can hash-gate the result.

    label_0(v) = v; round k+1 assigns each node the label carried by
    the MOST of its neighbors at round k, ties broken by the SMALLEST
    label (the max-count/min-label rule — without a total tie order,
    synchronous LPA is nondeterministic and ungateable). Isolated
    nodes keep their own label. Unlike connected components this
    converges to dense clusters, not reachability classes: a bridge
    edge between two dense communities cannot outvote either side.

    Scale design: each round is one join (edges × labels, keyed on
    the node id) + one count groupBy + one argmin-by-(count desc,
    label asc) via max_by over an orderable struct — two shuffles per
    round over |E| and |V|-sized tables, same as a PageRank round.
    Synchronous rounds (not the async single-pass variant) are what
    make the result partitioning-independent: every round reads ONLY
    the previous round's labels, so executor scheduling can't change
    the outcome. Rounds are lineage-cut."""
    sym = simple_graph(edges, directed=False)
    nodes = sym.select(F.col("s").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(n_iters):
        votes = (
            sym.join(labels.withColumnRenamed("node", "t"), "t")
            .groupBy(F.col("s").alias("node"), "label")
            .agg(F.count("*").alias("_n"))
        )
        # argmax by (count desc, label asc) without a window: min_by
        # on the orderable struct(-count, label) — one aggregate, no
        # per-node sort
        labels = votes.groupBy("node").agg(
            F.min_by(
                "label", F.struct((-F.col("_n")).alias("a"), F.col("label").alias("b"))
            ).alias("label")
        )
        labels = labels.localCheckpoint(eager=False)
    return labels


def adamic_adar(edges: DataFrame, max_degree: "int | None" = 64) -> DataFrame:
    """(u, v, n_common, aa_score): Adamic–Adar link-prediction scores
    for NON-adjacent entity pairs at distance 2 — "which entities
    should probably be linked" over the constructed KG.

    score(u, v) = Σ_{z ∈ Γ(u) ∩ Γ(v)} 1 / ln(deg z). Wedges are
    generated at the common neighbor z (one self-join on the
    symmetrized edge list keyed on z), then adjacent pairs are
    anti-joined out.

    Determinism: each z's contribution is rounded to 9 decimals and
    summed as DECIMAL, so the per-pair total is exact integer
    arithmetic underneath — partition/summation order cannot
    move the score (the same policy as the decimal revenue sums).

    Scale: a hub with degree d emits O(d²) wedges; ``max_degree``
    drops hub middles (their contribution ≈ 1/ln(d) → the SMALLEST
    terms, so this is the standard truncation, not a bias toward big
    scores). The oracle replays the cap, so the approximation is
    itself gated. deg(z) ≥ 2 wherever a wedge exists, so ln > 0."""
    sym = simple_graph(edges, directed=False)
    # deg >= 2: a degree-1 node can never be a wedge center, and keeping
    # it would let ANSI mode raise DIVIDE_BY_ZERO on 1/ln(1) whenever
    # the planner materializes the contribution BEFORE the wedge join
    # (plan-shape dependent — e.g. while building a broadcast side)
    mid = sym.filter(F.col("deg") >= 2)
    if max_degree is not None:
        mid = mid.filter(F.col("deg") <= max_degree)
    contrib = F.round(F.lit(1.0) / F.log(F.col("deg").cast("double")), 9).cast(
        "decimal(18,9)"
    )
    z = mid.select(
        F.col("s").alias("z"), F.col("t").alias("n"), contrib.alias("w")
    )
    a, b = z.alias("a"), z.alias("b")
    pairs = a.join(
        b,
        (F.col("a.z") == F.col("b.z")) & (F.col("a.n") < F.col("b.n")),
    ).select(
        F.col("a.n").alias("u"), F.col("b.n").alias("v"), F.col("a.w").alias("w")
    )
    scored = pairs.groupBy("u", "v").agg(
        F.count("*").alias("n_common"), F.sum("w").alias("aa_score")
    )
    adj = sym.select(F.col("s").alias("u"), F.col("t").alias("v"))
    return scored.join(adj, ["u", "v"], "left_anti")


def k_core(edges: DataFrame, k: int = 2, n_rounds: int = 6) -> DataFrame:
    """Fixed-round k-core peeling: ``n_rounds`` iterations of
    "drop every node with (undirected) degree < k, drop its edges".

    Fixed rounds — not a convergence test — for the same reason as
    ``pagerank``: the recipe is deterministic and an SQL engine
    replays it round-for-round, so the driver hash-gates the whole
    iterative computation. A converged k-core needs rounds ≥ the
    longest peel chain (a path graph peels two ends per round);
    callers size ``n_rounds`` to their graph or re-run until stable.

    Degrees are simple-graph degrees: a parallel edge or a reversed
    duplicate counts its neighbour once, and a self-loop counts
    nothing.

    Output: (entity, degree) for nodes surviving all rounds, with
    their degree in the peeled graph.

    Scale: each round is one groupBy (degree) + two semi-joins
    (filter both endpoints), all keyed on node id — no all-pairs
    anything; per-round lineage cuts keep the plan flat, the same
    iterative-operator discipline as connected components."""
    und = simple_graph(edges, directed=False)
    for _ in range(n_rounds):
        keep = (
            und.groupBy("s")
            .agg(F.count("*").alias("_d"))
            .filter(F.col("_d") >= k)
            .select(F.col("s").alias("_n"))
        )
        und = und.join(
            keep.withColumnRenamed("_n", "s"), "s", "left_semi"
        ).join(keep.withColumnRenamed("_n", "t"), "t", "left_semi")
        # eager, unlike the other loops: each round reads ``und``
        # twice (degrees, then the semi-joins), and a lazy cut here
        # took entity_kcore at sf0.01 (4 vCPUs) from 59 to 71 stages
        # and from 1.17 to 1.81 s
        und = und.localCheckpoint()
    return und.groupBy(F.col("s").alias("entity")).agg(
        F.count("*").alias("degree")
    )


def sssp_bounded(edges: DataFrame, seeds: DataFrame, k: int = 3) -> DataFrame:
    """(seed, node, dist): minimal WEIGHTED path cost from each seed
    to every node reachable within ≤ k hops over the undirected
    (src, dst, w) edges — k rounds of Bellman-Ford relaxation as
    DataFrame joins (the distance-table formulation; khop_neighbors
    is the unweighted hop-count special case, this one admits
    non-negative integer edge costs, e.g. inverse association
    strength on the KG). Parallel edges keep their minimum cost.

    Each round is one join (frontier-less: the WHOLE current distance
    table relaxes — with k small that is cheaper than tracking the
    changed set, and the min-combine dedups) + one (seed, node)
    groupBy taking the min cost; both shuffles key on node ids, so
    hub skew follows the degree distribution like every graph op
    here. Integer weights keep the min deterministic, which is what
    lets the oracle unroll the same k rounds in SQL. Rounds are
    lineage-cut (iterative-operator discipline)."""
    scol = seeds.columns[0]
    e = simple_graph(
        edges.withColumn("w", F.col("w").cast("long")), False, "w"
    )
    dist = seeds.select(
        F.col(scol).alias("seed"),
        F.col(scol).alias("node"),
        F.lit(0).cast("long").alias("dist"),
    )
    for _ in range(k):
        relax = (
            dist.join(e, dist.node == e.s)
            .select("seed", F.col("t").alias("node"),
                    (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("seed", "node")
            .agg(F.min("dist").alias("dist"))
        )
        dist = dist.localCheckpoint(eager=False)
    return dist


def hyperball(edges: DataFrame, k: int = 2, b: int = 8) -> DataFrame:
    """(node, m, nonempty, s_scaled, est): HyperBall (Boldi & Vigna
    2013) — the neighborhood function N(v,k) = |{u : dist(v,u) ≤ k}|
    of the undirected graph estimated for EVERY node simultaneously by
    propagating one HyperLogLog counter per node along edges for k
    rounds with max-merge. Exact all-pairs k-hop is quadratic output
    at web scale; HyperBall is the algorithm behind the four-degrees-
    of-separation measurements, and its register state is O(|V|·2^b)
    total regardless of how dense the balls get.

    Registers live SPARSE as (node, bucket, r) rows (only touched
    buckets exist — the array-update locality of the original trades
    for Spark's shuffle machinery): init is each node's own
    (bucket, rank) from the cross-engine md5 hash family, each round
    joins registers to predecessors and max-merges per (node,
    bucket) — one join + one groupBy, both keyed on node ids,
    lineage-cut like every iterative operator here. The estimate
    reuses hll_distinct's exact-integer harmonic arithmetic
    (operators/sketches.py:registers_estimate), so the whole
    k-round propagation is gateable by a SQL oracle that computes
    the exact k-ball per node and sketches it the same way —
    register max-merge over a ball equals the sketch OF the ball."""
    from json_ld_spark.operators.sketches import (
        hll_bucket_rank,
        registers_estimate,
    )

    e = simple_graph(edges, directed=False)
    # symmetric, so every node is some edge's source
    nodes = e.select(F.col("s").alias("group")).dropDuplicates()
    bucket, rank = hll_bucket_rank("group", b)
    regs = nodes.select("group", bucket.alias("bucket"), rank.alias("r"))
    regs = regs.localCheckpoint()
    for _ in range(k):
        pulled = (
            regs.join(e, regs.group == e.t)
            .select(F.col("s").alias("group"), "bucket", "r")
        )
        regs = (
            regs.unionByName(pulled)
            .groupBy("group", "bucket")
            .agg(F.max("r").alias("r"))
        )
        regs = regs.localCheckpoint(eager=False)
    return registers_estimate(regs, b, group_col="node")
