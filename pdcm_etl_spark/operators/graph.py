"""Graph closure operators.

The reference holds the NCIt ontology DAG in driver-side networkx
(etl/jobs/util/graph_builder.py:33-124) and computes the recursive
model-relationship tree in Postgres (scripts/updates.sql:6-34 via
pdcm_api.get_parents_tree). Both are transitive-closure problems; at
100 TB neither a driver graph nor a recursive-SQL UPDATE survives, so the
engine's primitive is an **iterative DataFrame self-join to fixpoint**:
each round doubles nothing — it extends every frontier path by one edge,
cut with an eager ``localCheckpoint`` so lineage stays flat.

Depth is bounded by the longest path (ontology DAGs: ~20; the synthetic
test hierarchy: ~4), so the loop is cheap; every round is one shuffle on
the join key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pdcm_etl_spark.operators.sharing import shared


def ancestor_closure(
    edges: DataFrame,
    node_col: str = "node",
    parent_col: str = "parent",
    max_iterations: int = 50,
    stop_at=0,
) -> DataFrame:
    """Transitive ancestors of every node.

    ``edges``: one row per (node, parent). Returns (node, ancestor, depth)
    with depth = 1 for the direct parent, walking up until the parent of the
    current ancestor is ``stop_at`` (exclusive — ``stop_at`` itself appears
    as an ancestor, its parents are not expanded) or the frontier empties.
    ``stop_at=None`` (e.g. string-keyed ontology ids) relies purely on the
    frontier emptying: ancestors without a parent row stop naturally.

    Semantics match a WITH RECURSIVE over ``parent_map`` (see the DuckDB
    oracle in plans/catalog.py).
    """
    # the parent map is probed once per round — share it or every
    # iteration re-runs the source scan
    parent_map = shared(
        edges.select(
            F.col(node_col).alias("pm_node"), F.col(parent_col).alias("pm_parent")
        )
    )

    frontier = edges.select(
        F.col(node_col).alias("node"),
        F.col(parent_col).alias("ancestor"),
        F.lit(1).cast("int").alias("depth"),
    ).localCheckpoint(eager=True)

    out = [frontier]
    for i in range(max_iterations):
        # extend paths whose current ancestor still has a parent; the
        # round's row count is observe()d during its checkpoint, so an
        # empty frontier ends the loop without a second action
        live = (
            frontier.filter(F.col("ancestor") > stop_at)
            if stop_at is not None
            else frontier
        )
        obs = Observation(f"closure_round_{i}")
        nxt = (
            live.join(parent_map, F.col("ancestor") == F.col("pm_node"), "inner")
            .select(
                "node",
                F.col("pm_parent").alias("ancestor"),
                (F.col("depth") + 1).alias("depth"),
            )
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        if obs.get["n"] == 0:
            break
        out.append(nxt)
        frontier = nxt

    result = out[0]
    for df in out[1:]:
        result = result.unionByName(df)
    return result


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_col: str = "id",
    max_iterations: int = 30,
    method: str = "minlabel",
) -> DataFrame:
    """Connected components. Two methods, identical output contract:

    - ``minlabel`` (default): iterative min-label propagation. Each
      round every node takes the minimum label over itself and its
      neighbors; convergence (no label changed) is detected from the sum
      of labels, which strictly decreases while any node still changes —
      one scalar aggregate action per round instead of a
      join-and-compare. Rounds needed = component DIAMETER; near-dup
      clusters are shallow (a duplicate "ball" around a source text), so
      this converges in a handful of rounds.
    - ``star``: the alternating large-star/small-star algorithm
      (Kiveris et al. 2014, "Connected Components in MapReduce and
      Beyond") — converges in O(log² n) rounds INDEPENDENT of diameter,
      the 100 TB path for adversarial graphs (long chains, huge
      components). Each half-round is ONE node-keyed shuffle (a window
      min — no groupBy+join pair); see ``_cc_star``.

    ``nodes`` (optional) adds isolated nodes — they come out as singleton
    components. Returns (``node_col``, component) where component is the
    minimum node id in the component.
    """
    if method == "star":
        labels, _rounds = _cc_star(
            edges, src, dst, nodes, node_col, max_iterations
        )
        return labels
    if method != "minlabel":
        raise ValueError(f"connected_components: unknown method {method!r}")
    sym = shared(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    endpoints = sym.select(F.col("a").alias(node_col))
    if nodes is not None:
        endpoints = endpoints.unionByName(nodes.select(node_col))
    labels = shared(
        endpoints.distinct().select(node_col, F.col(node_col).alias("component"))
    )

    prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    for i in range(max_iterations):
        # new label = min over self + neighbor labels. Folding the self
        # label in via union (instead of a second left join back onto
        # labels) makes each round one join + one groupBy — 2 shuffles,
        # not 3; at diameter-many rounds the saved barrier compounds.
        contrib = sym.join(labels, sym.a == F.col(node_col)).select(
            F.col("b").alias(node_col), "component"
        )
        # convergence statistic piggybacked via observe(): the label sum
        # is collected DURING the eager checkpoint's materialization —
        # ONE action per round instead of checkpoint-then-aggregate (r4
        # verdict item 5: actions/round halved; the observed metric adds
        # no pass and no job — Σ label strictly decreases while any node
        # still changes, so equality means fixpoint)
        obs = Observation(f"cc_round_{i}")
        labels = (
            labels.unionByName(contrib)
            .groupBy(node_col)
            .agg(F.min("component").alias("component"))
            .observe(obs, F.sum("component").alias("s"))
            .localCheckpoint(eager=True)
        )
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def _cc_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_col: str = "id",
    max_iterations: int = 30,
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star connected components (Kiveris
    et al. 2014, §3 Alg. 2) — round count O(log² n) regardless of
    component diameter, vs. diameter rounds for min-label propagation.

    Edge-rewriting semantics (ids must be orderable; component = min id):

    - **large-star**: per node u with neighborhood N(u), let
      m = min(N(u) ∪ {u}); rewrite every STRICTLY LARGER neighbor
      v > u to (v, m). Expressed as one window min over the
      symmetrized edge list — one shuffle, no groupBy+join pair.
    - **small-star**: orient each edge (larger, smaller); per node u
      let m = min of its smaller neighbors; rewrite (v, m) for each
      smaller neighbor and attach (u, m). Again one window min.

    Every emitted edge is (larger, smaller), never a self-loop, so the
    edge list is its own parent-pointer forest at convergence: each
    non-root points straight at its component min. Convergence = the
    (count, Σu, Σv) triple of the edge set unchanged over a full round
    — two scalar aggregates piggybacked on the round's checkpoint (the
    exact-equality guarantee comes from the property tests against
    min-label, which this must match row-for-row).

    Returns (labels DataFrame, rounds used).
    """
    from pyspark.sql import Window

    e = shared(
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    all_nodes = edges.select(F.col(src).alias(node_col)).unionByName(
        edges.select(F.col(dst).alias(node_col))
    )
    if nodes is not None:
        all_nodes = all_nodes.unionByName(nodes.select(node_col))
    all_nodes = shared(all_nodes.distinct())

    # multiset signature of the edge set: count + Σ xxhash64 of each
    # endpoint (type-generic — works for string ids where a raw sum
    # would not; collision probability ~2^-64 per round); observed
    # DURING each round's checkpoint materialization so a round is ONE
    # action, never checkpoint-then-aggregate
    _sig_cols = (
        F.count(F.lit(1)).alias("c"),
        F.sum(F.xxhash64("u").cast("decimal(38,0)")).alias("su"),
        F.sum(F.xxhash64("v").cast("decimal(38,0)")).alias("sv"),
    )
    prev = tuple(e.agg(*_sig_cols).collect()[0])
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        # large-star: symmetrize, window-min per node (ONE shuffle)
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        w = Window.partitionBy("u")
        ls = (
            sym.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: edges already (larger, smaller); min smaller
        # neighbor per larger endpoint (ONE shuffle), reattach u
        ss_base = ls.withColumn("m", F.min("v").over(w))
        obs = Observation(f"cc_star_round_{rounds}")
        ss = (
            ss_base.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(ss_base.select("u", F.col("m").alias("v")))
            .distinct()
            .observe(obs, *_sig_cols)
            .localCheckpoint(eager=True)
        )
        got = obs.get
        cur = (got["c"], got["su"], got["sv"])
        e = ss
        if cur == prev:
            break
        prev = cur
    labels = (
        all_nodes.join(
            e.groupBy(F.col("u").alias(node_col)).agg(
                F.min("v").alias("__parent")
            ),
            node_col,
            "left",
        )
        .select(
            node_col,
            F.coalesce("__parent", F.col(node_col)).alias("component"),
        )
    )
    return labels, rounds


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damp_pct: int = 85,
    scale: int = 1_000_000,
) -> DataFrame:
    """Integer-quantized distributed PageRank (Brin & Page 1998) — the
    canonical iterative graph algorithm, in the classic Spark shape:
    per round, one (rank × out-degree-weighted edges) join shuffled on
    the source plus one contribution aggregation shuffled on the
    destination. Iteration count is fixed (training-pipeline PageRank
    runs a budgeted number of sweeps), and each round's ranks are cut
    with an eager ``localCheckpoint`` so lineage stays flat.

    Ranks live in integer ``scale`` units (micro by default) and every
    per-edge share is floor-divided — floats never appear, so the ranks
    are bit-identical across engines and the oracle (a generated N-round
    SQL CTE chain) is exact. With damping d = damp_pct/100:

        pr_0(v)   = scale
        pr_{t+1}(v) = floor(scale·(1-d))
                      + Σ_{u→v} floor(pr_t(u)·damp_pct / (100·outdeg(u)))

    Multi-edges contribute multiply (callers dedup first if unwanted);
    dangling nodes (no out-edges) simply leak their damped mass, the
    standard simplification.

    Scale: per-round cost is one shuffle join on ``src`` + one groupBy
    on ``dst`` — both AQE-planned; the node set and the edge table with
    attached out-degrees are computed once and shared. No data-sized
    collect.

    Returns (node, pr_micro) after ``iterations`` rounds.
    """
    nodes = shared(
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    ew = shared(
        edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
        .join(outdeg, F.col("e_src") == F.col("node"))
        .select("e_src", "e_dst", "outdeg")
    )
    base = (scale * (100 - damp_pct)) // 100
    pr = nodes.select("node", F.lit(scale).cast("bigint").alias("pr"))
    for _ in range(iterations):
        contrib = (
            ew.join(pr.withColumnRenamed("node", "e_src"), "e_src")
            .select(
                F.col("e_dst").alias("node"),
                F.expr(f"(pr * {damp_pct}) div (100 * outdeg)").alias("share"),
            )
            .groupBy("node")
            # decimal accumulator: a supernode's inflow is bounded by
            # total mass n·scale, which a bigint sum would abort on
            # first (the per-node pr value itself has ~100× headroom
            # past that point at realistic graph sizes)
            .agg(
                F.sum(F.col("share").cast("decimal(38,0)"))
                .cast("bigint")
                .alias("inflow")
            )
        )
        pr = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce("inflow", F.lit(0)))
                .cast("bigint")
                .alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return pr.select("node", F.col("pr").alias("pr_micro"))


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph —
    the clustering/community primitive next to components and PageRank.

    Uses the degree-orientation algorithm (Schank & Wagner 2005; the
    standard MapReduce/Spark formulation): orient every undirected edge
    from its lower-(degree, id) endpoint to the higher, so each triangle
    is generated EXACTLY ONCE as a wedge at its lowest-ordered corner
    and the wedge count is O(m^1.5) regardless of skew — a hub of degree
    d contributes wedges only through its (rare) higher-ordered
    neighbors, never d² pairs. This is the difference between "works on
    a mesh" and "works on a power-law web graph at 100 TB".

    Plan: canonical-edge distinct, one degree aggregation, two
    hash joins to attach ordering keys, the wedge self-join on the
    oriented source, and one semi-ish closing join — every shuffle is
    keyed on a node id, no window, no collect.

    Returns (node, n_triangles) for nodes in at least one triangle.
    """
    # e feeds the degree union (2×) and the orientation join; oe feeds
    # the wedge sides (2×) and the closing join — share both, or the
    # canonical-edge distinct pipeline re-runs per consumer (measured:
    # 45 source scans in one triangle_count plan; operators/sharing.py)
    e = shared(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # total order: ok = deg * 2^40 + node  (node ids < 2^40, deg < 2^23)
    okey = (F.col("deg") * F.lit(1 << 40) + F.col("node")).cast("bigint")
    keyed = deg.select("node", okey.alias("ok"))
    oe = shared(
        e.join(keyed.select(F.col("node").alias("a"), F.col("ok").alias("oa")), "a")
        .join(keyed.select(F.col("node").alias("b"), F.col("ok").alias("ob")), "b")
        .select(
            F.when(F.col("oa") < F.col("ob"), F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(F.col("oa") < F.col("ob"), F.col("ob")).otherwise(F.col("oa")).alias("ov"),
            F.when(F.col("oa") < F.col("ob"), F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    # wedges at the lowest-ordered corner u: neighbor pair (v, w), ov < ow
    p = oe.select(F.col("u"), F.col("v"), F.col("ov"))
    q = oe.select(F.col("u"), F.col("v").alias("w"), F.col("ov").alias("ow"))
    wedges = p.join(q, "u").filter(F.col("ov") < F.col("ow"))
    closing = oe.select(F.col("v").alias("cv"), F.col("u").alias("cu"))
    tris = wedges.join(
        closing, (F.col("v") == F.col("cu")) & (F.col("w") == F.col("cv"))
    ).select("u", "v", "w")
    return (
        tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983; the
    MapReduce formulation of Montresor et al.): repeatedly delete every
    node of degree < k until none remains — the surviving maximal
    subgraph where everyone keeps >= k neighbors. On a near-dup pair
    graph the k-core separates DENSE duplicate communities (template
    farms, mirror clusters) from incidental pairwise matches, which is
    the triage 100 TB dedup output needs.

    Scale shape per round: one node-keyed degree aggregation + two
    semi joins restricting the edge set — all shuffles on node ids, no
    driver data. The convergence statistic (surviving directed-edge
    count) is observe()d DURING the round's eager checkpoint — one
    action per round, flat lineage (the connected_components idiom).
    Edge count is monotone non-increasing; equality means fixpoint, so
    converged results are exact regardless of ``max_rounds``.

    Returns the k-core members as (node, degree) — degree within the
    core.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col(src) != F.col(dst))
    )
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_edges = sym.count()
    for i in range(max_rounds):
        if prev_edges == 0:
            break
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("a")
        obs = Observation(f"kcore_round_{i}")
        sym = (
            sym.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
            .observe(obs, F.count(F.lit(1)).alias("m"))
            .localCheckpoint(eager=True)
        )
        cur_edges = obs.get["m"]
        if cur_edges == prev_edges:
            break
        prev_edges = cur_edges
    return sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_hops: int = 4,
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS hop distances, bounded at ``max_hops`` — the
    shortest-path primitive the closure/components family lacks
    (closure follows edges to a FIXPOINT; BFS wants the MINIMUM hop
    count, radius-bounded the way link-distance features are computed
    over web/citation graphs at corpus scale).

    Frontier iteration with exactly ``max_hops`` rounds and ZERO
    convergence collects (the hop bound is the termination — no
    label-sum observation needed): each round is one equi join of the
    CURRENT frontier (rows at distance h-1 only, never the full dist
    table) against the edge list, then a min-dist fold into the
    accumulated table — 2 node-keyed shuffles per round. Eager
    localCheckpoint keeps lineage flat (dist is consumed twice per
    round: as frontier and as union side). A frontier that empties
    early (radius < max_hops) just produces empty joins — no extra
    action spent detecting it below the hop bound.

    Undirected mode symmetrizes the edge list once up front (one
    distinct — the same normalization connected_components uses).
    Returns (``node_col``, dist) for every node within ``max_hops`` of
    any source; unreachable nodes are absent (left to the caller — an
    outer join against the node set would impose a scan the common
    feature-engineering case doesn't need).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
    e = shared(e.distinct())

    dist = (
        sources.select(F.col(node_col).alias("n"))
        .distinct()
        .select("n", F.lit(0).cast("int").alias("dist"))
        .localCheckpoint(eager=True)
    )
    for h in range(1, max_hops + 1):
        frontier = dist.filter(F.col("dist") == h - 1).select("n")
        reached = (
            e.join(frontier, e.a == frontier.n)
            .select(F.col("b").alias("n"), F.lit(h).cast("int").alias("dist"))
        )
        dist = (
            dist.unionByName(reached)
            .groupBy("n")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist.select(F.col("n").alias(node_col), "dist")


def link_predict_cn(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 50,
    max_center_degree: int = 64,
) -> DataFrame:
    """Common-neighbors link prediction (the classical topological
    link-prediction baseline, Liben-Nowell & Kleinberg 2003): for every
    NON-adjacent node pair, score = number of shared neighbors; return
    the top-k candidate links. Integer-exact — no Adamic-Adar log
    weights, so both engines rank identically (ties: (a, b) asc).

    Scale shape: candidate pairs are generated as WEDGES through a
    center node (a–c–b), the triangle_count discipline — never an
    all-pairs product. Hub centers above ``max_center_degree`` are
    excluded (documented precision trade, same knob family as
    sorted_neighborhood's window: a 1e6-degree hub would emit 1e12
    wedges; in practice hubs add little pairwise evidence). Cost is
    Σ deg(c)² over surviving centers; one node-keyed join builds
    wedges, one pair-keyed aggregation counts them, one anti join
    removes existing edges, TakeOrderedAndProject serves top-k.

    Returns (node_a, node_b, common_neighbors), node_a < node_b.
    """
    # und feeds the degree agg, the wedge source, and the existing-edge
    # anti join; nbrs feeds BOTH wedge sides — share, or the symmetrize+
    # distinct pipeline re-runs per consumer (measured: 44 source scans
    # in one link_predict_cn plan; operators/sharing.py)
    und = shared(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(
            edges.select(
                F.col(dst).alias("s"), F.col(src).alias("d")
            )
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    deg = und.groupBy("s").agg(F.count(F.lit(1)).alias("__deg"))
    ok = deg.filter(F.col("__deg") <= max_center_degree).select(
        F.col("s").alias("c")
    )
    nbrs = shared(
        und.select(F.col("s").alias("c"), F.col("d").alias("nb")).join(
            ok, "c", "left_semi"
        )
    )
    wedges = (
        nbrs.alias("w1")
        .join(nbrs.alias("w2"), "c")
        .select(
            F.col("w1.nb").alias("a"), F.col("w2.nb").alias("b")
        )
        .filter(F.col("a") < F.col("b"))
    )
    cn = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("common_neighbors")
    )
    cand = cn.join(
        und.select(F.col("s").alias("a"), F.col("d").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        cand.orderBy(
            F.col("common_neighbors").desc(),
            F.col("a").asc(),
            F.col("b").asc(),
        )
        .limit(k)
        .select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            "common_neighbors",
        )
    )


def degree_histogram(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
) -> DataFrame:
    """Degree-distribution histogram: per ⌊log2(out-degree)⌋ bucket,
    how many source nodes and how many edges they carry — the
    one-glance skew diagnostic for any graph/bipartite workload
    (pagerank, triangle counting, the dedup cluster graphs): a heavy
    tail in the top buckets is exactly the hot-key population that
    needs salting or the dedup family's max_bucket guards.

    Degree is DISTINCT neighbors (parallel edges collapse), so the
    histogram describes the adjacency structure, not event volume.

    Scale shape: one (src, dst) distinct → src-keyed count (the
    data-sized shuffles), then a log2-bucket aggregation bounded by
    ~64 rows. Exact integers end to end (log2 of a bigint count is
    FP-stable below 2^53).

    Returns (degree_bucket, n_nodes, n_edges) where bucket b covers
    degrees [2^b, 2^{b+1}).
    """
    deg = (
        edges.select(
            F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
        )
        .filter(F.col("__s").isNotNull() & F.col("__d").isNotNull())
        .distinct()
        .groupBy("__s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__deg"))
    )
    return (
        deg.select(
            F.floor(F.log2("__deg")).cast("int").alias("degree_bucket"),
            "__deg",
        )
        .groupBy("degree_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("__deg").cast("bigint").alias("n_edges"),
        )
    )
