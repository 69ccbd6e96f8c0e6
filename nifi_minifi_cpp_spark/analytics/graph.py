"""Iterative graph operators as barriered rounds of DataFrame joins.

Every operator starts from ONE materialized edge table
(``_edge_table``: distinct ``(_s, _d)`` rows, both orientations for
the undirected algorithms) and reads each dial it needs — the edge or
node count behind ``BROADCAST_MAX_NODES``/``BARRIER_MAX_EDGES``, a
round's changed-row count, pagerank's |S| — through
``util.observed_barrier``: the figure is computed by the barrier's own
materializing job, so no builder fires a separate count action. The
barriers themselves are eager: a builder blocks the driver while they
run, before it returns its (lazy) result frame.

Lineage rule for the loops. A barrier goes only on the state one round
hands to a later round, and ``_carry`` alone decides when: never on a
frame that lives inside one round, on the seed frame, or on the last
round's output (that plan runs once, in the caller's action). A loop
whose round reads its carried state TWICE (``hits``, ``bfs_hops``,
``k_core_peel``) cuts every round: an uncut plan doubles each round
(``hits`` cut only every 4 rounds plans 156 Exchanges at 2 rounds and
660 at 3; cut every round, 24 at 2, 3 or 6). A loop that reads it once
(``pagerank``, ``label_propagation``) cuts every ``_BARRIER_EVERY``
rounds, so its plan grows linearly and stays bounded.
``connected_components`` and ``pagerank_grouped`` barrier every round
through ``util.observed_barrier`` instead, because the barrier's job
supplies a figure they need: the changed-label count that ends the
fixpoint, the rank-frame size behind the broadcast dial.

Distributed connected components — transitive closure for dedup.
The pairwise dedup family (MinHash/SimHash/embedding/semantic) drops
near-duplicates against a kept exemplar; when duplicate relations
CHAIN (A~B, B~C, but A!~C), cluster-consistent dedup needs the
CONNECTED COMPONENT of the similarity graph, not pairwise verdicts.
This is the classic iterative-algorithm gap SQL can't express.

``connected_components`` implements min-label propagation with
POINTER JUMPING (the hash-to-min idea of Rastogi et al. 2013,
"Finding Connected Components in Map-Reduce in Logarithmic Rounds"):
every round each node takes the min label over its neighbors' labels,
then labels compress by one pointer jump (label <- label's label), so
a path of length L converges in O(log L) rounds instead of L. Each
round is two shuffles on (node, label) pairs — 16 bytes a row at
100 TB scale — and the loop stops when a round changes nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from ..util import observed_barrier, reliable_barrier

# Node-frame broadcast dial shared by the iterative operators
# (optimization r16, guide §3.1): every per-round join here pairs the
# O(m)-row edge table with an O(n)-row node frame (ranks / labels /
# frontier / survivor set). Catalyst cannot estimate the node frame's
# size through a localCheckpoint + join lineage, so before this dial it
# either sort-merge-joined (two exchanges + sorts per round) or —
# measurably worse — broadcast the EDGE side (pagerank_supplier_parts
# shipped the 1.2M-row weighted edge table as a BroadcastExchange once
# per iteration). When the measured node count fits, hinting the node
# frame makes every round a map-side hash join over the stationary
# edge table: the only per-round shuffle left is the small partial-agg
# exchange. Past the dial the plans fall back to the shuffled joins,
# which is the right shape for billion-node graphs. triangle_count's
# adjacency table (m neighbor longs plus n keys, so its edge count IS
# its size: 8M edges ~ 64 MB of array payload) uses the same dial.
BROADCAST_MAX_NODES = 8_000_000  # (long, double) rows ~ 128 MB built

# Materialize-vs-recompute dial for pagerank's weighted edge table
# (optimization r17): barriering (src, dst, deg) costs
# ~24 B x |E| through the executor storage layer but saves one
# degree re-aggregation per round; the 100x probe measured the
# crossover — at 1.2M edges the barrier wins (~0.7x), at 120M edges
# the ~3 GB materialization LOSES to three cheap map-side re-aggs
# (248 s vs 176 s). 16M edges ~ 384 MB keeps the materialization
# bounded; past it the weighted table stays a lazy join over the
# (always-barriered) distinct edge list — the right shape for
# billion-edge graphs.
BARRIER_MAX_EDGES = 16_000_000

# lineage cadence of the loops that read their carried state once
# (module lineage rule)
_BARRIER_EVERY = 4


def _maybe_broadcast(df: DataFrame, fits: bool) -> DataFrame:
    return F.broadcast(df) if fits else df


def _carry(state: DataFrame, i: int, rounds: int, every: int) -> DataFrame:
    """Round ``i``'s output as the next round's input: barriered when
    round ``i + 1`` closes a cadence of ``every`` and is not the last
    (module lineage rule)."""
    if (i + 1) % every or i + 1 == rounds:
        return state
    return reliable_barrier(state)


def _edge_table(
    edges: DataFrame, src: str, dst: str, undirected: bool
) -> tuple[DataFrame, bool]:
    """Distinct ``(_s, _d)`` edges behind one barrier — both
    orientations when ``undirected`` — and the broadcast dial of a
    node-sized frame over them: ``|V| <= 2 x`` the observed row count
    fits ``BROADCAST_MAX_NODES`` (module dial note)."""
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if undirected:
        e = e.unionByName(edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d")))
    e, size = observed_barrier(e.distinct())
    return e, 2 * size["n"] <= BROADCAST_MAX_NODES


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 30,
) -> DataFrame:
    """Component labels for an undirected graph.

    Returns (node, component) where component = min node id reachable.
    ``edges`` needs one row per edge in either orientation; isolated
    nodes appear only if self-loops are included by the caller.
    Raises if the fixpoint is not reached in ``max_iterations`` rounds
    (log2 of the longest path; 30 covers any graph a real corpus
    produces) rather than returning silently-wrong labels.
    """
    # when the (node, label) frame fits, the neighbor-min join and the
    # pointer jump are map-side and the symmetric edge table never
    # shuffles per round
    sym, fits = _edge_table(edges, src, dst, undirected=True)
    labels = (
        sym.groupBy("_s")
        .agg(F.min("_d").alias("nmin"))
        .select(F.col("_s").alias("node"), F.least("_s", "nmin").alias("label"))
    )

    for _ in range(max_iterations):
        # neighbor-min: the smallest label among my neighbors and me
        nbr = (
            sym.join(_maybe_broadcast(labels.withColumnRenamed("node", "_d"), fits), "_d")
            .groupBy("_s")
            .agg(F.min("label").alias("nmin"))
            .select(F.col("_s").alias("node"), "nmin")
        )
        # carry the round-entry label as `old` so convergence is an
        # exact changed-row COUNT, not a sum of labels: with 64-bit
        # node ids (uuid hashes near 2^63) sum(label) overflows long —
        # wrapping silently in non-ANSI sessions (a spurious equal sum
        # would early-exit with wrong components) and throwing under
        # ANSI. A count is bounded by the row count; never overflows.
        stepped = labels.join(_maybe_broadcast(nbr, fits), "node", "left").select(
            "node",
            F.least("label", F.coalesce("nmin", "label")).alias("label"),
            F.col("label").alias("old"),
        )
        # pointer jump: label <- label's label (path halving)
        jump = stepped.alias("l1").join(
            _maybe_broadcast(
                stepped.select(
                    F.col("node").alias("label"), F.col("label").alias("label2")
                ).alias("l2"),
                fits,
            ),
            "label",
            "left",
        )
        new_labels, changed = observed_barrier(
            jump.select(
                "node",
                F.least("label", F.coalesce("label2", "label")).alias("label"),
                "old",
            ),
            F.sum((F.col("label") < F.col("old")).cast("long")).alias("c"),
        )
        labels = new_labels.select("node", "label")
        if not changed["c"]:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Cluster-consistent dedup: keep exactly ONE row (the min id) per
    connected component of the duplicate-pair graph; rows in no pair
    survive untouched. This is the transitive upgrade of the pairwise
    drop-larger-id rule the LSH dedups apply."""
    comp = connected_components(pairs, src=pair_a, dst=pair_b)
    drop = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def _weighted_edges(
    edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, Row, DataFrame]:
    """The PageRank preparation ``pagerank`` and ``pagerank_grouped``
    share: the barriered node table ``(node, _deg, _indeg)`` built from
    both edge columns, its observed sizes (``n`` nodes, ``m`` edges,
    ``open`` nodes lacking an in-edge or an out-edge), and the weighted
    edge table ``(_s, _d, _deg)`` — static per run, so it is barriered
    while it fits ``BARRIER_MAX_EDGES`` (module dial note)."""
    e, _ = _edge_table(edges, src, dst, undirected=False)
    ends = e.select(
        F.col("_s").alias("node"), F.lit(1).alias("_o"), F.lit(0).alias("_i")
    ).unionByName(
        e.select(F.col("_d").alias("node"), F.lit(0).alias("_o"), F.lit(1).alias("_i"))
    )
    nodes, size = observed_barrier(
        ends.groupBy("node").agg(F.sum("_o").alias("_deg"), F.sum("_i").alias("_indeg")),
        F.count(F.lit(1)).alias("n"),
        F.sum("_deg").alias("m"),
        F.count(F.when((F.col("_deg") == 0) | (F.col("_indeg") == 0), 1)).alias("open"),
    )
    fits = size["n"] <= BROADCAST_MAX_NODES
    deg = nodes.select(F.col("node").alias("_s"), "_deg")
    weighted = e.join(_maybe_broadcast(deg, fits), "_s")
    if (size["m"] or 0) <= BARRIER_MAX_EDGES:
        weighted = reliable_barrier(weighted)
    return nodes, size, weighted


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    teleport: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank (Page et al. 1999) as DataFrame joins —
    the second iterative-algorithm class next to connected_components.
    Returns (node, rank) after ``iterations`` synchronous updates from
    a uniform start: rank = (1-d)/N + d * sum(in-neighbor rank / its
    out-degree).

    ``teleport``: optional one-column (``node``) seed frame for
    PERSONALIZED PageRank (Haveliwala 2002): the restart mass
    (1-d) concentrates uniformly on the seed set instead of all
    nodes, and the walk starts from the seeds — relevance-to-the-
    seeds ranking, the data-selection primitive ("expand from these
    known-good suppliers/domains"). The seed frame is joined once as
    a flag onto the slim node table; per-iteration cost is unchanged.
    Raises ``ValueError`` when no seed appears in the edge list.

    Dangling nodes (out-degree 0) keep their rank mass out of play —
    the caller symmetrizes the edge set when that matters (an
    undirected graph has none by construction).

    100 TB shape: each iteration is ONE equi-join of the slim
    (node, rank) table onto the edge list plus a groupBy sum — the
    classic map-reduce PageRank; the node table and the weighted edge
    table are computed once and reused (barrier), and the rank lineage
    is cut every few iterations so long runs do not stack unbounded
    plan depth. When the measured node count fits
    ``BROADCAST_MAX_NODES``, the (node, rank) frame is broadcast into
    the per-round joins (module dial note) so the edge table is never
    shuffled or broadcast per round; larger graphs fall back to the
    shuffled joins unchanged.

    The node table's observation picks the round shape. When every
    node has both an in-edge and an out-edge (any symmetric edge set),
    each round's contribs aggregate already covers every node, so the
    rank frame is built from it directly — for PPR with one broadcast
    join against the |S|-row restart frame. Otherwise each round
    zero-fills the nodes without an in-edge through a left join from
    the node table. Both shapes evaluate the same rank expression, so
    the choice never changes an output bit.
    """
    nodes, size, weighted = _weighted_edges(edges, src, dst)
    n_nodes = size["n"]
    fits = n_nodes <= BROADCAST_MAX_NODES
    dense = size["open"] == 0
    if teleport is None:
        restart = nodes.select("node", F.lit(1.0 / n_nodes).alias("_b"))
    else:
        seeds = teleport.select(F.col("node")).distinct()
        # barrier: consumed by the |S| observation, the rank start and
        # the restart frame — without it each consumer re-runs the seed
        # frame's own source scan
        flagged, n_seeds = observed_barrier(
            nodes.join(seeds.withColumn("_seed", F.lit(1)), "node", "left").select(
                "node", F.coalesce(F.col("_seed"), F.lit(0)).alias("_seed")
            ),
            F.sum("_seed").cast("long").alias("n"),
        )
        # |S| after intersecting seeds with the graph's node set: if
        # no seed appears in the edge list the denominator is 0 and
        # every rank would silently become NULL — fail loudly instead
        if not n_seeds["n"]:
            raise ValueError(
                "pagerank(teleport=...): no teleport seed appears in the "
                "edge list; restart mass denominator |S| is 0"
            )
        restart = flagged.select(
            "node", (F.col("_seed") / F.lit(int(n_seeds["n"]))).alias("_b")
        )
    ranks = restart.select("node", F.col("_b").alias("rank"))
    if dense and teleport is not None:
        # only the |S| seed rows carry restart mass — the per-round
        # join against them broadcasts |S| rows, not |V|
        restart = F.broadcast(reliable_barrier(restart.filter(F.col("_b") > 0)))
    for i in range(iterations):
        contribs = (
            weighted.join(
                _maybe_broadcast(ranks.withColumnRenamed("node", "_s"), fits), "_s"
            )
            .select(F.col("_d").alias("node"), (F.col("rank") / F.col("_deg")).alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        if not dense:
            step = restart.join(_maybe_broadcast(contribs, fits), "node", "left")
        elif teleport is not None:
            step = contribs.join(restart, "node", "left")
        else:
            step = contribs.withColumn("_b", F.lit(1.0 / n_nodes))
        ranks = step.select(
            "node",
            (
                (1.0 - damping) * F.coalesce(F.col("_b"), F.lit(0.0))
                + damping * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("rank"),
        )
        ranks = _carry(ranks, i, iterations, _BARRIER_EVERY)
    return ranks


def pagerank_grouped(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 2,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    grp: str = "grp",
    node: str = "node",
) -> DataFrame:
    """BATCHED personalized PageRank — one walk per SEED GROUP in a
    single pass (multi-tenant scoring: "expand from each customer's
    own trust set" without re-running the engine per tenant).
    ``seeds`` is a (grp, node) frame; each group's restart mass
    (1-d) spreads uniformly over ITS seeds, exactly
    ``pagerank(teleport=...)`` semantics per group. Returns
    (grp, node, rank) for nodes with non-zero mass.

    100 TB shape: the edge list, out-degrees, and barriers are built
    ONCE and shared by every group — the per-iteration join carries
    the slim (grp, node, rank) frame against the same weighted edge
    table, so g tenants cost one pass over g·|reached| rank rows
    instead of g engine runs re-scanning the graph. Nodes outside a
    group's reach simply never materialize (sparse frames, not a
    dense nodes×groups grid).
    """
    _, _, weighted = _weighted_edges(edges, src, dst)
    sd = seeds.select(F.col(grp).alias("_g"), F.col(node).alias("_n")).distinct()
    sizes = sd.groupBy("_g").agg(F.count(F.lit(1)).alias("_k"))
    base, size = observed_barrier(
        sd.join(F.broadcast(sizes), "_g").select(
            "_g", "_n", (F.lit(1.0) / F.col("_k")).alias("_b")
        )
    )
    ranks = base.select("_g", "_n", F.col("_b").alias("_r"))
    # broadcast dial (module note), per round on the MATERIALIZED rank
    # frame: round 0's frame is the barriered seed table and each later
    # round's frame sits behind the in-loop barrier, so every dial is
    # the observed row count of the actual (grp, node, rank) rows —
    # no g x |V| worst-case guess. When it fits, the weighted edge
    # table is never shuffled per round.
    fits = size["n"] <= BROADCAST_MAX_NODES
    for i in range(iterations):
        contribs = (
            weighted.join(
                _maybe_broadcast(ranks.withColumnRenamed("_n", "_s"), fits), "_s"
            )
            .select("_g", F.col("_d").alias("_n"), (F.col("_r") / F.col("_deg")).alias("_c"))
            .groupBy("_g", "_n")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            contribs.join(base, ["_g", "_n"], "full_outer")
            .select(
                "_g",
                "_n",
                (
                    F.lit(1.0 - damping) * F.coalesce(F.col("_b"), F.lit(0.0))
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("_r"),
            )
        )
        if i + 1 < iterations:
            ranks, size = observed_barrier(ranks)
            fits = size["n"] <= BROADCAST_MAX_NODES
    return ranks.select(
        F.col("_g").alias(grp), F.col("_n").alias(node), F.col("_r").alias("rank")
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, "Near
    linear time algorithm to detect community structures") — the
    third iterative-algorithm class next to connected_components and
    pagerank. Every node starts labeled with itself; each round it
    adopts the MOST FREQUENT label among its neighbors, ties broken
    by the smallest label (the deterministic variant — the paper's
    random tie-break is unreproducible across engines). Returns
    (node, label) after ``iterations`` synchronous rounds.

    Unlike min-label propagation (connected_components), mode-label
    updates can split a connected graph into communities: a label
    only spreads while it keeps winning local majorities.

    100 TB shape: each round is ONE equi-join of the slim
    (node, label) frame onto the symmetrized edge list, a
    (node, label) count aggregation, and a per-node top-1 picked by a
    min_by HASH aggregate (map-side combined) rather than a
    sort-window — two shuffles a round on 16-byte rows, no per-round
    sort; the edge list is computed once behind a barrier and reused
    every round, and the label lineage is cut every ``_BARRIER_EVERY``
    rounds.
    """
    # when the (node, label) frame fits, each round's label join is
    # map-side over the stationary symmetric edge table
    sym, fits = _edge_table(edges, src, dst, undirected=True)
    labels = sym.select(F.col("_s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for r in range(iterations):
        if r == 0:
            # Round 1 on identity labels needs no join and no count
            # (optimization r17, guide §2.2): every neighbor carries
            # its OWN distinct label, so each (node, label) count is
            # exactly 1 and the (count DESC, label ASC) winner is just
            # the minimum neighbor id — one map-side-combined min
            # aggregate over the barriered edge table replaces the
            # label join and the two-level count/min_by pair.
            step = sym.groupBy("_s").agg(F.min("_d").alias("label"))
        else:
            # top-1 via min_by over the (-count, label) struct — lexical
            # struct ordering IS the (count DESC, label ASC) rule — a
            # hash aggregate with map-side combine instead of a full
            # sort-window per round
            step = (
                sym.join(_maybe_broadcast(labels.withColumnRenamed("node", "_d"), fits), "_d")
                .groupBy("_s", "label")
                .agg(F.count(F.lit(1)).alias("_c"))
                .groupBy("_s")
                .agg(
                    F.min_by(
                        "label",
                        F.struct((-F.col("_c")).alias("_k1"), F.col("label").alias("_k2")),
                    ).alias("label")
                )
            )
        labels = _carry(
            step.select(F.col("_s").alias("node"), "label"), r, iterations, _BARRIER_EVERY
        )
    return labels


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    orient: str = "id",
) -> DataFrame:
    """Global triangle census — the fourth graph-algorithm class next
    to connected components, PageRank, and label propagation. Returns
    ONE row (n_nodes, n_edges, n_triangles) for the undirected simple
    graph behind ``edges`` (self-loops dropped, orientation and
    duplicates normalized away).

    Adjacency-intersection shape: canonicalize every edge to a < b,
    build each node's sorted out-neighbor array ONCE, then for every
    edge (a, b) count |out(a) ∩ out(b)| — the c's completing a < b < c,
    so every triangle is counted exactly once at its smallest vertex.

    100 TB shape: this shuffles O(m) edge rows and O(n) adjacency
    rows, NOT the O(sum deg²) wedge set a join-based closure
    materializes (the wedge plan measured 16s where this one runs ~2s
    at sf0.1 — DuckDB-competitive). The intersection itself runs in
    whole-stage codegen over the two arrays.

    The adjacency table is broadcast iff the deduplicated edge count
    observed on the barrier fits ``BROADCAST_MAX_NODES`` (module dial
    note; VERDICT r10 #3 — the hint used to be unconditional, an
    executor-memory blowup at billions of edges). Broadcasting makes
    the per-edge intersection map-side so the ~deg-sized arrays are
    never shipped once per edge row (measured 19.5s -> ~4s at sf0.1;
    the shuffle of two ~100-long arrays with each of 1.2M edge rows
    was the whole cost); past the dial the same plan shuffles both
    sides (sort-merge / shuffled-hash, AQE's pick).

    ``orient="degree"`` re-orients edges from low-degree to
    high-degree endpoints (compact-forward, Schank & Wagner 2005)
    before building adjacency: out-degrees are then bounded by
    O(sqrt(m)) even on power-law graphs, keeping hub arrays — and the
    per-edge intersection cost — small. The default ``"id"`` keeps the
    a < b orientation (the co-order fixture is near-regular, max
    out-degree 199, where id order is already balanced and skips the
    degree join).
    """
    if orient not in ("id", "degree"):
        raise ValueError(f"orient must be 'id' or 'degree': {orient!r}")
    a, b = F.col("_a"), F.col("_b")
    e, size = observed_barrier(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_a"),
            F.greatest(F.col(src), F.col(dst)).alias("_b"),
        )
        .filter(a != b)
        .distinct()
    )
    if orient == "degree":
        # Degree rank (deg, id) totally orders nodes; orient every
        # edge from lower to higher rank. Each triangle is then
        # counted exactly once, at its lowest-ranked vertex, and
        # out(u) only holds higher-ranked neighbors — at most
        # O(sqrt(m)) of them for ANY degree distribution.
        deg = (
            e.select(a.alias("_n"))
            .unionByName(e.select(b.alias("_n")))
            .groupBy("_n")
            .agg(F.count(F.lit(1)).alias("_deg"))
        )
        da = deg.select(F.col("_n").alias("_a"), F.col("_deg").alias("_da"))
        db = deg.select(F.col("_n").alias("_b"), F.col("_deg").alias("_db"))
        lower_first = (F.col("_da") < F.col("_db")) | (
            (F.col("_da") == F.col("_db")) & (a < b)
        )
        e = reliable_barrier(
            e.join(da, "_a")
            .join(db, "_b")
            .select(
                F.when(lower_first, a).otherwise(b).alias("_u"),
                F.when(lower_first, b).otherwise(a).alias("_v"),
            )
            .select(F.col("_u").alias("_a"), F.col("_v").alias("_b"))
        )
    adj = _maybe_broadcast(
        e.groupBy("_a").agg(F.sort_array(F.collect_list("_b")).alias("_nbrs")),
        size["n"] <= BROADCAST_MAX_NODES,
    )
    closed = (
        e.join(adj, "_a")
        .join(
            adj.select(F.col("_a").alias("_b"), F.col("_nbrs").alias("_nbrs_b")),
            "_b",
        )
        .select(F.size(F.array_intersect("_nbrs", "_nbrs_b")).alias("_t"))
    )
    nodes = e.select(a.alias("n")).unionByName(e.select(b.alias("n"))).distinct()
    return (
        e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        .crossJoin(nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))
        .crossJoin(
            closed.agg(F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("n_triangles"))
        )
        .select("n_nodes", "n_edges", "n_triangles")
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, "Authoritative
    sources in a hyperlinked environment") — the ninth iterative-
    algorithm class. On a DIRECTED graph, a good hub points at good
    authorities and a good authority is pointed at by good hubs:
    each synchronous round computes auth(v) = Σ hub(u) over in-edges
    then hub(u) = Σ auth(v) over out-edges, L1-normalizing after each
    half-step. L1 (sum) normalization replaces the textbook L2: it
    keeps the same fixpoint direction (normalization only rescales)
    while avoiding sqrt — every value stays a plain ratio, which is
    what makes an unrolled-CTE oracle reproduce it bit-for-bit up to
    summation order. Returns (node, hub, auth) after ``iterations``
    rounds from a uniform hub start of 1.0; pure sinks keep hub 0 and
    pure sources keep auth 0 — exact zeros, not epsilons.

    100 TB shape: identical to ``pagerank`` — each half-step is ONE
    equi-join of the slim (node, score) frame onto the edge list plus
    a groupBy sum; the global L1 mass is a one-row broadcast scalar
    (no second pass over nodes); the edge table is computed once
    behind a barrier; the hub frame carries each round into the next
    and is cut every round (module lineage rule).

    Optimization r17 (guide §2.1): the score frames stay SPARSE
    through the rounds — hubs over out-nodes, auths over in-nodes —
    because a node outside those sets carries exactly 0.0 and a 0.0
    score contributes nothing to either half-step sum or to the L1
    mass. The dense zero rows the previous shape materialized through
    two per-round node-left-joins are reconstructed ONCE at the end by
    the final zero-fill join, which is also where the pure-sink hub=0 /
    pure-source auth=0 exactness comes from (coalesce to literal 0.0).
    """
    e, fits = _edge_table(edges, src, dst, undirected=False)
    # sparse uniform start: only out-node hub values ever feed the
    # auth half-step, so the sink rows of the dense 1.0 start were dead
    hubs = e.select(F.col("_s").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("hub")
    )
    if iterations <= 0:  # degenerate: the dense uniform start, as before
        return (
            e.select(F.col("_s").alias("node"))
            .unionByName(e.select(F.col("_d").alias("node")))
            .distinct()
            .select("node", F.lit(1.0).alias("hub"), F.lit(0.0).alias("auth"))
        )
    auths = None
    for i in range(iterations):
        a_raw = (
            e.join(_maybe_broadcast(hubs.withColumnRenamed("node", "_s"), fits), "_s")
            .groupBy("_d")
            .agg(F.sum("hub").alias("_x"))
        )
        a_mass = F.broadcast(a_raw.agg(F.sum("_x").alias("_t")))
        auths = (
            a_raw.withColumnRenamed("_d", "node")
            .crossJoin(a_mass)
            .select("node", (F.col("_x") / F.col("_t")).alias("auth"))
        )
        h_raw = (
            e.join(_maybe_broadcast(auths.withColumnRenamed("node", "_d"), fits), "_d")
            .groupBy("_s")
            .agg(F.sum("auth").alias("_x"))
        )
        h_mass = F.broadcast(h_raw.agg(F.sum("_x").alias("_t")))
        hubs = h_raw.withColumnRenamed("_s", "node").crossJoin(h_mass)
        hubs = _carry(
            hubs.select("node", (F.col("_x") / F.col("_t")).alias("hub")), i, iterations, 1
        )
    # out-nodes ∪ in-nodes IS the node set: the sparse hub frame covers
    # the out-nodes and the auth frame the in-nodes, so one full outer
    # join zero-fills both without re-scanning the 2|E|-row edge table
    return hubs.join(auths, "node", "full_outer").select(
        "node",
        F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
        F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    iterations: int = 3,
) -> DataFrame:
    """Multi-source BFS hop distances (r11) — the frontier-relaxation
    sibling of ``connected_components``: starting from ``seeds`` at
    hop 0, each synchronous round relaxes
    ``dist'(v) = min(dist(v), min over in-edges dist(u) + 1)`` and the
    result is every node reachable within ``iterations`` hops with its
    exact minimum hop count. Pure integer arithmetic — deterministic
    on any engine and partitioning.

    100 TB shape: one slim (node, hop) frame; each round is ONE
    equi-join of the edge list against it plus a min-aggregate (the
    same slim-pair discipline as the other iterative operators; the
    frame is read twice a round, so it is cut every round — module
    lineage rule). Rounds shuffle O(m) join rows and O(n) aggregate
    rows.
    """
    e, fits = _edge_table(edges, src, dst, undirected=False)
    nd = seeds.select(F.col(node).alias("_n")).distinct().select(
        "_n", F.lit(0).cast("int").alias("_h")
    )
    for i in range(iterations):
        prop = e.join(_maybe_broadcast(nd, fits), e["_s"] == nd["_n"]).select(
            F.col("_d").alias("_n"), (F.col("_h") + F.lit(1)).alias("_h")
        )
        nd = nd.unionByName(prop).groupBy("_n").agg(F.min("_h").alias("_h"))
        nd = _carry(nd, i, iterations, 1)
    return nd.select(F.col("_n").alias(node), F.col("_h").alias("hop"))


def k_core_peel(
    edges: DataFrame,
    k: int = 3,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core peeling (r11) — the eighth iterative-algorithm class:
    each round drops every node whose CURRENT degree is below ``k``
    (and the edges touching it), the standard densest-region filter
    (Seidman 1983, "Network structure and minimum degree") used to
    trim low-signal periphery before community/triangle analysis.
    Runs ``iterations`` fixed synchronous rounds (a fixpoint loop in
    production; fixed rounds here so the SQL oracle can unroll) and
    returns ONE row: (n_nodes, n_edges) of the surviving subgraph.

    100 TB shape: per round ONE degree aggregate over the symmetric
    edge list plus two left-semi joins against the (typically much
    smaller) survivor set — slim integer keys only; the edge list is
    read twice a round, so it is cut every round (module lineage
    rule). Peeling cascades: survivors shrink monotonically, so later
    rounds cost less.
    """
    # when the survivor set fits, both per-round semi-joins are
    # map-side — the symmetric edge table never shuffles while peeling
    sym, fits = _edge_table(
        edges.filter(F.col(src) != F.col(dst)), src, dst, undirected=True
    )
    for i in range(iterations):
        keep = (
            sym.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= k)
            .select("_s")
        )
        sym = sym.join(_maybe_broadcast(keep, fits), "_s", "left_semi").join(
            _maybe_broadcast(keep.withColumnRenamed("_s", "_d"), fits), "_d", "left_semi"
        )
        sym = _carry(sym, i, iterations, 1)
    return sym.agg(
        F.countDistinct("_s").cast("long").alias("n_nodes"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
    )
