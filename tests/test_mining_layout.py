"""Unit tests for the r10 mining / layout / temporal-analytics batch:
association rules, blocked entity resolution, Z-order keys, SCD2
history, rolling z-score anomalies, quantized Gram matrix."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_association_rules_counts_and_lift(spark):
    from nifi_minifi_cpp_spark.analytics.mining import association_rules

    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "b"), (4, "b"),  # duplicate item in a basket collapses
    ]
    df = spark.createDataFrame(rows, "basket int, item string")
    out = {
        (r["item_a"], r["item_b"]): r
        for r in association_rules(df, "basket", "item", min_pair_count=2).collect()
    }
    ab = out[("a", "b")]
    assert ab["n_pair"] == 2
    assert ab["support"] == pytest.approx(0.5)  # 2 of 4 baskets
    assert ab["conf_a_b"] == pytest.approx(round(2 / 3, 4))
    assert ab["conf_b_a"] == pytest.approx(round(2 / 3, 4))
    assert ab["lift"] == pytest.approx(round(2 * 4 / (3 * 3), 4))
    assert ("a", "c") in out  # 2 baskets
    assert ("b", "c") not in out  # only 1 basket — under min_pair_count


def test_entity_resolution_multi_pass_blocking(spark):
    from nifi_minifi_cpp_spark.analytics.mining import entity_resolution_blocked

    rows = [
        (1, "ABCDEFGHIJKLMNOPQR"),
        (2, "ABCDEFGHIJKLMNOPQX"),   # typo in SUFFIX zone — prefix block pairs it
        (3, "XBCDEFGHIJKLMNOPQR"),   # typo in PREFIX zone — suffix block pairs it
        (4, "completely different"),
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r["id_a"], r["id_b"]): r["edit_distance"]
        for r in entity_resolution_blocked(df, "id", "name", max_edit_distance=2).collect()
    }
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 1
    # 2 vs 3 differ in both zones (distance 2) but share NO block key —
    # blocking is a recall dial, documented
    assert all(4 not in pair for pair in got)


def test_zorder_key_interleave_and_layout(spark):
    from nifi_minifi_cpp_spark.plans.layout import zorder_key, zorder_repartition

    df = spark.createDataFrame([(3, 5), (0, 0), (65535, 65535)], "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")).collect()
    }
    # x occupies even bits, y odd: x=3 (bits 0,2 -> z bits 0,2),
    # y=5 (bits 0,2 -> z bits 1,5) -> 0b100111 = 39
    assert got[(3, 5)] == (1 << 0 | 1 << 2) | (1 << 1 | 1 << 5)
    assert got[(0, 0)] == 0
    assert got[(65535, 65535)] == (1 << 32) - 1
    laid = zorder_repartition(
        spark.range(100).select(
            (F.col("id") % 10).alias("x"), (F.col("id") % 7).alias("y")
        ),
        F.col("x"), F.col("y"), num_partitions=4,
    )
    # sorted within partitions by _zkey
    parts = laid.select("_zkey").rdd.glom().collect()
    for p in parts:
        keys = [r["_zkey"] for r in p]
        assert keys == sorted(keys)


def test_zorder_sql_matches_catalyst(spark):
    """zorder_key_sql must agree with the Catalyst zorder_key on every
    key — the oracle depends on it."""
    import duckdb

    from nifi_minifi_cpp_spark.plans.layout import zorder_key, zorder_key_sql

    df = spark.createDataFrame(
        [(x, y) for x in (0, 1, 2, 255, 65535) for y in (0, 3, 128, 65535)],
        "x long, y long",
    )
    catalyst = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")).collect()
    }
    expr = zorder_key_sql("x", "y")
    for (x, y), z in catalyst.items():
        sql_z = duckdb.sql(f"SELECT {expr} FROM (SELECT {x}::BIGINT AS x, {y}::BIGINT AS y)").fetchone()[0]
        assert sql_z == z, (x, y)


def test_scd2_history_versions(spark):
    from nifi_minifi_cpp_spark.operators.temporal import scd2_history

    rows = [
        (1, 1, "A"), (1, 2, "A"), (1, 3, "B"), (1, 4, "B"), (1, 5, "A"),
        (2, 1, None), (2, 2, "X"), (2, 3, None),
    ]
    df = spark.createDataFrame(rows, "k int, t int, attr string")
    out = scd2_history(df, ["k"], "t", ["attr"]).orderBy("k", "t").collect()
    k1 = [(r["t"], r["attr"], r["valid_to"], r["is_current"]) for r in out if r["k"] == 1]
    assert k1 == [(1, "A", 3, False), (3, "B", 5, False), (5, "A", None, True)]
    # null-safe: NULL -> X -> NULL are all changes
    k2 = [(r["t"], r["attr"]) for r in out if r["k"] == 2]
    assert k2 == [(1, None), (2, "X"), (3, None)]


def test_rolling_zscore_flags_spike_only(spark):
    from nifi_minifi_cpp_spark.operators.temporal import rolling_zscore_anomalies

    vals = [10.0, 11.0, 10.5, 9.5, 10.2, 10.8, 9.9, 10.1, 500.0, 10.3]
    rows = [(1, t, v) for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k int, t int, v double")
    out = rolling_zscore_anomalies(df, ["k"], "t", "v", lookback=20, threshold=3.0)
    got = [(r["t"], r["zscore"]) for r in out.collect()]
    assert len(got) == 1 and got[0][0] == 8 and got[0][1] > 100
    # constant history: sd == 0 -> never flagged, no division blowup
    const = spark.createDataFrame([(1, t, 5.0) for t in range(5)], "k int, t int, v double")
    assert rolling_zscore_anomalies(const, ["k"], "t", "v").count() == 0


def test_gram_matrix_quantized_exact(spark):
    from nifi_minifi_cpp_spark.analytics.similarity import gram_matrix_quantized

    vecs = [np.array([0.1, -0.2, 0.3]), np.array([0.4, 0.5, -0.6]), np.array([0.0005, 0.0, 1.0])]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    out = {(r["i"], r["j"]): r["gram"] for r in gram_matrix_quantized(df, "embedding").collect()}
    Q = np.floor(np.stack([v.astype(np.float32).astype(np.float64) for v in vecs]) * 1000 + 0.5).astype(np.int64)
    G = Q.T @ Q
    assert len(out) == 6  # upper triangle of 3x3
    for (i, j), g in out.items():
        assert g == G[i, j]


def test_pagerank_star_graph(spark):
    from nifi_minifi_cpp_spark.analytics.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")], "src string, dst string"
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=1).collect()}
    # N=3, uniform 1/3 start, deg(a)=2 deg(b)=deg(c)=1:
    # r(a) = 0.15/3 + 0.85*(1/3 + 1/3); r(b) = r(c) = 0.15/3 + 0.85*(1/3)/2
    assert got["a"] == pytest.approx(0.05 + 0.85 * 2 / 3)
    assert got["b"] == pytest.approx(0.05 + 0.85 / 6)
    assert got["c"] == pytest.approx(got["b"])
    # probability mass conserved on a graph with no dangling nodes
    assert sum(got.values()) == pytest.approx(1.0)


def test_personalized_pagerank_path_graph(spark):
    from nifi_minifi_cpp_spark.analytics.graph import pagerank

    # undirected path a-b-c, teleport pinned to {a}: after 1 round
    # r0 = (1,0,0); contribs: a sends 1 to b (deg 1); b,c send 0.
    # r(a) = 0.15*1; r(b) = 0.85*1; r(c) = 0 — mass flows outward
    # from the seed, non-seeds get no restart mass
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=1, teleport=seeds).collect()
    }
    assert got["a"] == pytest.approx(0.15)
    assert got["b"] == pytest.approx(0.85)
    assert got["c"] == pytest.approx(0.0)
    assert sum(got.values()) == pytest.approx(1.0)


def test_hits_closed_form(spark):
    from nifi_minifi_cpp_spark.analytics.graph import hits

    # a->x, b->x, b->y; one round from hub=1:
    # auth raw: x=2, y=1, sum 3 -> auth x=2/3, y=1/3, a=b=0 (exact)
    # hub raw: a=2/3, b=2/3+1/3=1, sum 5/3 -> hub a=0.4, b=0.6, x=y=0
    edges = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("b", "y")], "src string, dst string"
    )
    got = {
        r["node"]: (r["hub"], r["auth"])
        for r in hits(edges, iterations=1).collect()
    }
    assert got["a"] == (pytest.approx(0.4), 0.0)
    assert got["b"] == (pytest.approx(0.6), 0.0)
    assert got["x"][0] == 0.0 and got["x"][1] == pytest.approx(2 / 3)
    assert got["y"][0] == 0.0 and got["y"][1] == pytest.approx(1 / 3)
    assert sum(h for h, _ in got.values()) == pytest.approx(1.0)
    assert sum(a for _, a in got.values()) == pytest.approx(1.0)


def test_label_propagation_two_communities(spark):
    from nifi_minifi_cpp_spark.analytics.graph import label_propagation

    # two triangles bridged by one edge: LPA must keep them as two
    # communities (min-label CC would merge everything into one)
    edges = [
        ("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
        ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
        ("a3", "b1"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    # 6 rounds pass the label lineage cut at round 4 (graph._BARRIER_EVERY)
    for iters in (3, 6):
        got = {r["node"]: r["label"] for r in label_propagation(df, iterations=iters).collect()}
        a_labels = {got["a1"], got["a2"], got["a3"]}
        b_labels = {got["b1"], got["b2"], got["b3"]}
        # each triangle converges to ONE label, and the two communities
        # stay apart — mode-label updates never merge across the bridge
        # (min-label CC would collapse all six nodes onto 'a1')
        assert len(a_labels) == 1
        assert len(b_labels) == 1
        assert a_labels != b_labels


def test_label_propagation_deterministic_tiebreak(spark):
    from nifi_minifi_cpp_spark.analytics.graph import label_propagation

    # node x has one neighbor with each label: tie -> smallest label
    df = spark.createDataFrame(
        [("x", "m"), ("x", "z")], "src string, dst string"
    )
    got = {r["node"]: r["label"] for r in label_propagation(df, iterations=1).collect()}
    assert got["x"] == "m"


def test_reconcile_tables_statuses(spark):
    from nifi_minifi_cpp_spark.operators.reconcile import (
        reconcile_summary,
        reconcile_tables,
    )

    left = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0), (4, "d", 4.0)],
        "k long, s string, v double",
    )
    right = spark.createDataFrame(
        [(1, "a", 1.0), (2, "B", 2.0), (3, None, 3.0), (5, "e", 5.0)],
        "k long, s string, v double",
    )
    per_key = {r["k"]: r["status"] for r in reconcile_tables(left, right, ["k"]).collect()}
    assert per_key == {
        1: "equal",
        2: "changed",
        3: "equal",  # NULL <=> NULL is equal (NULL-safe compare)
        4: "only_left",
        5: "only_right",
    }
    summary = {r["status"]: r["n"] for r in reconcile_summary(left, right, ["k"]).collect()}
    assert summary == {"equal": 2, "changed": 1, "only_left": 1, "only_right": 1}


def test_reconcile_tables_null_vs_value_is_changed(spark):
    from nifi_minifi_cpp_spark.operators.reconcile import reconcile_tables

    left = spark.createDataFrame([(1, "a")], "k long, s string")
    right = spark.createDataFrame([(1, None)], "k long, s string")
    got = reconcile_tables(left, right, ["k"]).collect()
    assert got[0]["status"] == "changed"


def test_triangle_count_known_graphs(spark):
    from nifi_minifi_cpp_spark.analytics.graph import triangle_count

    # K4 = 4 triangles; edges given in mixed orientation with dups and
    # a self-loop, which normalization must absorb
    k4 = [(1, 2), (2, 1), (1, 3), (1, 4), (3, 2), (2, 4), (3, 4), (3, 3)]
    df = spark.createDataFrame(k4, "src long, dst long")
    row = triangle_count(df).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)

    # a path has no triangles
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    row = triangle_count(path).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 3, 0)


def test_graph_ops_invariant_to_input_order(spark):
    """The driver hash-compares results, so the iterative graph ops
    must be deterministic under partitioning and row order. Synchronous
    LPA/PageRank/triangle-census are order-free by construction — lock
    it by feeding the same graph shuffled and repartitioned."""
    import random

    from nifi_minifi_cpp_spark.analytics.graph import (
        label_propagation,
        pagerank,
        triangle_count,
    )

    edges = [(i, (i * 7 + 3) % 40) for i in range(1, 40)] + [(2, 39), (5, 17)]
    edges = [(a, b) for a, b in edges if a != b]
    rng = random.Random(7)
    shuffled = edges[:]
    rng.shuffle(shuffled)
    df1 = spark.createDataFrame(edges, "src long, dst long").repartition(1)
    df2 = spark.createDataFrame(shuffled, "src long, dst long").repartition(13)

    for iters in (2, 6):
        lpa1 = sorted(map(tuple, label_propagation(df1, iterations=iters).collect()))
        lpa2 = sorted(map(tuple, label_propagation(df2, iterations=iters).collect()))
        assert lpa1 == lpa2

    pr1 = {r["node"]: round(r["rank"], 9) for r in pagerank(df1, iterations=2).collect()}
    pr2 = {r["node"]: round(r["rank"], 9) for r in pagerank(df2, iterations=2).collect()}
    assert pr1 == pr2

    t1 = triangle_count(df1).collect()[0]
    t2 = triangle_count(df2).collect()[0]
    assert tuple(t1) == tuple(t2)


def test_triangle_count_broadcast_guard_plans(spark, monkeypatch):
    """VERDICT r10 #3: the adjacency broadcast must be droppable. Within
    the module dial (BROADCAST_MAX_NODES against the observed edge
    count) the adjacency table is broadcast; with the dial at 0 the
    same plan must be a shuffle join instead — the plan that survives
    billions of edges."""
    from nifi_minifi_cpp_spark.analytics import graph
    from nifi_minifi_cpp_spark.analytics.graph import triangle_count

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    df = spark.createDataFrame(k4, "src long, dst long")

    def plan_of(frame):
        return frame._jdf.queryExecution().executedPlan().toString()

    # prevent AQE/auto-broadcast from adding a broadcast of its own so
    # the dial itself is what's under test
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert "BroadcastHashJoin" in plan_of(triangle_count(df))

        monkeypatch.setattr(graph, "BROADCAST_MAX_NODES", 0)
        off = triangle_count(df)
        plan = plan_of(off)
        assert "BroadcastHashJoin" not in plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
        row = off.collect()[0]
        assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        triangle_count(df, orient="rank")


def test_triangle_count_degree_orientation(spark, monkeypatch):
    """orient='degree' (compact-forward, Schank & Wagner 2005) must
    count the same triangles as the id orientation — including on a
    hub-heavy graph where the orientations differ on most edges."""
    from nifi_minifi_cpp_spark.analytics import graph
    from nifi_minifi_cpp_spark.analytics.graph import triangle_count

    # star hub 0 joined to a ring over 1..8: triangles are exactly the
    # (0, i, i+1) fans = 8; hub degree 8 vs ring degree 3
    edges = [(0, i) for i in range(1, 9)] + [(i, i % 8 + 1) for i in range(1, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    by_id = triangle_count(df, orient="id").collect()[0]
    by_deg = triangle_count(df, orient="degree").collect()[0]
    assert tuple(by_id) == tuple(by_deg)
    assert by_id["n_triangles"] == 8

    # K4 under both orientations and both join strategies
    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    for dial in (graph.BROADCAST_MAX_NODES, 0):
        monkeypatch.setattr(graph, "BROADCAST_MAX_NODES", dial)
        row = triangle_count(k4, orient="degree").collect()[0]
        assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)


def test_bfs_hops_known_graph(spark):
    """Path 1-2-3-4-5 plus a branch 2-6: seed {1} gives exact hop
    counts; unreachable node 9 (isolated edge 8-9... absent) never
    appears; 3 iterations reach exactly hop 3."""
    from nifi_minifi_cpp_spark.analytics.graph import bfs_hops

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (7, 8)]
    sym = edges + [(b, a) for a, b in edges]
    e = spark.createDataFrame(sym, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["hop"] for r in bfs_hops(e, seeds, iterations=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 6: 2, 4: 3}
    # one more round reaches node 5; 7/8 stay unreachable
    got4 = {r["node"]: r["hop"] for r in bfs_hops(e, seeds, iterations=4).collect()}
    assert got4 == {1: 0, 2: 1, 3: 2, 6: 2, 4: 3, 5: 4}


def test_k_core_peel_known_graph(spark):
    """K4 plus a pendant chain: 2-core keeps exactly the K4 (pendant
    path peels over two cascading rounds)."""
    from nifi_minifi_cpp_spark.analytics.graph import k_core_peel

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    chain = [(4, 5), (5, 6)]  # 6 peels round 1, 5 peels round 2
    df = spark.createDataFrame(k4 + chain, "src long, dst long")
    row = k_core_peel(df, k=2, iterations=3).collect()[0]
    assert (row["n_nodes"], row["n_edges"]) == (4, 6)

    # k above the max degree empties the graph
    row0 = k_core_peel(df, k=10, iterations=2).collect()[0]
    assert (row0["n_nodes"], row0["n_edges"]) == (0, 0)


def test_hilbert_key_matches_model_and_is_continuous(spark):
    """hilbert_key_frame == the reference xy2d algorithm on the full
    16x16 grid; keys are a bijection and consecutive keys are ALWAYS
    manhattan-adjacent cells (the locality property Morton lacks —
    and the reason the layout family has both)."""
    from pyspark.sql import functions as F

    from nifi_minifi_cpp_spark.plans.layout import hilbert_key_frame

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    pts = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(pts, "x long, y long")
    out = hilbert_key_frame(df, F.col("x"), F.col("y"), bits=4).collect()
    assert all(r["hkey"] == xy2d(16, r["x"], r["y"]) for r in out)
    m = {r["hkey"]: (r["x"], r["y"]) for r in out}
    assert len(m) == 256
    assert all(
        abs(m[i][0] - m[i + 1][0]) + abs(m[i][1] - m[i + 1][1]) == 1
        for i in range(255)
    )
