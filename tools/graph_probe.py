"""100x edge-growth probe for the graph family (VERDICT r15 #6).

The graph block (PageRank/PPR/HITS/LPA/CC, BFS, k-core) is the largest
aggregate bench cost with only 10x probes on record. This probe replicates the
sf0.1 supplier-part edge list 1x/10x/100x with DISJOINT id shifts
(each replica is its own component — the realistic scale-out axis:
more keys, same per-key structure) and times the barriered-rounds
implementations at each scale. A barriered iteration is one slim
equi-join + one aggregation per round, so wall time should grow
~linearly in |E| with a flat per-round floor — that is the claim this
probe pins with numbers.

Usage: python tools/graph_probe.py [sf_dir]
Prints a markdown table to stdout (append the rows to
BENCH_SF1_NOTES.md with attribution).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from nifi_minifi_cpp_spark.analytics.graph import (
    bfs_hops,
    connected_components,
    hits,
    k_core_peel,
    label_propagation,
    pagerank,
)
from nifi_minifi_cpp_spark.entry_queries import sketches_temporal
from nifi_minifi_cpp_spark.entry_queries._shared import _supplier_part_edges
from nifi_minifi_cpp_spark.session import get_spark, load_table

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
# solo re-time of one leg: GRAPH_PROBE_REPLICAS=10 (comma-separated)
REPLICAS = [
    int(x) for x in os.environ.get("GRAPH_PROBE_REPLICAS", "1,10,100").split(",")
]
# subset of algorithm labels to run (comma-separated); empty = all
ALGOS = {a for a in os.environ.get("GRAPH_PROBE_ALGOS", "").split(",") if a}


def wanted(label: str) -> bool:
    return not ALGOS or label in ALGOS


def scaled_edges(spark, base, stride: int, replicas: int, tag: str = "sym"):
    """Union of ``replicas`` copies of the edge list, node ids shifted
    by ``rep * stride`` — disjoint components, identical per-replica
    structure. Staged to parquet so every timed run reads the same
    materialized input instead of re-running the explode."""
    out = f"/tmp/graph_probe_{tag}_edges_{replicas}x"
    if not os.path.exists(out):
        (
            base.withColumn("rep", F.explode(F.lit(list(range(replicas)))))
            .select(
                (F.col("src") + F.col("rep").cast("long") * stride).alias("src"),
                (F.col("dst") + F.col("rep").cast("long") * stride).alias("dst"),
            )
            .write.mode("overwrite")
            .parquet(out)
        )
    return spark.read.parquet(out)


def scaled_lineitem_dir(spark, li, replicas: int) -> str:
    """Stage a minimal lineitem table (the two id columns
    item_similarity_topk reads) with ``replicas`` disjoint copies —
    order and part key spaces both shifted per replica, so per-order
    basket structure (and the wedge-join fanout per order) is identical
    in every copy. Returns an sf_dir the registered entry reads as-is."""
    out = f"/tmp/itemsim_probe_{replicas}x"
    if not os.path.exists(f"{out}/lineitem.parquet"):
        base = li.select("l_orderkey", "l_partkey")
        so = base.agg(F.max("l_orderkey")).first()[0] + 2
        sp = base.agg(F.max("l_partkey")).first()[0] + 2
        (
            base.withColumn("rep", F.explode(F.lit(list(range(replicas)))))
            .select(
                (F.col("l_orderkey") + F.col("rep").cast("long") * so).alias(
                    "l_orderkey"
                ),
                (F.col("l_partkey") + F.col("rep").cast("long") * sp).alias(
                    "l_partkey"
                ),
            )
            .write.mode("overwrite")
            .parquet(f"{out}/lineitem.parquet")
        )
    return out


def timed(label: str, thunk) -> float:
    """Times CONSTRUCTION + EXECUTION: the iterative builders
    (connected_components and friends) materialize via eager
    localCheckpoint barriers inside the call, so wrapping only the
    final noop write would miss nearly all the work."""
    t0 = time.monotonic()
    df = thunk()
    df.write.format("noop").mode("overwrite").save()
    dt = time.monotonic() - t0
    print(f"    {label}: {dt:.2f}s", flush=True)
    return dt


def main() -> None:
    spark = get_spark("graph-probe", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    # GRAPH_PROBE_MAX_NODES=0 forces the >BROADCAST_MAX_NODES shuffled
    # fallback of every dial at any scale (VERDICT r16 #2: the fallback
    # path was untested at every SF) — the module constant is the dial.
    if os.environ.get("GRAPH_PROBE_MAX_NODES"):
        from nifi_minifi_cpp_spark.analytics import graph as _graph

        _graph.BROADCAST_MAX_NODES = int(os.environ["GRAPH_PROBE_MAX_NODES"])
        print(f"BROADCAST_MAX_NODES overridden to {_graph.BROADCAST_MAX_NODES}")
    li = load_table(spark, "lineitem", SF_DIR)
    base = _supplier_part_edges(li).localCheckpoint(eager=True)
    # supplier -> part only: ids are a subset of ``base``'s, so the
    # same stride keeps its replicas disjoint
    directed = _supplier_part_edges(li, symmetric=False)
    n_edges = base.count()
    stride = (
        base.agg(F.greatest(F.max("src"), F.max("dst"))).first()[0] + 2
    )
    print(f"base edges: {n_edges}, stride: {stride}")

    results: dict[str, dict[int, float]] = {}
    for r in REPLICAS:
        e = scaled_edges(spark, base, stride, r)
        print(f"-- {r}x ({n_edges * r} edges)")
        # same-session A/B of pagerank's two round shapes: the symmetric
        # edge list (every node has in- and out-edges) takes the dense
        # shape, the directed one the per-round zero-fill join
        if wanted("pagerank_3it"):
            results.setdefault("pagerank_3it", {})[r] = timed(
                "pagerank_3it", lambda: pagerank(e, iterations=3, damping=0.85)
            )
        if wanted("pagerank_3it_directed"):
            e_dir = scaled_edges(spark, directed, stride, r, tag="dir")
            results.setdefault("pagerank_3it_directed", {})[r] = timed(
                "pagerank_3it_directed",
                lambda: pagerank(e_dir, iterations=3, damping=0.85),
            )
        if wanted("connected_components"):
            results.setdefault("connected_components", {})[r] = timed(
                "connected_components", lambda: connected_components(e)
            )
        if wanted("hits_3it"):
            results.setdefault("hits_3it", {})[r] = timed(
                "hits_3it", lambda: hits(e, iterations=3)
            )
        if wanted("lpa_3it"):
            results.setdefault("lpa_3it", {})[r] = timed(
                "lpa_3it", lambda: label_propagation(e, iterations=3)
            )
        if wanted("bfs_3it"):
            # bfs_hop_histogram's seeds in every replica: suppliers 1-10
            # (packed ids 2..20) of each shifted copy
            base_id = F.col("src") % F.lit(stride)
            seeds = (
                e.filter((base_id <= 20) & (base_id % 2 == 0))
                .select(F.col("src").alias("node"))
                .distinct()
            )
            results.setdefault("bfs_3it", {})[r] = timed(
                "bfs_3it", lambda: bfs_hops(e, seeds, iterations=3)
            )
        if wanted("kcore_3it"):
            results.setdefault("kcore_3it", {})[r] = timed(
                "kcore_3it", lambda: k_core_peel(e, k=5, iterations=3)
            )
        if wanted("item_similarity_topk"):
            # the shipped entry itself, on a replica-scaled lineitem dir
            # (VERDICT r16 #2: the r16 barrier win was wall-flat at sf0.1)
            sim_dir = scaled_lineitem_dir(spark, li, r)
            results.setdefault("item_similarity_topk", {})[r] = timed(
                "item_similarity_topk",
                lambda: sketches_temporal.item_similarity_topk(spark, sim_dir),
            )

    header = " | ".join(f"{r}x s" for r in REPLICAS)
    print(f"\n| algorithm | {header} |")
    print("|---" * (1 + len(REPLICAS)) + "|")
    for name, row in results.items():
        cells = " | ".join(f"{row[r]:.2f}" for r in REPLICAS)
        print(f"| {name} | {cells} |")
    spark.stop()


if __name__ == "__main__":
    main()
