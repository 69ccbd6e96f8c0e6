"""Retrieval evals, sketches, routing sweeps, audits (r11 batch 2)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import configure
from ._shared import (
    _BM25_CTES,
    _BM25_SCORE_SQL,
    _cents,
    _drain,
    _int8_retrieval_ctes,
    _int8_top10,
    _kmeans_oracle_sql,
    _register,
    _stream_events_stage,
    _supplier_part_edges,
    _t,
)


def _kmeans_quality_oracle_sql(k: int, iters: int) -> str:
    """Quality-report twin of ``_kmeans_oracle_sql``: identical
    unrolled Lloyd CTEs, then cohesion = last-round members' exact
    squared distances to the FINAL (post-update) centroids, and
    separation = each final centroid's squared distance to its
    nearest other final centroid — all BIGINT."""
    base = _kmeans_oracle_sql(k, iters)
    prefix = base[: base.rindex("\n    SELECT s.cluster_id")]
    return (
        prefix
        + f"""
    , dfin AS (
      SELECT e.vec_id, a.c,
             CAST(sum((e.x - c.x) * (e.x - c.x)) AS BIGINT) AS dist
      FROM e JOIN a{iters} a ON e.vec_id = a.vec_id
             JOIN c{iters} c ON c.c = a.c AND c.dim = e.dim
      GROUP BY e.vec_id, a.c)
    , percluster AS (
      SELECT c AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
             CAST(sum(dist) AS BIGINT) AS sum_sq_dist
      FROM dfin GROUP BY c)
    , ic AS (
      SELECT a.c AS ca, b.c AS cb,
             CAST(sum((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d
      FROM c{iters} a JOIN c{iters} b ON a.dim = b.dim AND a.c <> b.c
      GROUP BY a.c, b.c)
    , mi AS (SELECT ca AS cluster_id,
                    CAST(min(d) AS BIGINT) AS min_intercentroid_sq
             FROM ic GROUP BY ca)
    SELECT p.cluster_id, p.n_members, p.sum_sq_dist, mi.min_intercentroid_sq
    FROM percluster p JOIN mi USING (cluster_id)
    ORDER BY p.cluster_id"""
    )


@_register("kmeans_cluster_quality", _kmeans_quality_oracle_sql(4, 3))
def kmeans_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality report (r11) — the Davies-Bouldin-shaped model
    eval run BEFORE a clustering feeds sampling decisions: per
    cluster, exact integer cohesion (sum of squared quantized
    distances of last-round members to the FINAL centroid) and
    separation (squared distance to the nearest other final
    centroid). Same fitted model as ``kmeans_embedding_clusters``
    (shared ``_lloyd`` loop); the extra work is ONE more
    broadcast-literal distance pass plus a k*k driver-side centroid
    table — both model-sized. Everything BIGINT: no float ratio whose
    rounding could split engines (the DB ratio itself is left to the
    caller holding both terms)."""
    from ..analytics.clustering import kmeans_quality

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_quality(emb, k=4, iterations=3)


@_register(
    "hard_negative_mining",
    r"""
    WITH q AS (SELECT vec_id AS qid, label AS qlabel,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 3),
    s AS (SELECT q.qid, e.vec_id AS neighbor_id, e.label AS neighbor_label,
                 list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sc
          FROM embeddings e, q WHERE e.label <> q.qlabel)
    SELECT qid, neighbor_id, neighbor_label, round(sc, 6) AS score
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                     ORDER BY sc DESC, neighbor_id) AS rn FROM s)
    WHERE rn <= 5
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining (r11) — the embedding-training data
    op: for each anchor (vec_id < 3), the 5 nearest neighbors that
    carry a DIFFERENT label — maximally confusable negatives, the
    pairs a contrastive fine-tune wants. Anchors broadcast (a bounded
    literal frame, the documented kNN ground-truth plan); the
    label-mismatch predicate rides the broadcast nested-loop join;
    per-anchor top-5 is one window over anchor-partitioned scores.
    For fleet-scale anchor sets, swap the broadcast for the IVF
    bucket join (``ivf_topk_vec0``) — same scoring, banded
    candidates."""
    from ..analytics.dedup import cosine
    from ..analytics.similarity import _as_double

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qv"),
    )
    pairs = emb.join(
        F.broadcast(probes), F.col("label") != F.col("qlabel")
    ).select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        cosine(
            _as_double(F.col("embedding")), _as_double(F.col("qv"))
        ).alias("sc"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("sc").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select(
            "qid",
            "neighbor_id",
            "neighbor_label",
            F.round(F.col("sc"), 6).alias("score"),
        )
    )


@_register(
    "filter_cascade_sweep",
    r"""
    WITH sig AS (
      SELECT len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tok,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
             length(text) AS n_char
      FROM documents),
    grid AS (SELECT mt.min_tok, dp.max_digit_pct
             FROM (VALUES (5), (10), (20), (50)) mt(min_tok),
                  (VALUES (1), (5), (10)) dp(max_digit_pct))
    SELECT CAST(g.min_tok AS BIGINT) AS min_tok,
           CAST(g.max_digit_pct AS BIGINT) AS max_digit_pct,
           CAST(sum(CASE WHEN s.n_tok >= g.min_tok
                     AND s.n_digit * 100 <= g.max_digit_pct * s.n_char
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
           CAST(sum(CASE WHEN s.n_tok >= g.min_tok
                     AND s.n_digit * 100 <= g.max_digit_pct * s.n_char
                     THEN s.n_tok ELSE 0 END) AS BIGINT) AS surviving_tokens
    FROM sig s, grid g
    GROUP BY g.min_tok, g.max_digit_pct
    """,
)
def filter_cascade_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-threshold sweep (r11) — cascade planning for a corpus
    cleaning pipeline: before committing to quality thresholds, sweep
    the (min-token, max-digit-ratio) grid and report survivor count
    and surviving token volume per combination — the yield curve that
    decides the operating point. One signal projection per document
    (token count + digit count, computed once), a 12-point literal
    grid exploded per row (bounded multiplier, no join), and a single
    hash aggregate; the digit-ratio test is cross-multiplied integers
    (n_digit*100 <= pct*n_char), never a float division."""
    docs = _t(spark, sf_dir, "documents")
    sig = docs.select(
        F.size(F.filter(F.split(F.col("text"), " "), lambda w: w != "")).alias(
            "n_tok"
        ),
        F.length(F.regexp_replace(F.col("text"), "[^0-9]", "")).alias("n_digit"),
        F.length(F.col("text")).alias("n_char"),
    )
    grid = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(mt).cast("long").alias("min_tok"),
                    F.lit(dp).cast("long").alias("max_digit_pct"),
                )
                for mt in (5, 10, 20, 50)
                for dp in (1, 5, 10)
            ]
        )
    ).alias("g")
    passes = (F.col("n_tok") >= F.col("g.min_tok")) & (
        F.col("n_digit") * 100 <= F.col("g.max_digit_pct") * F.col("n_char")
    )
    return (
        sig.select("n_tok", "n_digit", "n_char", grid)
        .groupBy(
            F.col("g.min_tok").alias("min_tok"),
            F.col("g.max_digit_pct").alias("max_digit_pct"),
        )
        .agg(
            F.sum(F.when(passes, 1).otherwise(0)).cast("long").alias("n_survivors"),
            F.sum(F.when(passes, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("surviving_tokens"),
        )
    )


@_register(
    "quarantine_routing_reasons",
    r"""
    WITH f AS (
      SELECT CASE WHEN value > 150 THEN 1 ELSE 0 END AS r_value,
             CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) >= 90
                  THEN 1 ELSE 0 END AS r_k,
             CASE WHEN user_id IS NULL THEN 1 ELSE 0 END AS r_user
      FROM events)
    SELECT 'value_gt_150' AS reason, CAST(sum(r_value) AS BIGINT) AS n_rows FROM f
    UNION ALL
    SELECT 'props_k_ge_90', CAST(sum(r_k) AS BIGINT) FROM f
    UNION ALL
    SELECT 'missing_user', CAST(sum(r_user) AS BIGINT) FROM f
    UNION ALL
    SELECT 'clean', CAST(sum(CASE WHEN r_value = 0 AND r_k = 0 AND r_user = 0
                                  THEN 1 ELSE 0 END) AS BIGINT) FROM f
    """,
)
def quarantine_routing_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level quarantine routing (r11) — the record-level half of
    the DQ story (``data_quality_checks`` asserts at table level;
    real pipelines also ROUTE individual bad records with WHY): each
    event is tested against three expectations (value bound, JSON
    prop bound, required field), the failed-check names become a
    per-row reasons array, and the report counts rows per reason plus
    the clean residue — a record can carry several reasons, so the
    counts are per-reason sums, not a partition. One projection +
    one aggregate; the JSON probe is ``get_json_object`` (codegen),
    no per-row Python."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    f = ev.select(
        F.when(F.col("value") > 150, 1).otherwise(0).alias("r_value"),
        F.when(k >= 90, 1).otherwise(0).alias("r_k"),
        F.when(F.col("user_id").isNull(), 1).otherwise(0).alias("r_user"),
    )
    agg = f.agg(
        F.sum("r_value").cast("long").alias("value_gt_150"),
        F.sum("r_k").cast("long").alias("props_k_ge_90"),
        F.sum("r_user").cast("long").alias("missing_user"),
        F.sum(
            F.when(
                (F.col("r_value") == 0) & (F.col("r_k") == 0) & (F.col("r_user") == 0),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("clean"),
    )
    return agg.select(
        F.stack(
            F.lit(4),
            F.lit("value_gt_150"),
            F.col("value_gt_150"),
            F.lit("props_k_ge_90"),
            F.col("props_k_ge_90"),
            F.lit("missing_user"),
            F.col("missing_user"),
            F.lit("clean"),
            F.col("clean"),
        ).alias("reason", "n_rows")
    )


@_register(
    "zonemap_stats_report",
    r"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS ndv_lang,
           CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_texts
    FROM documents GROUP BY source
    """,
)
def zonemap_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map statistics collection (r11) — the lakehouse
    maintenance op that powers file skipping: per shard (source),
    min/max of the clustering keys, volume, language NDV and null
    counts — exactly the column statistics a scan planner consults to
    prune shards before reading them (the batch analogue of parquet
    row-group stats; pairs with the Z-order/Hilbert layout entries
    that make these ranges tight). One hash aggregate; the
    count-distinct rides Catalyst's expand in the same pass."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").cast("long").alias("ndv_lang"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_texts"),
    )


@_register(
    "partial_agg_merge",
    r"""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST((2 * sum(CAST(round(value * 100) AS BIGINT)) + count(*))
                // (2 * count(*)) AS BIGINT) AS avg_cents
    FROM events GROUP BY event_type
    """,
)
def partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance by partial-aggregate merge (r11):
    the base snapshot (3/4 of events) and an append delta (the rest)
    are aggregated SEPARATELY and the partials merged algebraically —
    count adds, sums add, avg recomputed from merged exact cents with
    rational integer rounding — and the result must equal the oracle's
    single-pass aggregate over everything. This is the mergeability
    contract that makes 1000-executor aggregation (and incremental
    refresh of materialized aggregates under appends) correct: the
    aggregate state is a commutative monoid, demonstrated rather than
    assumed. The oracle deliberately takes the OTHER construction
    (full recompute)."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum(cents).alias("sc")
        )

    base = partial(ev.where(F.col("event_id") % 4 != 3))
    delta = partial(ev.where(F.col("event_id") % 4 == 3))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"), F.sum("sc").alias("sc"))
    )
    return merged.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("sc").cast("long").alias("total_cents"),
        F.expr("(2 * sc + n) DIV (2 * n)").cast("long").alias("avg_cents"),
    )


@_register(
    "personalized_pagerank_seeds",
    r"""
    WITH e AS (
      SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem
      UNION
      SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst FROM lineitem),
    nodes AS (SELECT DISTINCT src AS n FROM e),
    sd AS (SELECT n, CASE WHEN n IN (
             SELECT DISTINCT 's' || l_suppkey FROM lineitem WHERE l_suppkey <= 10)
           THEN 1 ELSE 0 END AS seed FROM nodes),
    nn AS (SELECT sum(seed) AS total FROM sd),
    deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
    r0 AS (SELECT n, seed::DOUBLE / total AS r FROM sd CROSS JOIN nn),
    it1 AS (SELECT e.dst AS n, sum(r0.r / deg.d) AS s
            FROM e JOIN r0 ON r0.n = e.src JOIN deg ON deg.src = e.src
            GROUP BY e.dst),
    r1 AS (SELECT sd.n, 0.15::DOUBLE * sd.seed / nn.total
                  + 0.85::DOUBLE * coalesce(it1.s, 0) AS r
           FROM sd CROSS JOIN nn LEFT JOIN it1 ON it1.n = sd.n),
    it2 AS (SELECT e.dst AS n, sum(r1.r / deg.d) AS s
            FROM e JOIN r1 ON r1.n = e.src JOIN deg ON deg.src = e.src
            GROUP BY e.dst),
    r2 AS (SELECT sd.n, 0.15::DOUBLE * sd.seed / nn.total
                  + 0.85::DOUBLE * coalesce(it2.s, 0) AS r
           FROM sd CROSS JOIN nn LEFT JOIN it2 ON it2.n = sd.n),
    it3 AS (SELECT e.dst AS n, sum(r2.r / deg.d) AS s
            FROM e JOIN r2 ON r2.n = e.src JOIN deg ON deg.src = e.src
            GROUP BY e.dst),
    r3 AS (SELECT sd.n, 0.15::DOUBLE * sd.seed / nn.total
                  + 0.85::DOUBLE * coalesce(it3.s, 0) AS r
           FROM sd CROSS JOIN nn LEFT JOIN it3 ON it3.n = sd.n)
    SELECT n AS node, round(r, 6) AS rank FROM r3 WHERE round(r, 6) > 0
    """,
)
def personalized_pagerank_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (r11, Haveliwala 2002) — relevance to a
    SEED SET rather than global importance: restart mass concentrates
    on suppliers 1-10 and the walk expands over the symmetrized
    supplier-part graph; the result ranks every node by proximity to
    the seeds — the "expand from these known-good domains" selection
    primitive for corpus curation. Same slim-join iteration shape as
    ``pagerank_supplier_parts`` (the seed flag joins once onto the
    node table; per-round cost unchanged) and the same PACKED-LONG
    node ids through every shuffle (the r11 bench caught the first
    cut shipping 's…'/'p…' STRINGS through three iterations: 28.6s
    vs the global entry's 8.3s — labels now decode only in the final
    projection; rank arithmetic is id-agnostic, so no value
    changes); nodes unreached in 3 hops
    round to 0 and are filtered on BOTH sides (their exact zero is
    engine-trivial, the interesting surface is the reached mass)."""
    from ..analytics.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    seeds = (
        li.where(F.col("l_suppkey") <= 10)
        .select((F.col("l_suppkey") * 2).alias("node"))
        .distinct()
    )
    r = pagerank(_supplier_part_edges(li), iterations=3, teleport=seeds)
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("s"), (F.col("node") / 2).cast("long").cast("string")),
    ).otherwise(
        F.concat(F.lit("p"), ((F.col("node") - 1) / 2).cast("long").cast("string"))
    )
    return r.select(label.alias("node"), F.round(F.col("rank"), 6).alias("rank")).where(
        F.col("rank") > 0
    )


@_register(
    "hll_window_distinct",
    r"""
    WITH w AS (
      SELECT epoch_us(ts) // 21600000000 AS bucket_id,
             user_id, md5(CAST(user_id AS VARCHAR)) AS hx
      FROM events),
    b AS (
      SELECT bucket_id, user_id,
             CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) % 64 AS bucket,
             CAST(('0x' || substr(hx, 9, 8)) AS BIGINT) AS v
      FROM w),
    r AS (
      SELECT bucket_id, bucket,
             max(CASE WHEN v > 0 THEN 33 - length(bin(v)) ELSE 33 END) AS m
      FROM b GROUP BY bucket_id, bucket),
    a AS (
      SELECT bucket_id, count(*) AS buckets_used,
             sum(power(0.5, m)) AS pinv
      FROM r GROUP BY bucket_id),
    x AS (SELECT bucket_id, count(DISTINCT user_id) AS exact_distinct
          FROM w GROUP BY bucket_id)
    SELECT a.bucket_id,
           CAST(a.buckets_used AS BIGINT) AS buckets_used,
           round(0.709 * 4096.0 / (pinv + (64 - buckets_used)), 2)
             AS hll_estimate,
           CAST(x.exact_distinct AS BIGINT) AS exact_distinct
    FROM a JOIN x USING (bucket_id)
    """,
)
def hll_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed HLL distinct-count (r11) — the sliding-dashboard
    flavor of ``hll_distinct_users``: per 6-hour tumbling bucket
    (integer epoch division — engine-portable, no window-struct
    types in the result), the 64-register HLL estimate next to the
    exact distinct for error accounting. The register table is
    bounded at 64 rows PER WINDOW regardless of event volume and
    merges by cell-wise max — the property that lets a streaming
    dashboard keep one tiny sketch per window instead of a distinct
    set. Register sums are powers of two (binary-exact doubles), so
    the estimate is deterministic cross-engine."""
    from ..analytics.sketches import hll_estimate, hll_registers

    ev = _t(spark, sf_dir, "events")
    # integer DIV, not float division + cast: a double quotient can
    # land a hair under the true integer and floor one bucket early
    w = ev.select(
        F.expr("unix_micros(ts) DIV 21600000000").alias("bucket_id"),
        "user_id",
    )
    regs = hll_registers(w, "user_id", group_cols=["bucket_id"])
    est = hll_estimate(regs, group_cols=["bucket_id"])
    exact = w.groupBy("bucket_id").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "bucket_id").select(
        "bucket_id",
        F.col("buckets_used").cast("long").alias("buckets_used"),
        F.round(F.col("hll_estimate"), 2).alias("hll_estimate"),
        "exact_distinct",
    )


@_register(
    "hits_hub_authority",
    r"""
    WITH e AS (
      SELECT DISTINCT 'c' || o_custkey AS s, 's' || l_suppkey AS d
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    n AS (SELECT s AS node FROM e UNION SELECT d FROM e),
    h0 AS (SELECT node, 1.0::DOUBLE AS hub FROM n),
    ar1 AS (SELECT d, sum(h0.hub) AS x FROM e JOIN h0 ON h0.node = e.s GROUP BY d),
    at1 AS (SELECT sum(x) AS t FROM ar1),
    a1 AS (SELECT n.node, coalesce(ar1.x, 0) / at1.t AS auth
           FROM n CROSS JOIN at1 LEFT JOIN ar1 ON ar1.d = n.node),
    hr1 AS (SELECT s, sum(a1.auth) AS x FROM e JOIN a1 ON a1.node = e.d GROUP BY s),
    ht1 AS (SELECT sum(x) AS t FROM hr1),
    h1 AS (SELECT n.node, coalesce(hr1.x, 0) / ht1.t AS hub
           FROM n CROSS JOIN ht1 LEFT JOIN hr1 ON hr1.s = n.node),
    ar2 AS (SELECT d, sum(h1.hub) AS x FROM e JOIN h1 ON h1.node = e.s GROUP BY d),
    at2 AS (SELECT sum(x) AS t FROM ar2),
    a2 AS (SELECT n.node, coalesce(ar2.x, 0) / at2.t AS auth
           FROM n CROSS JOIN at2 LEFT JOIN ar2 ON ar2.d = n.node),
    hr2 AS (SELECT s, sum(a2.auth) AS x FROM e JOIN a2 ON a2.node = e.d GROUP BY s),
    ht2 AS (SELECT sum(x) AS t FROM hr2),
    h2 AS (SELECT n.node, coalesce(hr2.x, 0) / ht2.t AS hub
           FROM n CROSS JOIN ht2 LEFT JOIN hr2 ON hr2.s = n.node)
    SELECT h2.node, round(h2.hub, 6) AS hub, round(a2.auth, 6) AS auth
    FROM h2 JOIN a2 ON a2.node = h2.node
    """,
)
def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (r11, Kleinberg 1999) — the ninth
    iterative-algorithm class, graded over the directed
    customer->supplier purchase graph (orders x lineitem): hub score
    ranks customers by how broadly they buy from authoritative
    suppliers, authority ranks suppliers by the hubs buying from
    them — the mutual-reinforcement ranking PageRank's single score
    can't express on a bipartite graph. Two synchronous rounds,
    L1-normalized half-steps (see ``analytics.graph.hits`` — L1
    keeps every value a plain ratio so the unrolled-CTE oracle is an
    independent reconstruction); customers keep auth = 0 and
    suppliers hub = 0 EXACTLY (no in-/out-edges), both sides emit
    them unfiltered. Node ids travel as packed longs (customer -> 2k,
    supplier -> 2k+1) through the iteration shuffles — the same
    encoding discipline as the other graph entries — and decode to
    the oracle's 'c…'/'s…' labels in the final projection only."""
    from ..analytics.graph import hits

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    r = hits(edges, iterations=2)
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c"), (F.col("node") / 2).cast("long").cast("string")),
    ).otherwise(
        F.concat(F.lit("s"), ((F.col("node") - 1) / 2).cast("long").cast("string"))
    )
    return r.select(
        label.alias("node"),
        F.round(F.col("hub"), 6).alias("hub"),
        F.round(F.col("auth"), 6).alias("auth"),
    )


@_register(
    "quantile_sketch_merge",
    r"""
    WITH vals AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
             l_orderkey % 2 AS half
      FROM lineitem WHERE l_extendedprice > 0),
    b AS (SELECT v, half, length(bin(v)) AS p FROM vals),
    k AS (SELECT v, half,
            CASE WHEN v < 8 THEN v
                 ELSE (p - 4) * 8 + (v >> (p - 4)) END AS bucket,
            CASE WHEN v < 8 THEN v
                 ELSE ((v >> (p - 4)) << (p - 4)) END AS lo,
            CASE WHEN v < 8 THEN v
                 ELSE ((((v >> (p - 4)) + 1) << (p - 4)) - 1) END AS hi
          FROM b),
    hist AS (SELECT bucket, lo, hi, count(*) AS n FROM k GROUP BY 1, 2, 3),
    halves AS (SELECT half, bucket, lo, hi, count(*) AS n FROM k GROUP BY 1, 2, 3, 4),
    merged AS (SELECT bucket, lo, hi, sum(n) AS n FROM halves GROUP BY 1, 2, 3),
    qs AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100))
           AS t(q, num, den)),
    cf AS (SELECT bucket, (lo + hi) // 2 AS mid,
                  sum(n) OVER (ORDER BY bucket) AS cum, sum(n) OVER () AS nt
           FROM hist),
    cm AS (SELECT bucket, (lo + hi) // 2 AS mid,
                  sum(n) OVER (ORDER BY bucket) AS cum, sum(n) OVER () AS nt
           FROM merged),
    fe AS (SELECT qs.q, max(cf.nt) AS n_total,
                  arg_min(cf.mid, cf.bucket) AS sketch_est
           FROM qs JOIN cf ON cf.cum >= (cf.nt * qs.num + qs.den - 1) // qs.den
           GROUP BY qs.q),
    me AS (SELECT qs.q, arg_min(cm.mid, cm.bucket) AS merged_est
           FROM qs JOIN cm ON cm.cum >= (cm.nt * qs.num + qs.den - 1) // qs.den
           GROUP BY qs.q),
    rn AS (SELECT v, row_number() OVER (ORDER BY v) AS r, count(*) OVER () AS nt
           FROM vals),
    ex AS (SELECT qs.q, min(rn.v) AS exact_cents
           FROM qs JOIN rn ON rn.r = (rn.nt * qs.num + qs.den - 1) // qs.den
           GROUP BY qs.q)
    SELECT fe.q AS quantile,
           CAST(fe.n_total AS BIGINT) AS n_total,
           CAST(fe.sketch_est AS BIGINT) AS sketch_est,
           CAST(me.merged_est AS BIGINT) AS merged_est,
           CAST(ex.exact_cents AS BIGINT) AS exact_cents,
           CAST(abs(fe.sketch_est - ex.exact_cents) * 1000 // ex.exact_cents
                AS BIGINT) AS err_permille
    FROM fe JOIN me ON me.q = fe.q JOIN ex ON ex.q = fe.q
    """,
)
def quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log-bucket quantile sketch (r11) — the quantile
    member of the sketch family next to HLL (cardinality), count-min
    (frequency), and bloom (membership): p50/p90/p99 of lineitem
    price cents from a DDSketch-flavored histogram
    (``analytics.sketches.logbucket_histogram`` — 8 integer-exact
    sub-buckets per octave, bit-length bucketing, never a float log)
    with THREE legs per quantile: the full-scan sketch estimate, the
    estimate from two per-half sketches MERGED by summing bucket
    counts (must equal the full sketch — the 1000-executor
    no-coordination property, demonstrated not assumed), and the
    exact nearest-rank order statistic with the error in integer
    permille. The exact leg is the eval-only global sort; the sketch
    IS the 100 TB path (a ≤488-row table per shard)."""
    from pyspark.sql import Window

    from ..analytics.sketches import logbucket_histogram

    vals = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_extendedprice") > 0)
        .select(
            _cents(F.col("l_extendedprice")).alias("v"),
            (F.col("l_orderkey") % 2).alias("half"),
        )
    )
    # ONE histogram build reused by all three quantiles (the sketch is
    # ~488 rows, so the per-quantile extraction below is a broadcast
    # NLJ of a 3-row literal frame against a bounded table — the
    # lineitem scan happens once for the full sketch, once for the
    # halves, once for the exact eval leg; never per quantile)
    qs = F.broadcast(
        spark.createDataFrame(
            [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)],
            "quantile string, num int, den int",
        )
    )
    hist = logbucket_histogram(vals, "v")
    merged = (
        logbucket_histogram(vals, "v", group_cols=["half"])
        .groupBy("bucket", "lo", "hi")
        .agg(F.sum("n").alias("n"))
    )

    def _cum(h: DataFrame) -> DataFrame:
        w = Window.partitionBy(F.lit(1)).orderBy("bucket")
        return h.select(
            "bucket",
            ((F.col("lo") + F.col("hi")) / 2).cast("long").alias("mid"),
            F.sum("n").over(w).alias("cum"),
            F.sum("n").over(
                w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ).alias("nt"),
        )

    rank = F.expr("(nt * num + den - 1) DIV den")
    fe = (
        _cum(hist)
        .join(qs, F.col("cum") >= rank)
        .groupBy("quantile")
        .agg(
            F.max("nt").cast("long").alias("n_total"),
            F.min_by("mid", "bucket").cast("long").alias("sketch_est"),
        )
    )
    me = (
        _cum(merged)
        .join(qs, F.col("cum") >= rank)
        .groupBy("quantile")
        .agg(F.min_by("mid", "bucket").cast("long").alias("merged_est"))
    )
    rn = vals.select(
        "v",
        F.row_number().over(Window.orderBy("v")).alias("r"),
        F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("nt"),
    )
    ex = (
        rn.join(qs, F.col("r") == rank)
        .groupBy("quantile")
        .agg(F.min("v").cast("long").alias("exact_cents"))
    )
    return (
        fe.join(me, "quantile")
        .join(ex, "quantile")
        .select(
            "quantile",
            "n_total",
            "sketch_est",
            "merged_est",
            "exact_cents",
            F.expr("abs(sketch_est - exact_cents) * 1000 DIV exact_cents")
            .cast("long")
            .alias("err_permille"),
        )
    )


@_register(
    "rrf_hybrid_topk",
    _BM25_CTES
    + rf""",
    lex20 AS (
      SELECT doc_id,
        {_BM25_SCORE_SQL}
        AS score
      FROM per, st
      ORDER BY score DESC, doc_id ASC LIMIT 20),
    lex AS (SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
            FROM lex20),
    cos20 AS (
      SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], q.qv) AS s
      FROM embeddings,
           (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
      ORDER BY s DESC, vec_id LIMIT 20),
    cos AS (SELECT vec_id AS doc_id,
                   row_number() OVER (ORDER BY s DESC, vec_id) AS vec_rank
            FROM cos20),
    f AS (SELECT coalesce(lex.doc_id, cos.doc_id) AS doc_id,
                 lex.lex_rank, cos.vec_rank,
                 coalesce(1.0::DOUBLE / (60 + lex.lex_rank), 0)
                   + coalesce(1.0::DOUBLE / (60 + cos.vec_rank), 0) AS rrf
          FROM lex FULL OUTER JOIN cos ON cos.doc_id = lex.doc_id)
    SELECT doc_id,
           CAST(coalesce(lex_rank, 0) AS BIGINT) AS lex_rank,
           CAST(coalesce(vec_rank, 0) AS BIGINT) AS vec_rank,
           round(rrf, 6) AS rrf_score
    FROM f ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank-fusion hybrid retrieval (r11; Cormack et al.
    2009, "Reciprocal rank fusion outperforms Condorcet") — the RAG
    answer-pipeline primitive the repo's two retrieval legs were
    missing a roof over: the BM25 lexical top-20 (query {merge, scan,
    window}) and the dense cosine top-20 (query = embedding of doc 0;
    doc_id and vec_id share the id space — TESTDATA.md) fuse by
    rrf(d) = Σ_legs 1/(60 + rank_leg(d)), the rank-only formula that
    needs NO score calibration between BM25 and cosine scales.
    Candidates outside a leg's top-20 contribute 0 from that leg
    (rank reported as 0). 1/(60+r) is one IEEE division on small
    integers — bit-identical cross-engine, so the fused ordering is
    deterministic. 100 TB shape: each leg is its own bounded top-k
    (TakeOrderedAndProject — no global sort), the fusion is a full
    outer join of two 20-row frames."""
    from pyspark.sql import Window

    from ..analytics.similarity import cosine_topk
    from ..analytics.text_analysis import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_scores(docs, ["merge", "scan", "window"], top_k=20).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("lex_rank"),
    )
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    den = cosine_topk(emb, qv, k=20).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("vec_id")))
        .alias("vec_rank"),
    )
    fused = lex.join(den, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("vec_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
        .select(
            "doc_id",
            F.coalesce(F.col("lex_rank"), F.lit(0)).cast("long").alias("lex_rank"),
            F.coalesce(F.col("vec_rank"), F.lit(0)).cast("long").alias("vec_rank"),
            F.round(F.col("rrf"), 6).alias("rrf_score"),
        )
    )


@_register(
    "edit_distance_name_pairs",
    r"""
    WITH n AS (SELECT p_name, count(*) AS n_parts FROM part GROUP BY p_name)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           CAST(a.n_parts AS BIGINT) AS n_parts_a,
           CAST(b.n_parts AS BIGINT) AS n_parts_b
    FROM n a JOIN n b
      ON a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def edit_distance_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate pairs (r11) — the one near-dup
    flavor the dedup family lacked (MinHash/SimHash/Jaccard/
    containment/embedding cover token and vector space; typo-class
    variants like 'cold plate' / 'old plate' need CHARACTER edits):
    catalog-name canonicalization over the part-name vocabulary.

    100 TB shape: dedup runs on the DISTINCT-name vocabulary (with
    per-name part counts carried for canonicalization reach), never
    the row table; candidates come from MULTI-PASS BLOCKING (Papadakis
    et al. 2020 blocking survey) — a name enters one block per
    distinct token of its first+last token pair, pairs must co-occur
    in some block — with the |len(a)-len(b)| <= 2 length lower bound
    applied INSIDE the join condition before any DP runs; the O(L^2)
    levenshtein verifies only surviving candidates. Recall caveat
    (documented, not hidden): a pair whose EVERY blocking token was
    edited can be missed — the standard blocking trade; the ORACLE is
    the exact all-pairs join over the vocabulary, so grading proves
    blocking lost nothing on this corpus rather than mirroring the
    engine's shortcut."""
    parts = _t(spark, sf_dir, "part")
    names = parts.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    toks = F.split(F.col("p_name"), " ")
    keyed = names.select(
        "p_name",
        "n_parts",
        F.explode(
            F.array_distinct(
                F.array(F.element_at(toks, 1), F.element_at(toks, -1))
            )
        ).alias("blk"),
    )
    a = keyed.select(
        F.col("blk"),
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
    )
    b = keyed.select(
        F.col("blk"),
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
    )
    cand = (
        a.join(
            b,
            (a["blk"] == b["blk"])
            & (F.col("name_a") < F.col("name_b"))
            & (
                F.abs(F.length("name_a") - F.length("name_b")) <= 2
            ),
        )
        .select("name_a", "name_b", "n_parts_a", "n_parts_b")
        .distinct()
    )
    return cand.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("long").alias("dist"),
        F.col("n_parts_a").cast("long"),
        F.col("n_parts_b").cast("long"),
    ).where(F.col("dist") <= 2)


@_register(
    "hourly_trend_by_type",
    r"""
    WITH h AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS eh FROM events),
    mn AS (SELECT min(eh) AS m FROM h),
    c AS (SELECT event_type, eh - m AS x, count(*) AS y
          FROM h CROSS JOIN mn GROUP BY 1, 2),
    s AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * x) AS sxx, sum(x * y) AS sxy
          FROM c GROUP BY 1),
    d AS (SELECT event_type, n, sy,
                 n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
          FROM s WHERE n >= 2)
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           CAST(sy AS BIGINT) AS total_events,
           CAST(CASE WHEN num >= 0
                THEN (2 * num * 1000000 + den) // (2 * den)
                ELSE -((2 * (-num) * 1000000 + den) // (2 * den)) END
                AS BIGINT) AS slope_micro
    FROM d
    """,
)
def hourly_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key OLS trend (r11) — "is this event type growing or
    decaying, and how fast": least-squares slope of the hourly count
    series per event type, computed ENTIRELY from the five
    sufficient-statistic sums (n, Σx, Σy, Σx², Σxy) so the whole
    regression is one hash aggregate per key — the sums partial-
    aggregate map-side; no per-key series ever materializes (the
    mergeability that makes per-key regression free at 100 TB).
    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) emitted in integer
    MICRO-units via the repo's rational half-up rounding
    ((2·num·10⁶ + den) DIV (2·den), sign-handled) — never a raw
    double round, the seasonal_dow_profile cross-engine trap. Hour
    indexes are re-based to the global minimum so every product stays
    far inside BIGINT up to ~100× this fixture's hourly volume; past
    that, ``scale.exact_sum`` lifts the sums (and therefore num/den —
    Spark's decimal type inference propagates through the products)
    to DECIMAL(38,0) when ``SPARK_GRAFT_EXPECTED_ROWS`` crosses the
    escalation threshold, bit-equal either way (tests/test_scale.py),
    oracle unchanged."""
    from ..scale import exact_sum

    ev = _t(spark, sf_dir, "events")
    h = ev.select(
        "event_type", F.expr("unix_micros(ts) DIV 3600000000").alias("eh")
    )
    mn = F.broadcast(h.groupBy().agg(F.min("eh").alias("m")))
    c = (
        h.crossJoin(mn)
        .select("event_type", (F.col("eh") - F.col("m")).alias("x"))
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    s = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(F.col("x")).alias("sx"),
        exact_sum(F.col("y")).alias("sy"),
        exact_sum(F.col("x") * F.col("x")).alias("sxx"),
        exact_sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # num/den PRODUCTS always in DECIMAL(38,0) — they overflow int64
    # well before the sums (r14 review finding); O(groups) rows, and
    # Spark's integer DIV is defined on decimals so the rational
    # rounding below is unchanged (bit-equality pinned in
    # tests/test_controller_scale.py)
    dec = "decimal(38,0)"
    d = s.where(F.col("n") >= 2).select(
        "event_type",
        "n",
        "sy",
        (F.col("n").cast(dec) * F.col("sxy").cast(dec) - F.col("sx").cast(dec) * F.col("sy").cast(dec)).alias("num"),
        (F.col("n").cast(dec) * F.col("sxx").cast(dec) - F.col("sx").cast(dec) * F.col("sx").cast(dec)).alias("den"),
    )
    slope = F.when(
        F.col("num") >= 0, F.expr("(2 * num * 1000000 + den) DIV (2 * den)")
    ).otherwise(-F.expr("(2 * (-num) * 1000000 + den) DIV (2 * den)"))
    return d.select(
        "event_type",
        F.col("n").cast("long").alias("n_hours"),
        F.col("sy").cast("long").alias("total_events"),
        slope.cast("long").alias("slope_micro"),
    )


@_register(
    "streaming_hll_window",
    r"""
    WITH w AS (
      SELECT epoch_us(ts) // 21600000000 AS bucket_id,
             md5(CAST(user_id AS VARCHAR)) AS hx
      FROM events),
    b AS (
      SELECT bucket_id,
             CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) % 64 AS bucket,
             CAST(('0x' || substr(hx, 9, 8)) AS BIGINT) AS v
      FROM w),
    r AS (
      SELECT bucket_id, bucket,
             max(CASE WHEN v > 0 THEN 33 - length(bin(v)) ELSE 33 END) AS m
      FROM b GROUP BY bucket_id, bucket)
    SELECT bucket_id, CAST(count(*) AS BIGINT) AS buckets_used,
           round(0.709 * 4096.0 / (sum(power(0.5, m)) + (64 - count(*))), 2)
             AS hll_estimate
    FROM r GROUP BY bucket_id
    """,
)
def streaming_hll_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING windowed HLL (r11) — the follow-through on the batch
    entry's claim (``hll_window_distinct``: "one tiny sketch per
    window instead of a distinct set"): Structured Streaming maintains
    the 64-register HLL PER 6-HOUR EVENT-TIME WINDOW as its streaming
    state — groupBy(window, register-bucket) max(rho) is an ordinary
    streaming aggregation whose state is bounded at 64 rows per
    window regardless of event volume (a streaming countDistinct
    would hold every user id). The memory sink holds exactly that
    register state; the finalize (sum of exact powers of two →
    estimate) folds the sink batch-side, mirroring a dashboard read.
    Oracle = the same md5 register construction in DuckDB SQL — the
    estimate is bit-deterministic (every 2^-m is a single binary
    digit, summation order irrelevant), so streaming state, batch
    query, and oracle must agree to the cent."""
    import shutil as _shutil
    import uuid as _uuid

    from ..analytics.sketches import hll_estimate

    configure(spark)
    stage = _stream_events_stage(spark, sf_dir)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    raw = spark.readStream.schema(schema).parquet(stage)
    h = F.md5(F.col("user_id").cast("string"))
    bucket = (F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % 64).alias("bucket")
    v = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    rho = (
        F.when(v > 0, F.lit(33) - F.length(F.bin(v)))
        .otherwise(F.lit(33))
        .cast("int")
        .alias("rho")
    )
    regs = (
        raw.withWatermark("ts", "1 hour")
        .select(F.window("ts", "6 hours").alias("win"), bucket, rho)
        .groupBy("win", "bucket")
        .agg(F.max("rho").alias("m"))
    )
    view = f"stream_hll_{_uuid.uuid4().hex[:8]}"
    try:
        _drain(spark, regs.writeStream.format("memory").queryName(view).outputMode("complete"))
    finally:
        _shutil.rmtree(stage, ignore_errors=True)
    state = spark.table(view).select(
        F.expr("unix_micros(win.start) DIV 21600000000").alias("bucket_id"),
        "bucket",
        "m",
    )
    return hll_estimate(state, group_cols=["bucket_id"]).select(
        "bucket_id",
        F.col("buckets_used").cast("long").alias("buckets_used"),
        F.round(F.col("hll_estimate"), 2).alias("hll_estimate"),
    )


@_register(
    "int8_recall_eval",
    _int8_retrieval_ctes("query_id, nid", "query_id, nid")
    + r"""
    ov AS (SELECT ex.query_id, count(*) AS n
           FROM ex JOIN qr ON qr.query_id = ex.query_id AND qr.nid = ex.nid
           GROUP BY 1),
    qs AS (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 20)
    SELECT qs.query_id, CAST(coalesce(ov.n, 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(ov.n, 0) * 10 AS BIGINT) AS recall_pct
    FROM qs LEFT JOIN ov USING (query_id)
    """,
)
def int8_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-retrieval recall accounting (r11) — the eval that
    decides whether the int8 index (embedding_quantize_int8 /
    embedding_gram_upper) is allowed to replace float search:
    recall@10 per query (vec_id < 20) of DEQUANTIZED-int8 cosine
    top-10 against exact float cosine top-10 (``_int8_top10``). The
    recall integers are exact, not tolerance-compared. 100 TB
    shape: the query side broadcasts (bounded query set — recall
    evals sample queries, never all-pairs); corpus-side cost is one
    pass per leg + a per-query top-k window; the scale array is the
    quantizer's existing one-row broadcast."""
    from ..analytics.similarity import knn_join_exact

    emb = _t(spark, sf_dir, "embeddings")
    exact = knn_join_exact(emb.filter(F.col("vec_id") < 20), emb, k=10).select(
        "query_id", F.col("neighbor_id").alias("nid")
    )
    quant = _int8_top10(emb, "rk").select("query_id", "nid")
    ov = (
        exact.join(quant, ["query_id", "nid"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    qs = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id")
    ).distinct()
    return qs.join(ov, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_overlap"),
        (F.coalesce(F.col("n"), F.lit(0)) * 10).cast("long").alias("recall_pct"),
    )


@_register(
    "nearest_event_alignment",
    r"""
    WITH c AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS pid, ts AS pts
          FROM events WHERE event_type = 'purchase'),
    j AS (SELECT p.pid, p.user_id, p.pts, c.cts,
            abs(epoch_us(c.cts) - epoch_us(p.pts)) AS d
          FROM p JOIN c ON c.user_id = p.user_id
            AND c.cts >= p.pts - INTERVAL 1 HOUR
            AND c.cts < p.pts + INTERVAL 1 HOUR),
    m AS (SELECT pid, user_id, pts, cts, d FROM (
            SELECT pid, user_id, pts, cts, d,
                   row_number() OVER (PARTITION BY pid ORDER BY d, cts) AS rn
            FROM j) WHERE rn = 1)
    SELECT pid, user_id, CAST(d AS BIGINT) AS delta_us,
           CASE WHEN cts < pts THEN 'before'
                WHEN cts > pts THEN 'after' ELSE 'same' END AS direction
    FROM m
    """,
)
def nearest_event_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event join (r11) — the FIFTH temporal-join flavor
    (as-of = latest prior; first-touch = earliest in look-back;
    range = exists-within; interval = stream pairs; this = CLOSEST in
    EITHER direction): each purchase aligns to its user's nearest
    click within ±1 hour — the sensor/log alignment primitive
    ("match each reading to the closest calibration event"). Runs on
    the same binned ``range_join`` scale path (hash equi-join on
    (user, bin) + exact containment — no inequality scan), then ONE
    min_by hash aggregate picks the (|Δ|, ts)-minimal click per
    purchase — map-side combinable, no per-purchase sort-window. The
    |Δt| is integer microseconds (exact); ties at equal distance
    break to the earlier click deterministically."""
    from ..operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end"),
    )
    j = range_join(
        clicks,
        purch,
        point_col="cts",
        start_col="w_start",
        end_col="w_end",
        on="user_id",
    ).select(
        "pid",
        "user_id",
        "pts",
        "cts",
        F.abs(F.unix_micros("cts") - F.unix_micros("pts")).alias("d"),
    )
    win = j.groupBy("pid", "user_id", "pts").agg(
        F.min_by(
            F.struct(F.col("cts"), F.col("d")),
            F.struct(F.col("d"), F.col("cts")),
        ).alias("w")
    )
    return win.select(
        "pid",
        "user_id",
        F.col("w.d").cast("long").alias("delta_us"),
        F.when(F.col("w.cts") < F.col("pts"), F.lit("before"))
        .when(F.col("w.cts") > F.col("pts"), F.lit("after"))
        .otherwise(F.lit("same"))
        .alias("direction"),
    )


@_register(
    "k_anonymity_audit",
    r"""
    WITH g AS (
      SELECT c_mktsegment, c_nationkey, count(*) AS sz
      FROM customer GROUP BY 1, 2)
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_small_groups,
           CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           CAST(min(sz) AS BIGINT) AS min_group_size
    FROM g GROUP BY c_mktsegment
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (r11; Sweeney 2002) — the release-gating
    governance check next to the GDPR delete-plan and retention
    entries: group the table by its quasi-identifier tuple
    (market segment × nation — the kind of columns that re-identify
    when a group is small), and report per segment how many QI
    groups fall below k = 10 and how many ROWS sit in those
    re-identifiable groups (the suppression work list). Two hash
    aggregates, both map-side combinable; the QI group table is the
    only shuffle and is bounded by QI-combination cardinality, not
    row count."""
    cust = _t(spark, sf_dir, "customer")
    g = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return g.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((F.col("sz") < 10).cast("long")).cast("long").alias("n_small_groups"),
        F.sum(F.when(F.col("sz") < 10, F.col("sz")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_at_risk"),
        F.min("sz").cast("long").alias("min_group_size"),
    )


@_register(
    "zonemap_pruning_eval",
    r"""
    WITH zm AS (
      SELECT source, min(n_chars) AS mn, max(n_chars) AS mx,
             count(*) AS n_docs
      FROM documents GROUP BY source),
    preds AS (SELECT * FROM (VALUES
        ('chars_lt_200', 0, 199),
        ('chars_500_1000', 500, 1000),
        ('chars_gt_2000', 2001, 9223372036854775807))
      AS t(predicate, lo, hi)),
    sk AS (
      SELECT p.predicate, zm.n_docs,
             CASE WHEN zm.mx < p.lo OR zm.mn > p.hi THEN 1 ELSE 0 END AS skip
      FROM zm CROSS JOIN preds p),
    agg AS (
      SELECT predicate,
             CAST(count(*) AS BIGINT) AS n_shards,
             CAST(sum(skip) AS BIGINT) AS n_shards_skipped,
             CAST(sum(CASE WHEN skip = 1 THEN n_docs ELSE 0 END) AS BIGINT)
               AS rows_skipped,
             CAST(sum(CASE WHEN skip = 0 THEN n_docs ELSE 0 END) AS BIGINT)
               AS rows_scanned
      FROM sk GROUP BY predicate),
    hits AS (
      SELECT p.predicate, CAST(count(*) FILTER (
               d.n_chars >= p.lo AND d.n_chars <= p.hi) AS BIGINT) AS n_matching
      FROM documents d CROSS JOIN preds p GROUP BY p.predicate)
    SELECT agg.predicate, n_shards, n_shards_skipped, rows_skipped,
           rows_scanned, n_matching
    FROM agg JOIN hits ON hits.predicate = agg.predicate
    """,
)
def zonemap_pruning_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning evaluation (r11) — closes the loop the
    zonemap_stats_report opened (stats COLLECTION): given the
    per-shard [min, max] zone maps on n_chars, evaluate a predicate
    set the way a lake planner would — a shard is SKIPPED iff its
    zone is disjoint from the predicate range (max < lo or min > hi,
    the Parquet row-group / Iceberg manifest pruning rule) — and
    report per predicate the shards skipped, rows avoided, rows
    scanned, and the true matching rows (scan amplification =
    rows_scanned vs n_matching is exactly what Z-order/Hilbert
    clustering improves; this eval is how you'd prove it on real
    data). The zone-map table is bounded by shard count, so the
    predicate join is a broadcast of a 3-row literal frame; the
    true-hit leg is one slim-column pass with per-predicate
    conditional sums."""
    docs = _t(spark, sf_dir, "documents")
    preds = F.broadcast(
        spark.createDataFrame(
            [
                ("chars_lt_200", 0, 199),
                ("chars_500_1000", 500, 1000),
                ("chars_gt_2000", 2001, 9223372036854775807),
            ],
            "predicate string, lo long, hi long",
        )
    )
    zm = docs.groupBy("source").agg(
        F.min("n_chars").alias("mn"),
        F.max("n_chars").alias("mx"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    sk = zm.crossJoin(preds).select(
        "predicate",
        "n_docs",
        F.when((F.col("mx") < F.col("lo")) | (F.col("mn") > F.col("hi")), 1)
        .otherwise(0)
        .alias("skip"),
    )
    agg = sk.groupBy("predicate").agg(
        F.count(F.lit(1)).cast("long").alias("n_shards"),
        F.sum("skip").cast("long").alias("n_shards_skipped"),
        F.sum(F.when(F.col("skip") == 1, F.col("n_docs")).otherwise(0))
        .cast("long")
        .alias("rows_skipped"),
        F.sum(F.when(F.col("skip") == 0, F.col("n_docs")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
    )
    hits = (
        docs.select("n_chars")
        .crossJoin(preds)
        .groupBy("predicate")
        .agg(
            F.sum(
                ((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi"))).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("n_matching")
        )
    )
    return agg.join(hits, "predicate")


@_register(
    "user_activity_coverage",
    r"""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
      FROM events),
    m AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM iv),
    g AS (
      SELECT user_id, s, e,
             sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM m),
    isl AS (
      SELECT user_id, island, min(s) AS i_start, max(e) AS i_end
      FROM g GROUP BY user_id, island)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(i_end - i_start) AS BIGINT) AS covered_us,
           CAST(max(i_end) - min(i_start) AS BIGINT) AS span_us
    FROM isl GROUP BY user_id
    """,
)
def user_activity_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage (r11) — the islands complement of
    timeline_gap_report's gaps: treat each event as a 5-minute
    activity interval [ts, ts+5m), merge overlaps per user
    (gaps-and-islands: a new island starts when an interval's start
    clears the running max of prior ends), and report per user the
    merged island count, total COVERED microseconds (the union
    measure — overlaps counted once, the billing/engagement
    primitive), and the first-to-last span. Integer microseconds
    end-to-end. One window pass (running max + island cumsum) + two
    hash aggregates, all partitioned by user — at 100 TB the window
    shuffles each user's slim (s, e) pairs once; no self-join, no
    interval explosion."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + 300_000_000).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    m = iv.withColumn(
        "prev_max",
        F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)),
    )
    g = m.withColumn(
        "island",
        F.sum(
            (
                F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max"))
            ).cast("int")
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    isl = g.groupBy("user_id", "island").agg(
        F.min("s").alias("i_start"), F.max("e").alias("i_end")
    )
    return isl.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).cast("long").alias("covered_us"),
        (F.max("i_end") - F.min("i_start")).cast("long").alias("span_us"),
    )
