"""Sequential/statistical operators and retrieval evals (r11-r12 close)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import configure
from ._shared import (
    _BIGRAM_CTES,
    _cents,
    _int8_retrieval_ctes,
    _int8_top10,
    _register,
    _supplier_part_edges,
    _t,
)


def _lttb_oracle_sql(k: int = 10) -> str:
    """Unrolled LTTB oracle (the power-iteration pattern: one CTE
    chain per sequential bucket step, since the pick in bucket j
    depends on the pick in bucket j-1). Pure integer arithmetic —
    the engine and DuckDB must agree bit-for-bit."""
    steps = []
    for j in range(k):
        b_lo = f"1 + ({j} * (L - 2)) // {k}"
        b_hi = f"1 + ({j + 1} * (L - 2)) // {k}"
        b_hi2 = f"1 + ({j + 2} * (L - 2)) // {k}" if j + 1 < k else "L"
        prev = f"s{j - 1}" if j else "s0i"
        steps.append(
            f"""
    n{j} AS (
      SELECT g, count(*) AS c, sum(t) AS nts, sum(y) AS nys
      FROM idx JOIN lt USING (g)
      WHERE i >= {b_hi} AND i < {b_hi2} GROUP BY g),
    s{j} AS (
      SELECT g, t, y FROM (
        SELECT c.g, c.t, c.y,
               row_number() OVER (PARTITION BY c.g ORDER BY
                 abs(p.pt * (c.y * n.c - n.nys) + c.t * (n.nys - p.py * n.c)
                     + n.nts * (p.py - c.y)) DESC, c.t) AS rn
        FROM (SELECT g, t, y, i FROM idx JOIN lt USING (g)) c
        JOIN (SELECT g, t AS pt, y AS py FROM {prev}) p USING (g)
        JOIN n{j} n USING (g)
        JOIN lt USING (g)
        WHERE c.i >= {b_lo} AND c.i < {b_hi}
      ) WHERE rn = 1)"""
        )
    unions = "\n    UNION ALL ".join(
        f"SELECT g, {j + 1} AS o, t, y FROM s{j}" for j in range(k)
    )
    return f"""
    WITH h AS (
      SELECT event_type AS g, epoch_us(ts) // 3600000000 AS t,
             sum(CAST(round(value * 100) AS BIGINT)) AS y
      FROM events GROUP BY 1, 2),
    idx AS (
      SELECT g, t, y, row_number() OVER (PARTITION BY g ORDER BY t) - 1 AS i
      FROM h),
    lt AS (SELECT g, count(*) AS L FROM idx GROUP BY g HAVING count(*) >= {k + 2}),
    s0i AS (SELECT g, t, y FROM idx JOIN lt USING (g) WHERE i = 0),
    slast AS (SELECT g, t, y FROM idx JOIN lt USING (g) WHERE i = L - 1),{",".join(steps)}
    SELECT g AS event_type, CAST(o AS BIGINT) AS pick_order,
           CAST(t AS BIGINT) AS t_hour, CAST(y AS BIGINT) AS y_cents
    FROM (
      SELECT g, 0 AS o, t, y FROM s0i
      UNION ALL {unions}
      UNION ALL SELECT g, {k + 1} AS o, t, y FROM slast)
    """


def _holt_oracle_sql(horizon: int = 6) -> str:
    """Recursive-CTE Holt oracle: the identical integer recursion
    (alpha = beta = 1/2, explicit floor after each halving) run by
    DuckDB's WITH RECURSIVE, one row per (group, step)."""
    return f"""
    WITH RECURSIVE h AS (
      SELECT event_type AS g, epoch_us(ts) // 3600000000 AS t,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    idx AS (
      SELECT g, y, row_number() OVER (PARTITION BY g ORDER BY t) AS i
      FROM h),
    lt AS (
      SELECT g, count(*) - {horizon} AS T FROM idx GROUP BY g
      HAVING count(*) - {horizon} >= 2),
    r AS (
      SELECT a.g, 1 AS i, a.y AS l, b.y - a.y AS b
      FROM (SELECT g, y FROM idx WHERE i = 1) a
      JOIN (SELECT g, y FROM idx WHERE i = 2) b USING (g)
      JOIN lt USING (g)
      UNION ALL
      SELECT r.g, r.i + 1,
             CAST(floor((x.y + r.l + r.b) / 2) AS BIGINT),
             CAST(floor((CAST(floor((x.y + r.l + r.b) / 2) AS BIGINT)
                         - r.l + r.b) / 2) AS BIGINT)
      FROM r
      JOIN idx x ON x.g = r.g AND x.i = r.i + 1
      JOIN lt ON lt.g = r.g
      WHERE r.i + 1 <= lt.T),
    fin AS (
      SELECT r.g, r.l, r.b, lt.T FROM r JOIN lt ON lt.g = r.g AND r.i = lt.T),
    fc AS (
      SELECT g, s, l + s * b AS f, T
      FROM fin CROSS JOIN (SELECT unnest(range(1, {horizon + 1})) AS s))
    SELECT fc.g AS event_type, CAST(s AS BIGINT) AS step,
           CAST(f AS BIGINT) AS forecast_cents,
           CAST(a.y AS BIGINT) AS actual_cents,
           CAST(f - a.y AS BIGINT) AS err_cents
    FROM fc JOIN idx a ON a.g = fc.g AND a.i = fc.T + fc.s
    """


@_register(
    "seasonal_anomaly_flags",
    r"""
    WITH e AS (
      SELECT event_type, isodow(ts) AS dow, hour(ts) AS hr,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events),
    g AS (SELECT event_type, dow, hr, count(*) AS cnt, sum(y) AS sy
          FROM e GROUP BY 1, 2, 3),
    r AS (
      SELECT e.event_type, e.y * g.cnt - g.sy AS num, g.cnt AS den
      FROM e JOIN g ON g.event_type = e.event_type
        AND g.dow = e.dow AND g.hr = e.hr),
    rk AS (
      SELECT event_type, abs(num) AS anum, den,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY CAST(abs(num) AS DOUBLE) / CAST(den AS DOUBLE),
                        abs(num), den) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM r),
    mad AS (SELECT event_type, anum AS mnum, den AS mden
            FROM rk WHERE rn = (n + 1) // 2),
    fl AS (
      SELECT r.event_type,
             CASE WHEN abs(r.num) * mad.mden > 3 * mad.mnum * r.den
                  THEN 1 ELSE 0 END AS f
      FROM r JOIN mad ON mad.event_type = r.event_type)
    SELECT fl.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(f) AS BIGINT) AS n_anomalies,
           CAST(CASE WHEN mad.mnum >= 0
                THEN (2 * mad.mnum * 1000 + mad.mden) // (2 * mad.mden)
                ELSE 0 END AS BIGINT) AS mad_milli
    FROM fl JOIN mad ON mad.event_type = fl.event_type
    GROUP BY fl.event_type, mad.mnum, mad.mden
    """,
)
def seasonal_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection, EXACT (r11) — the
    composition the seasonal profile and robust-stats entries build
    toward: each event's value is residualized against its
    (type, day-of-week, hour) seasonal mean, the per-type MAD of
    residuals is the robust scale, and an event flags anomalous iff
    |residual| > 3·MAD — with every comparison in cross-multiplied
    INTEGER arithmetic (residual = (y·cnt − Σy)/cnt stays a fraction;
    |num|·den_mad > 3·num_mad·den needs no float), so the flag COUNT
    is exact where a float pipeline would flap at the 3σ boundary.
    The median-of-|residual| pick orders by the double quotient
    (identical IEEE both engines) with the fraction as tie-break.
    One seasonal aggregate (bounded at type×7×24 rows, broadcast
    back), one per-type median window, one flag pass."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.expr("weekday(ts) + 1").alias("dow"),
        F.hour("ts").alias("hr"),
        _cents(F.col("value")).alias("y"),
    )
    g = e.groupBy("event_type", "dow", "hr").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("sy")
    )
    r = e.join(F.broadcast(g), ["event_type", "dow", "hr"]).select(
        "event_type",
        (F.col("y") * F.col("cnt") - F.col("sy")).alias("num"),
        F.col("cnt").alias("den"),
    )
    w = Window.partitionBy("event_type")
    rk = r.select(
        "event_type",
        F.abs("num").alias("anum"),
        "den",
        F.row_number()
        .over(
            w.orderBy(
                (F.abs("num").cast("double") / F.col("den").cast("double")),
                F.abs("num"),
                "den",
            )
        )
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    mad = rk.where(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "event_type", F.col("anum").alias("mnum"), F.col("den").alias("mden")
    )
    fl = r.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "mnum",
        "mden",
        (F.abs("num") * F.col("mden") > 3 * F.col("mnum") * F.col("den"))
        .cast("long")
        .alias("f"),
    )
    return fl.groupBy("event_type", "mnum", "mden").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("f").cast("long").alias("n_anomalies"),
    ).select(
        "event_type",
        "n_events",
        "n_anomalies",
        F.expr("(2 * mnum * 1000 + mden) DIV (2 * mden)")
        .cast("long")
        .alias("mad_milli"),
    )


@_register(
    "ppr_multi_seed_groups",
    r"""
    WITH e AS (
      SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem
      UNION
      SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst FROM lineitem),
    deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
    sd AS (
      SELECT DISTINCT 'g1' AS g, 's' || l_suppkey AS n FROM lineitem
      WHERE l_suppkey BETWEEN 1 AND 5
      UNION ALL
      SELECT DISTINCT 'g2', 's' || l_suppkey FROM lineitem
      WHERE l_suppkey BETWEEN 11 AND 15
      UNION ALL
      SELECT DISTINCT 'g3', 's' || l_suppkey FROM lineitem
      WHERE l_suppkey BETWEEN 21 AND 25),
    sz AS (SELECT g, count(*) AS k FROM sd GROUP BY g),
    b AS (SELECT sd.g, sd.n, 1.0::DOUBLE / sz.k AS bb
          FROM sd JOIN sz ON sz.g = sd.g),
    r0 AS (SELECT g, n, bb AS r FROM b),
    it1 AS (SELECT r0.g, e.dst AS n, sum(r0.r / deg.d) AS s
            FROM e JOIN r0 ON r0.n = e.src JOIN deg ON deg.src = e.src
            GROUP BY r0.g, e.dst),
    r1 AS (SELECT coalesce(it1.g, b.g) AS g, coalesce(it1.n, b.n) AS n,
                  0.15::DOUBLE * coalesce(b.bb, 0) + 0.85::DOUBLE * coalesce(it1.s, 0) AS r
           FROM it1 FULL OUTER JOIN b ON b.g = it1.g AND b.n = it1.n),
    it2 AS (SELECT r1.g, e.dst AS n, sum(r1.r / deg.d) AS s
            FROM e JOIN r1 ON r1.n = e.src JOIN deg ON deg.src = e.src
            GROUP BY r1.g, e.dst),
    r2 AS (SELECT coalesce(it2.g, b.g) AS g, coalesce(it2.n, b.n) AS n,
                  0.15::DOUBLE * coalesce(b.bb, 0) + 0.85::DOUBLE * coalesce(it2.s, 0) AS r
           FROM it2 FULL OUTER JOIN b ON b.g = it2.g AND b.n = it2.n)
    SELECT g AS grp, n AS node, round(r, 6) AS rank
    FROM r2 WHERE round(r, 6) > 0
    """,
)
def ppr_multi_seed_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED personalized PageRank (r11) — multi-tenant scoring in
    one pass: three seed groups (suppliers 1-5, 11-15, 21-25) each
    get their own restart distribution, and
    ``graph.pagerank_grouped`` runs all three walks over ONE shared
    edge/degree build — the per-iteration join carries the slim
    (grp, node, rank) frame, so g tenants cost one graph pass instead
    of g engine runs (nodes outside a group's reach never
    materialize — sparse frames, not a dense nodes×groups grid).
    Packed-long ids through the shuffles, labels decoded at the end;
    two iterations, oracle = the same two rounds unrolled with the
    group dimension in every CTE."""
    from ..analytics.graph import pagerank_grouped

    li = _t(spark, sf_dir, "lineitem")
    seeds = None
    for gname, lo, hi in (("g1", 1, 5), ("g2", 11, 15), ("g3", 21, 25)):
        s = (
            li.where(F.col("l_suppkey").between(lo, hi))
            .select(
                F.lit(gname).alias("grp"),
                (F.col("l_suppkey") * 2).alias("node"),
            )
            .distinct()
        )
        seeds = s if seeds is None else seeds.unionByName(s)
    r = pagerank_grouped(_supplier_part_edges(li), seeds, iterations=2)
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("s"), (F.col("node") / 2).cast("long").cast("string")),
    ).otherwise(
        F.concat(F.lit("p"), ((F.col("node") - 1) / 2).cast("long").cast("string"))
    )
    return r.select(
        "grp", label.alias("node"), F.round("rank", 6).alias("rank")
    ).where(F.round(F.col("rank"), 6) > 0)


@_register(
    "forecast_baseline_wape",
    r"""
    WITH c AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS y
      FROM events GROUP BY 1, 2),
    l AS (
      SELECT event_type, h, y,
             lag(y, 1) OVER (PARTITION BY event_type ORDER BY h) AS naive1,
             lag(y, 168) OVER (PARTITION BY event_type ORDER BY h) AS seas168
      FROM c),
    m AS (SELECT event_type, count(*) AS n, sum(y) AS s FROM c GROUP BY 1),
    b1 AS (
      SELECT event_type, 'naive_1h' AS baseline,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(abs(y - naive1)) * 1000 // sum(y) AS BIGINT)
               AS wape_permille
      FROM l WHERE naive1 IS NOT NULL GROUP BY 1),
    b2 AS (
      SELECT event_type, 'seasonal_168h' AS baseline,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(abs(y - seas168)) * 1000 // sum(y) AS BIGINT)
               AS wape_permille
      FROM l WHERE seas168 IS NOT NULL GROUP BY 1),
    b3 AS (
      SELECT c.event_type, 'mean' AS baseline,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(abs(c.y * m.n - m.s)) * 1000 // (m.n * m.s) AS BIGINT)
               AS wape_permille
      FROM c JOIN m ON m.event_type = c.event_type
      GROUP BY c.event_type, m.n, m.s)
    SELECT * FROM b1 UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3
    """,
)
def forecast_baseline_wape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline error accounting (r11) — the eval that must
    exist BEFORE anyone ships a demand model: per event type, the
    weighted absolute percentage error (WAPE = Σ|y−ŷ| / Σy, the
    scale-free metric that, unlike MAPE, never divides by a zero
    hour) of the three standard baselines any real model has to
    beat — last hour (naive), same hour last week (seasonal naive),
    and the per-type mean. All three are EXACT integer permille:
    lag predictions subtract integer counts, and the mean baseline
    clears fractions by Σ|y·n − S| / (n·S) — no float error metric
    that itself has error. One hourly aggregate + one lag window per
    type; the mean leg is a one-row-per-type broadcast join."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    c = (
        ev.select("event_type", F.expr("unix_micros(ts) DIV 3600000000").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    l = c.select(
        "event_type",
        "y",
        F.lag("y", 1).over(w).alias("naive1"),
        F.lag("y", 168).over(w).alias("seas168"),
    )

    def leg(col: str, name: str) -> DataFrame:
        return (
            l.where(F.col(col).isNotNull())
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_hours"),
                F.expr(f"sum(abs(y - {col})) * 1000 DIV sum(y)")
                .cast("long")
                .alias("wape_permille"),
            )
            .select(
                "event_type", F.lit(name).alias("baseline"), "n_hours", "wape_permille"
            )
        )

    m = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    b3 = (
        c.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "n", "s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.expr("sum(abs(y * n - s)) * 1000 DIV (n * s)")
            .cast("long")
            .alias("wape_permille"),
        )
        .select(
            "event_type", F.lit("mean").alias("baseline"), "n_hours", "wape_permille"
        )
    )
    return leg("naive1", "naive_1h").unionByName(
        leg("seas168", "seasonal_168h")
    ).unionByName(b3)


@_register(
    "bloom_join_prefilter_counts",
    r"""
    WITH bk AS (
      SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k
      FROM orders WHERE o_totalprice > 400000),
    bits AS (
      SELECT DISTINCT r.row, substr(md5(r.row || ':' || k), 1, 4) AS pos
      FROM bk, (SELECT unnest(range(1, 5)) AS row) r),
    probe AS (
      SELECT c_custkey, CAST(c_custkey AS VARCHAR) AS k FROM customer),
    pp AS (
      SELECT p.c_custkey, r.row,
             substr(md5(r.row || ':' || p.k), 1, 4) AS pos
      FROM probe p, (SELECT unnest(range(1, 5)) AS row) r),
    hit AS (
      SELECT pp.c_custkey,
             count(*) FILTER (bits.row IS NOT NULL) AS nset
      FROM pp LEFT JOIN bits ON bits.row = pp.row AND bits.pos = pp.pos
      GROUP BY pp.c_custkey),
    maybe AS (SELECT c_custkey FROM hit WHERE nset = 4),
    truth AS (SELECT DISTINCT o_custkey AS c_custkey
              FROM orders WHERE o_totalprice > 400000)
    SELECT
      CAST((SELECT count(*) FROM probe) AS BIGINT) AS n_probe_rows,
      CAST((SELECT count(*) FROM maybe) AS BIGINT) AS n_pass_bloom,
      CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true_keys,
      CAST((SELECT count(*) FROM maybe m
            WHERE NOT EXISTS (SELECT 1 FROM truth t
                              WHERE t.c_custkey = m.c_custkey))
           AS BIGINT) AS n_false_positives
    """,
)
def bloom_join_prefilter_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom semi-join pre-filter (r11) — the runtime-filter pattern
    made explicit and ACCOUNTED: the high-value-order customer keys
    build a bounded bloom (k=4, m=65536, the decontamination
    machinery from analytics.sketches) that broadcasts to the probe
    side and eliminates customers before any shuffle join — with the
    exact pass/true/false-positive counts alongside, the numbers
    that decide whether a runtime filter pays at a given selectivity
    (Spark's own InjectRuntimeFilter does this opaquely; this entry
    pins the mechanism and its one-sided error: every true key
    passes, only false positives cost). md5-hex bloom positions:
    bit-identical cross-engine."""
    from ..analytics.sketches import bloom_build, bloom_maybe_contains

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    hot = orders.where(F.col("o_totalprice") > 400000)
    bloom = bloom_build(hot.select("o_custkey"), "o_custkey")
    probed = bloom_maybe_contains(
        bloom, cust.select("c_custkey"), "c_custkey"
    )
    maybe = probed.where(F.col("maybe"))
    truth = hot.select(F.col("o_custkey").alias("c_custkey")).distinct()
    fp = maybe.join(truth, "c_custkey", "left_anti")
    return (
        cust.agg(F.count(F.lit(1)).cast("long").alias("n_probe_rows"))
        .crossJoin(
            F.broadcast(maybe.agg(F.count(F.lit(1)).cast("long").alias("n_pass_bloom")))
        )
        .crossJoin(
            F.broadcast(truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_keys")))
        )
        .crossJoin(
            F.broadcast(
                fp.agg(F.count(F.lit(1)).cast("long").alias("n_false_positives"))
            )
        )
    )


@_register(
    "dedup_threshold_sweep",
    r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS l
      FROM documents WHERE doc_id % 8 = 0),
    t AS (
      SELECT doc_id,
        CASE WHEN len(l) - 2 > 0 THEN
          list_distinct(list_transform(range(1, CAST(len(l) - 2 AS BIGINT) + 1),
            i -> array_to_string(list_slice(l, i, i + 2), ' ')))
        ELSE [array_to_string(l, ' ')] END AS s
      FROM w),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.s, b.s)) AS ov,
             len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS un
      FROM t a JOIN t b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s)) > 0),
    th AS (SELECT * FROM (VALUES (60), (70), (80), (90)) AS x(pct)),
    q AS (SELECT th.pct, p.id_a, p.id_b FROM p CROSS JOIN th
          WHERE p.ov * 100 >= th.pct * p.un),
    d AS (SELECT pct, id_a AS id FROM q UNION SELECT pct, id_b FROM q)
    SELECT th.pct AS threshold_pct,
           CAST(coalesce(n.np, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(m.nd, 0) AS BIGINT) AS n_docs_affected
    FROM th
    LEFT JOIN (SELECT pct, count(*) AS np FROM q GROUP BY pct) n
      ON n.pct = th.pct
    LEFT JOIN (SELECT pct, count(*) AS nd FROM d GROUP BY pct) m
      ON m.pct = th.pct
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold sensitivity sweep (r11) — the curve that
    JUSTIFIES a similarity cutoff instead of folklore-0.8: one exact
    AllPairs run at the LOWEST threshold (0.6 — at 0.5 the prefix
    filter indexes half of every document and the candidate join blew
    to 28s at sf0.1; 0.6 on the eighth-sample runs in seconds) yields
    every pair's integer (overlap, union), and the candidate thresholds
    bucket those pairs by the CROSS-MULTIPLIED test
    ov·100 ≥ pct·union — no float Jaccard whose rounding could move
    a pair across a cutoff (4/5 is not binary-exact); per threshold
    the sweep reports surviving pairs and distinct documents
    affected (the dedup blast radius). The expensive similarity join
    runs ONCE; the sweep itself is a 5-row broadcast against the
    bounded pair set."""
    from ..analytics.dedup import allpairs_jaccard_join

    configure(spark)
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 8 == 0)
    pairs = allpairs_jaccard_join(docs, threshold=0.6, ngram=3).select(
        "id_a",
        "id_b",
        F.col("overlap").alias("ov"),
        (F.col("size_a") + F.col("size_b") - F.col("overlap")).alias("un"),
    )
    th = F.broadcast(
        spark.createDataFrame([(60,), (70,), (80,), (90,)], "pct int")
    )
    q = pairs.crossJoin(th).where(
        F.col("ov") * 100 >= F.col("pct") * F.col("un")
    )
    np_ = q.groupBy("pct").agg(F.count(F.lit(1)).alias("np"))
    d = q.select("pct", F.col("id_a").alias("id")).unionByName(
        q.select("pct", F.col("id_b").alias("id"))
    ).distinct()
    nd = d.groupBy("pct").agg(F.count(F.lit(1)).alias("nd"))
    return (
        th.join(np_, "pct", "left")
        .join(nd, "pct", "left")
        .select(
            F.col("pct").cast("long").alias("threshold_pct"),
            F.coalesce(F.col("np"), F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce(F.col("nd"), F.lit(0)).cast("long").alias("n_docs_affected"),
        )
    )


@_register(
    "vocab_pruning_plan",
    r"""
    WITH tk AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS w
      FROM documents),
    f AS (SELECT w, count(*) AS n FROM tk GROUP BY w),
    tot AS (SELECT sum(n) AS t FROM f),
    r AS (SELECT n,
                 row_number() OVER (ORDER BY n DESC, w ASC) AS rn,
                 sum(n) OVER (ORDER BY n DESC, w ASC
                              ROWS UNBOUNDED PRECEDING) AS cum
          FROM f),
    th AS (SELECT * FROM (VALUES (90), (95), (99)) AS x(pct)),
    pick AS (
      SELECT th.pct, min(r.rn) AS vocab_kept,
             arg_min(r.cum, r.rn) AS tokens_covered
      FROM th JOIN r CROSS JOIN tot ON r.cum * 100 >= th.pct * tot.t
      GROUP BY th.pct)
    SELECT CAST(pct AS BIGINT) AS coverage_target_pct,
           CAST(vocab_kept AS BIGINT) AS vocab_kept,
           CAST(tokens_covered AS BIGINT) AS tokens_covered,
           CAST(tot.t - tokens_covered AS BIGINT) AS oov_tokens
    FROM pick CROSS JOIN tot
    """,
)
def vocab_pruning_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary pruning plan (r11) — the Zipf-head cutoff every
    fixed-size tokenizer/embedding table needs: for coverage targets
    90/95/99%, the SMALLEST frequency-ranked vocabulary prefix whose
    cumulative token mass reaches the target, plus the exact OOV
    token count left behind. The coverage test is integer
    cross-multiplication (cum·100 ≥ pct·total — a float share at the
    cutoff could keep or drop one extra token per engine); the pick
    is the same bounded cum-table + min_by shape as the quantile
    sketch extraction. One explode→count pass (map-side partials,
    ≤|vocab| rows shuffled), one window over the vocab table."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tk = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
            )
        ).alias("w")
    )
    f = tk.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    tot = F.broadcast(f.agg(F.sum("n").alias("t")))
    w = Window.orderBy(F.desc("n"), F.asc("w"))
    r = f.select(
        "n",
        F.row_number().over(w).alias("rn"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    th = F.broadcast(
        spark.createDataFrame([(90,), (95,), (99,)], "pct int")
    )
    pick = (
        r.crossJoin(tot)
        .join(th, F.col("cum") * 100 >= F.col("pct") * F.col("t"))
        .groupBy("pct")
        .agg(
            F.min("rn").alias("vocab_kept"),
            F.min_by("cum", "rn").alias("tokens_covered"),
        )
    )
    return pick.crossJoin(tot).select(
        F.col("pct").cast("long").alias("coverage_target_pct"),
        F.col("vocab_kept").cast("long").alias("vocab_kept"),
        F.col("tokens_covered").cast("long").alias("tokens_covered"),
        (F.col("t") - F.col("tokens_covered")).cast("long").alias("oov_tokens"),
    )


@_register(
    "curriculum_interleave_order",
    r"""
    WITH r AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents),
    k AS (SELECT * FROM r WHERE rk <= 12)
    SELECT row_number() OVER (ORDER BY rk, lang) AS position,
           lang, doc_id, CAST(rk AS BIGINT) AS rank_in_lang
    FROM k
    """,
)
def curriculum_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced curriculum interleave (r11) — the ORDERING primitive
    after mixing proportions are decided (domain_mixture_plan) and
    budgets set (token_budget_selection): round-robin the top
    documents of every language — quality rank 1 of every lang, then
    rank 2 of every lang, … — so no early training window is
    single-language. Deterministic: per-lang rank by (quality proxy,
    doc_id), global position by (rank, lang); the global window runs
    only on the top-k-per-lang survivors (bounded — never a global
    sort of the corpus)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    r = docs.select(
        "lang",
        "doc_id",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("rk"),
    ).where(F.col("rk") <= 12)
    return r.select(
        F.row_number().over(Window.orderBy("rk", "lang")).alias("position"),
        "lang",
        "doc_id",
        F.col("rk").cast("long").alias("rank_in_lang"),
    )


@_register(
    "fixed_size_stratified_sample",
    r"""
    WITH r AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents)
    SELECT source, doc_id, CAST(rn AS BIGINT) AS pick_order,
           CAST(n AS BIGINT) AS stratum_size
    FROM r WHERE rn <= 5
    """,
)
def fixed_size_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-stratum sampling (r11) — EXACTLY k = 5 documents
    per source, the eval-panel complement to the fraction-based
    samplers (a Bernoulli fraction gives a BINOMIAL stratum size;
    review panels and golden sets need exactly k): rank each stratum
    by the md5 of the row key — a deterministic uniform permutation
    any engine reproduces, unlike rand(seed) — and keep the first k.
    Exposing pick_order makes the sample PREFIX-STABLE: growing the
    panel to k=10 later keeps the first 5 rows identical (ranks don't
    change), so a re-run never invalidates already-labeled data. One
    window per stratum partition; no shuffle beyond it."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    r = docs.select(
        "source",
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(
            Window.partitionBy("source").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    return r.where(F.col("rn") <= 5).select(
        "source",
        "doc_id",
        F.col("rn").cast("long").alias("pick_order"),
        F.col("n").cast("long").alias("stratum_size"),
    )


@_register(
    "session_entry_exit_matrix",
    r"""
    WITH s AS (SELECT user_id, ts, event_id, event_type,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                 THEN 1 ELSE 0 END AS brk
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (SELECT user_id, ts, event_id, event_type,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM s),
    se AS (SELECT user_id, sid,
                  first(event_type ORDER BY ts, event_id) AS entry_type,
                  last(event_type ORDER BY ts, event_id) AS exit_type,
                  count(*) AS n_events
           FROM g GROUP BY user_id, sid)
    SELECT entry_type, exit_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS total_events
    FROM se GROUP BY entry_type, exit_type
    """,
)
def session_entry_exit_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session entry/exit flow matrix (r11) — the product-analytics
    rollup the sessionizer feeds: for every 30-minute-gap session,
    which event type OPENED it and which CLOSED it, aggregated to the
    (entry, exit) matrix — where journeys start and die, the
    complement of the step-by-step transition matrix. Same
    lag/cumsum sessionization as sessionize_users (one sort per user
    partition shared by break detection and the ordered
    first/last picks via min_by/max_by struct keys — no second
    sort); ties broken by event_id so both engines read one
    deterministic sequence."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                >= 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    g = s.withColumn(
        "sid", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    key = F.struct(F.col("ts").alias("_t"), F.col("event_id").alias("_e"))
    se = g.groupBy("user_id", "sid").agg(
        F.min_by("event_type", key).alias("entry_type"),
        F.max_by("event_type", key).alias("exit_type"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return se.groupBy("entry_type", "exit_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("total_events"),
    )


@_register(
    "interevent_gap_median",
    r"""
    WITH p AS (
      SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
      FROM events),
    gaps AS (
      SELECT event_type,
             tus - lag(tus) OVER (PARTITION BY user_id, event_type
                                  ORDER BY tus, event_id) AS gap_us
      FROM p),
    gc AS (SELECT event_type, gap_us FROM gaps WHERE gap_us IS NOT NULL),
    rk AS (SELECT event_type, gap_us,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY gap_us) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM gc)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_gaps,
           CAST(gap_us // 1000000 AS BIGINT) AS median_gap_seconds
    FROM rk WHERE rn = (n + 1) // 2
    """,
)
def interevent_gap_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap median per type (r11) — the recurrence-cadence
    metric behind retention and capacity planning ("how often does a
    user purchase vs click"): per event type, the MEDIAN gap between
    a user's consecutive events of that type — nearest-rank over
    exact integer microseconds, because medians resist the whale
    gaps that wreck the mean (the exact sibling of what a t-digest
    would approximate). One lag window per (user, type) for gaps,
    one median window over the per-type gap sets; reported in whole
    seconds (integer floor division)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    p = ev.select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus"), "event_id"
    )
    wg = Window.partitionBy("user_id", "event_type").orderBy("tus", "event_id")
    gaps = p.select(
        "event_type", (F.col("tus") - F.lag("tus").over(wg)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    wr = Window.partitionBy("event_type")
    rk = gaps.select(
        "event_type",
        "gap_us",
        F.row_number().over(wr.orderBy("gap_us")).alias("rn"),
        F.count(F.lit(1)).over(wr).alias("n"),
    )
    return rk.where(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "event_type",
        F.col("n").cast("long").alias("n_gaps"),
        F.expr("gap_us DIV 1000000").cast("long").alias("median_gap_seconds"),
    )


@_register(
    "kn_bigram_perplexity",
    _BIGRAM_CTES
    + r"""
    lefts AS (SELECT w1, sum(cb) AS cw, count(*) AS n1w1 FROM big GROUP BY w1),
    rights AS (SELECT w2, count(*) AS n1w2 FROM big GROUP BY w2),
    bt AS (SELECT count(*) AS b FROM big),
    sc AS (
      SELECT doc_id, count(*) AS m,
             sum(log2((cb - 0.75 + 0.75 * n1w1 * n1w2 / b) / cw)) AS s
      FROM p2 JOIN big USING (w1, w2) JOIN lefts USING (w1)
              JOIN rights USING (w2) CROSS JOIN bt
      GROUP BY doc_id)
    SELECT doc_id, CAST(m AS BIGINT) AS n_bigrams, round(-s / m, 4) AS avg_nll
    FROM sc
    """,
)
def kn_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity scoring (r12) — the
    smoothing production LM quality filters actually use (KenLM's
    default), next to the Laplace sibling ``bigram_lm_scores``:
    absolute discounting (D = 0.75 exactly) with a continuation-count
    backoff, so backoff mass follows distinct-context counts rather
    than raw frequency. Model = three slim count tables from one
    barriered pair stream; the oracle recomputes the identical model
    with the identical left-assoc float expression, round(,4)
    absorbing summation-order ulps."""
    from ..analytics.text_analysis import kn_bigram_scores

    return kn_bigram_scores(_t(spark, sf_dir, "documents"))


@_register("lttb_downsample_values", _lttb_oracle_sql())
def lttb_downsample_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (r12; Steinarsson
    2013 — the Grafana-default shape-preserving reduction, M4's
    sibling): hourly integer-cent sums per event type reduced to 12
    points — first, last, and per interior bucket the point forming
    the largest triangle with the previous pick and the next bucket's
    centroid. Engine = ONE Catalyst fold over staged series/bounds
    arrays (zero shuffles past the rollup, no Python); oracle = the
    sequential pick unrolled as 10 chained CTE steps. Areas are
    next-bucket-count-scaled int64 cross products, so both engines
    agree exactly; ties to the earlier point."""
    from ..operators.window import lttb_downsample

    ev = _t(spark, sf_dir, "events")
    return lttb_downsample(ev, n_out=12)


@_register(
    "calibration_ece_bins",
    r"""
    WITH f AS (
      SELECT user_id,
             count(*) FILTER (event_type = 'click') AS s
      FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY user_id),
    o AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' AND event_type = 'purchase'),
    u AS (
      SELECT f.user_id,
             CASE WHEN f.s < 9 THEN f.s ELSE 9 END AS bin,
             CASE WHEN o.user_id IS NULL THEN 0 ELSE 1 END AS pos
      FROM f LEFT JOIN o ON f.user_id = o.user_id),
    tr AS (
      SELECT bin, count(*) AS n_train, sum(pos) AS pos_train
      FROM u WHERE user_id % 2 = 0 GROUP BY bin),
    te AS (
      SELECT bin, count(*) AS n_test, sum(pos) AS pos_test
      FROM u WHERE user_id % 2 = 1 GROUP BY bin)
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(n_train AS BIGINT) AS n_train,
           CAST(n_test AS BIGINT) AS n_test,
           CAST((1000 * pos_train) // n_train AS BIGINT) AS pred_permille,
           CAST((1000 * pos_test) // n_test AS BIGINT) AS obs_permille,
           CAST(abs((1000 * pos_train) // n_train
                    - (1000 * pos_test) // n_test) AS BIGINT) AS gap_permille
    FROM tr JOIN te USING (bin)
    """,
)
def calibration_ece_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned calibration / expected-calibration-error report (r12) —
    the eval every propensity or quality model needs before its scores
    gate anything (Naeini et al. 2015 ECE, here with the
    train/test-split binning that makes it honest): score = first-half
    click count per user (capped value bins 0..9 — NO global-sort
    ntile, so the shape is one hash aggregate at any scale), outcome =
    bought-in-second-half; even user_ids calibrate each bin's
    predicted rate, odd user_ids measure the observed rate; the gap
    column is the per-bin |pred - obs| in exact integer permille
    (floor division — both engines identical). ECE = the
    n_test-weighted mean of gap_permille, derivable by the reader;
    bins present in only one split are dropped by the inner join."""
    ev = _t(spark, sf_dir, "events")
    t0 = F.lit("2024-01-16 00:00:00").cast("timestamp")
    f = (
        ev.where(F.col("ts") < t0)
        .groupBy("user_id")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("s")
        )
    )
    o = (
        ev.where((F.col("ts") >= t0) & (F.col("event_type") == "purchase"))
        .select("user_id")
        .distinct()
        .withColumn("_pos", F.lit(1))
    )
    u = f.join(o, "user_id", "left").select(
        "user_id",
        F.least(F.col("s"), F.lit(9)).alias("bin"),
        F.coalesce(F.col("_pos"), F.lit(0)).alias("pos"),
    )
    tr = (
        u.where(F.col("user_id") % 2 == 0)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_train"), F.sum("pos").alias("pos_train"))
    )
    te = (
        u.where(F.col("user_id") % 2 == 1)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_test"), F.sum("pos").alias("pos_test"))
    )
    pred = F.floor(1000 * F.col("pos_train") / F.col("n_train")).cast("long")
    obs = F.floor(1000 * F.col("pos_test") / F.col("n_test")).cast("long")
    return tr.join(te, "bin").select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n_train").cast("long").alias("n_train"),
        F.col("n_test").cast("long").alias("n_test"),
        pred.alias("pred_permille"),
        obs.alias("obs_permille"),
        F.abs(pred - obs).alias("gap_permille"),
    )


@_register(
    "cdc_chunk_dedup_stats",
    r"""
    WITH w AS (
      SELECT source, doc_id, string_split(text, ' ') AS ws FROM documents),
    b AS (
      SELECT source, doc_id, ws,
             list_filter(range(0, len(ws)),
               i -> i = len(ws) - 1 OR (i >= 2 AND
                 CAST(('0x' || substr(md5(array_to_string(ws[i-1:i+1], ' ')), 1, 6))
                      AS BIGINT) % 8 = 0)) AS bnd
      FROM w),
    c AS (
      SELECT source, ws,
             unnest(list_transform(range(1, len(bnd) + 1),
               j -> struct_pack(s := CASE WHEN j = 1 THEN 0 ELSE bnd[j-1] + 1 END,
                                e := bnd[j]))) AS ck
      FROM b),
    t AS (
      SELECT source,
             md5(array_to_string(ws[ck.s+1:ck.e+1], ' ')) AS ch,
             length(array_to_string(ws[ck.s+1:ck.e+1], ' ')) AS chars
      FROM c),
    g AS (SELECT source, ch, chars, count(*) AS cnt FROM t GROUP BY 1, 2, 3),
    st AS (
      SELECT source, sum(cnt) AS n_chunks, count(*) AS n_distinct_chunks,
             sum((cnt - 1) * chars) AS dup_chars_saved
      FROM g GROUP BY source),
    nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
    SELECT nd.source, CAST(nd.n_docs AS BIGINT) AS n_docs,
           CAST(st.n_chunks AS BIGINT) AS n_chunks,
           CAST(st.n_distinct_chunks AS BIGINT) AS n_distinct_chunks,
           CAST(st.dup_chars_saved AS BIGINT) AS dup_chars_saved
    FROM nd JOIN st USING (source)
    """,
)
def cdc_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup accounting (r12; LBFS/rsync —
    Muthitacharoen et al. SOSP 2001): documents split at
    content-anchored boundaries (3-word rolling md5 window, boundary
    where the first 6 hex chars mod 8 == 0, avg chunk ~8 words), then
    per-source chunk-level redundancy: total/distinct chunk counts and
    the exact characters a deduplicating store would save. The
    partition-the-content complement of winnowing's sample-to-detect
    fingerprints; boundaries are edit-stable by construction. Engine =
    per-doc staged Catalyst HOFs + one slim hash aggregate; oracle =
    the identical construction in DuckDB list comprehensions."""
    from ..analytics.dedup import cdc_chunk_stats

    return cdc_chunk_stats(_t(spark, sf_dir, "documents"))


@_register(
    "roc_auc_purchase_model",
    r"""
    WITH f AS (
      SELECT user_id, count(*) FILTER (event_type = 'click') AS s
      FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY user_id),
    o AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
        AND ts < TIMESTAMP '2024-01-17 00:00:00'
        AND event_type = 'purchase'),
    u AS (
      SELECT f.s, CASE WHEN o.user_id IS NULL THEN 0 ELSE 1 END AS pos
      FROM f LEFT JOIN o ON f.user_id = o.user_id),
    g AS (
      SELECT s, sum(pos) AS pos, count(*) - sum(pos) AS neg
      FROM u GROUP BY s),
    c AS (
      SELECT s, pos, neg,
             coalesce(sum(neg) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
      FROM g),
    t AS (
      SELECT sum(pos) AS np, sum(neg) AS nn,
             sum(pos * (2 * cnb + neg)) AS u2
      FROM c)
    SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           CAST(u2 AS BIGINT) AS u_times2,
           CAST(CASE WHEN np > 0 AND nn > 0
                THEN (10000 * u2) // (2 * np * nn) END AS BIGINT) AS auc_permyriad
    FROM t
    """,
)
def roc_auc_purchase_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC via the Mann-Whitney U statistic with tie
    handling (r12) — the threshold-free ranking eval next to the
    binned ``calibration_ece_bins`` (same score and label: first-half
    click count predicts purchase-within-24h-after-the-split). AUC = P(score_pos >
    score_neg) + P(tie)/2; doubling U keeps everything integer:
    2U = sum over distinct scores of pos_s * (2 * neg_below_s + neg_s),
    AUC in exact permyriad by floor division.

    100 TB shape: one hash aggregate to per-user scores, one to the
    DISTINCT-SCORE table (bounded by the score range, here capped
    click counts — NOT by users), one ordered scan of that bounded
    table for the cumulative-negative counts, one final fold. The
    global window runs over dozens of rows; no per-user sort exists
    anywhere."""
    configure(spark)
    ev = _t(spark, sf_dir, "events")
    t0 = F.lit("2024-01-16 00:00:00").cast("timestamp")
    f = (
        ev.where(F.col("ts") < t0)
        .groupBy("user_id")
        .agg(F.count(F.when(F.col("event_type") == "click", 1)).alias("s"))
    )
    t1 = F.lit("2024-01-17 00:00:00").cast("timestamp")
    o = (
        ev.where(
            (F.col("ts") >= t0)
            & (F.col("ts") < t1)
            & (F.col("event_type") == "purchase")
        )
        .select("user_id")
        .distinct()
        .withColumn("_pos", F.lit(1))
    )
    u = f.join(o, "user_id", "left").select(
        "s", F.coalesce(F.col("_pos"), F.lit(0)).alias("pos")
    )
    g = u.groupBy("s").agg(
        F.sum("pos").alias("pos"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("neg"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "pos", "neg", F.coalesce(F.sum("neg").over(w), F.lit(0)).alias("cnb")
    )
    t = c.agg(
        F.sum("pos").alias("np"),
        F.sum("neg").alias("nn"),
        F.sum(F.col("pos") * (2 * F.col("cnb") + F.col("neg"))).alias("u2"),
    )
    return t.select(
        F.col("np").cast("long").alias("n_pos"),
        F.col("nn").cast("long").alias("n_neg"),
        F.col("u2").cast("long").alias("u_times2"),
        F.when(
            (F.col("np") > 0) & (F.col("nn") > 0),
            F.floor(10000 * F.col("u2") / (2 * F.col("np") * F.col("nn"))),
        )
        .cast("long")
        .alias("auc_permyriad"),
    )


@_register(
    "cusum_value_changepoints",
    r"""
    WITH h AS (
      SELECT event_type AS g, epoch_us(ts) // 3600000000 AS t,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    st AS (
      SELECT g, CAST(floor(sum(y) / count(*)) AS BIGINT) AS tgt,
             count(*) AS n_hours
      FROM h GROUP BY g),
    d AS (
      SELECT h.g, t, n_hours, 4 * tgt AS th,
             y - tgt - CAST(floor(tgt / 4) AS BIGINT) AS du,
             tgt - y - CAST(floor(tgt / 4) AS BIGINT) AS dd
      FROM h JOIN st USING (g)),
    p AS (
      SELECT g, t, n_hours, th,
             sum(du) OVER w AS pu, sum(dd) OVER w AS pd
      FROM d WINDOW w AS (PARTITION BY g ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s AS (
      SELECT g, t, n_hours, th,
             pu - least(0, min(pu) OVER w) AS su,
             pd - least(0, min(pd) OVER w) AS sd
      FROM p WINDOW w AS (PARTITION BY g ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT g AS event_type, CAST(n_hours AS BIGINT) AS n_hours,
           CAST(count(*) FILTER (su > th) AS BIGINT) AS n_up_flags,
           CAST(count(*) FILTER (sd > th) AS BIGINT) AS n_dn_flags,
           CAST(max(su) AS BIGINT) AS max_s_up,
           CAST(max(sd) AS BIGINT) AS max_s_dn,
           CAST(min(t) FILTER (su > th) AS BIGINT) AS first_up_hour,
           CAST(min(t) FILTER (sd > th) AS BIGINT) AS first_dn_hour
    FROM s GROUP BY g, n_hours
    """,
)
def cusum_value_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM level-shift detection (r12; Page 1954) over the
    hourly cent-sum series per event type — the sustained-shift
    complement of the point-outlier entries (``seasonal_anomaly_flags``
    flags single hours; CUSUM accumulates small persistent deviations
    until they are undeniable). The sequential recursion
    S_t = max(0, S_{t-1} + d_t) is eliminated into the prefix-min
    identity S_t = P_t - min(0, min_j<=t P_j), so the whole detector
    is a hash aggregate plus two per-key window scans — integer
    arithmetic end-to-end, no fold, parallel per key at any scale.
    See operators/temporal.cusum_changepoints."""
    from ..operators.temporal import cusum_changepoints

    configure(spark)
    return cusum_changepoints(_t(spark, sf_dir, "events"))


@_register("holt_forecast_backtest", _holt_oracle_sql())
def holt_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing backtest (r12; Holt 1957 —
    level + trend): train on the hourly cent-sum series per event type
    minus the last 6 hours, forecast the held-out tail, report
    per-step forecast/actual/error. alpha = beta = 1/2 with explicit
    floor keeps the recursion in exact integers, so the Catalyst-fold
    engine and the DuckDB recursive-CTE oracle agree bit-for-bit.
    Engine = one hash rollup + one bounded per-key array + ONE fold
    (no Python, no extra shuffles); the trend term is what the
    seasonal-naive baselines in ``forecast_baseline_wape`` lack.
    See operators/temporal.holt_forecast_errors."""
    from ..operators.temporal import holt_forecast_errors

    configure(spark)
    return holt_forecast_errors(_t(spark, sf_dir, "events"), horizon=6)


@_register(
    "poisson_bootstrap_ci",
    r"""
    WITH e AS (
      SELECT event_type AS g, CAST(event_id AS VARCHAR) AS id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    x AS (
      SELECT g, cents, id, unnest(range(1, 21)) AS b FROM e),
    hh AS (
      SELECT g, b, cents,
             md5(id || ':' || CAST(b AS VARCHAR)) AS h
      FROM x),
    uu AS (
      SELECT g, (b - 1) * 5 + lane + 1 AS j, cents,
             CAST(('0x' || substr(h, 6 * lane + 1, 6)) AS BIGINT) AS u
      FROM hh CROSS JOIN (SELECT unnest(range(0, 5)) AS lane)),
    ww AS (
      SELECT g, j, cents, (CASE WHEN u >= 6171992 THEN 1 ELSE 0 END)
             + (CASE WHEN u >= 12343985 THEN 1 ELSE 0 END)
             + (CASE WHEN u >= 15429982 THEN 1 ELSE 0 END)
             + (CASE WHEN u >= 16458647 THEN 1 ELSE 0 END)
             + (CASE WHEN u >= 16715813 THEN 1 ELSE 0 END)
             + (CASE WHEN u >= 16767247 THEN 1 ELSE 0 END)
             + (CASE WHEN u >= 16775819 THEN 1 ELSE 0 END)
             + (CASE WHEN u >= 16777044 THEN 1 ELSE 0 END)
             + (CASE WHEN u >= 16777197 THEN 1 ELSE 0 END) AS w
      FROM uu),
    rep AS (
      SELECT g, j,
             CAST(floor(1000 * sum(w * cents) / sum(w)) AS BIGINT) AS rm
      FROM ww GROUP BY g, j),
    srt AS (SELECT g, list_sort(list(rm)) AS ms FROM rep GROUP BY g),
    pt AS (
      SELECT g, count(*) AS n_rows,
             CAST(floor(1000 * sum(cents) / count(*)) AS BIGINT)
               AS mean_millicents
      FROM e GROUP BY g)
    SELECT pt.g AS event_type, CAST(n_rows AS BIGINT) AS n_rows,
           mean_millicents,
           ms[5] AS boot_lo_millicents, ms[96] AS boot_hi_millicents
    FROM pt JOIN srt USING (g)
    """,
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 90% CI for the per-type mean event value
    (r12; Chamandy et al. 2012 — the one-pass bootstrap for
    distributed data): each row enters each of 100 replicates with a
    Poisson(1) weight drawn deterministically by inverse-CDF on a
    24-bit md5 lane against shared integer thresholds, so both
    engines produce bit-identical replicates. One md5 per (row,
    block) supplies FIVE lanes (5x fewer hashes and exploded rows
    than hash-per-replicate; ~2x end-to-end at sf0.1); the rows
    combine MAP-SIDE before the shuffle — the network cost is the
    replicate table, never a multiple of the data.
    See analytics/sketches.poisson_bootstrap_mean_ci."""
    from ..analytics.sketches import poisson_bootstrap_mean_ci

    configure(spark)
    return poisson_bootstrap_mean_ci(_t(spark, sf_dir, "events"))


@_register(
    "ndcg_mrr_retrieval_eval",
    _int8_retrieval_ctes("query_id, nid, rk AS p", "query_id, nid, rk")
    + r"""
    rl AS (SELECT qr.query_id, qr.p, coalesce(11 - ex.rk, 0) AS rel
           FROM qr LEFT JOIN ex
             ON ex.query_id = qr.query_id AND ex.nid = qr.nid),
    ag AS (SELECT query_id,
             list_sort(list(struct_pack(p := p, rel := rel))) AS arr,
             min(CASE WHEN rel > 0 THEN p END) AS fh
           FROM rl GROUP BY query_id),
    dc AS (SELECT query_id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(arr, e -> e.rel / log2(e.p + 1))),
               (a, b) -> a + b) AS dcg,
             fh
           FROM ag),
    ic AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 11), rr -> (11 - rr) / log2(rr + 1))),
             (a, b) -> a + b) AS idcg)
    SELECT query_id,
           round(dcg / idcg, 4) AS ndcg10,
           CAST(coalesce(fh, 0) AS BIGINT) AS first_hit_rank,
           CAST(CASE WHEN fh IS NULL THEN 0
                ELSE 10000 // fh END AS BIGINT) AS rr_permyriad
    FROM dc CROSS JOIN ic
    """,
)
def ndcg_mrr_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 + reciprocal rank of the int8-quantized retrieval
    (r12) — the POSITION-SENSITIVE, GRADED half of the eval family
    whose set-overlap half is ``int8_recall_eval`` (same system, same
    20 queries): exact float-cosine rank r earns graded relevance
    11 - r (top exact hit worth 10, the 10th worth 1, misses 0), the
    quantized list is scored by DCG = sum rel_p / log2(p + 1)
    (Jarvelin & Kekalainen 2002), normalized by the ideal DCG; MRR's
    per-query reciprocal rank is exact permyriad floor(10000 / p_1st).

    Determinism: both DCG folds are explicit left-assoc sequential
    folds over position-sorted arrays (Catalyst ``aggregate`` /
    DuckDB ``list_reduce``), the same discipline as the KN log2
    scoring; round(,4) absorbs the last ulp. IDCG is computed by the
    IDENTICAL fold expression in both engines, never a pasted
    constant. 100 TB shape: the query set is bounded (evals sample
    queries), the corpus legs are one pass each + per-query top-k
    windows, and the grading joins/folds run on 20 x 10 rows."""
    from ..analytics.similarity import knn_join_exact

    emb = _t(spark, sf_dir, "embeddings")
    rel = knn_join_exact(emb.filter(F.col("vec_id") < 20), emb, k=10).select(
        "query_id",
        F.col("neighbor_id").alias("nid"),
        (11 - F.col("rank")).alias("rel"),
    )
    retrieved = _int8_top10(emb, "p")
    graded = retrieved.join(rel, ["query_id", "nid"], "left").select(
        "query_id", "p", F.coalesce(F.col("rel"), F.lit(0)).alias("rel")
    )
    ag = graded.groupBy("query_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("p").alias("p"), F.col("rel").alias("rel")))
        ).alias("arr"),
        F.min(F.when(F.col("rel") > 0, F.col("p"))).alias("fh"),
    )
    dcg = F.aggregate(
        F.col("arr"), F.lit(0.0), lambda a, e: a + e["rel"] / F.log2(e["p"] + 1)
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.lit(10)),
        F.lit(0.0),
        lambda a, r: a + (11 - r) / F.log2(r.cast("double") + 1),
    )
    return ag.select(
        "query_id",
        F.round(dcg / idcg, 4).alias("ndcg10"),
        F.coalesce(F.col("fh"), F.lit(0)).cast("long").alias("first_hit_rank"),
        F.when(F.col("fh").isNull(), F.lit(0))
        .otherwise(F.floor(10000 / F.col("fh")))
        .cast("long")
        .alias("rr_permyriad"),
    )


@_register(
    "kaplan_meier_conversion",
    r"""
    WITH RECURSIVE b AS (
      SELECT user_id AS u, event_type AS et,
             epoch_us(ts) // 3600000000 AS h, epoch_us(ts) AS t_us
      FROM events),
    f AS (
      SELECT u,
             (min(struct_pack(t_us := t_us, h := h, et := et))).et AS cohort,
             (min(struct_pack(t_us := t_us, h := h, et := et))).h AS h0,
             (min(struct_pack(t_us := t_us, h := h, et := et))).t_us AS t0_us
      FROM b GROUP BY u),
    dth AS (
      SELECT b.u, min(b.h) AS hd
      FROM b JOIN f ON f.u = b.u
      WHERE b.et = 'purchase' AND b.t_us > f.t0_us
      GROUP BY b.u),
    cm AS (SELECT max(h) AS hmax FROM b),
    subj AS (
      SELECT f.cohort,
             coalesce(dth.hd - f.h0, cm.hmax - f.h0) AS dur,
             CASE WHEN dth.hd IS NULL THEN 0 ELSE 1 END AS died
      FROM f LEFT JOIN dth ON dth.u = f.u CROSS JOIN cm),
    pd AS (
      SELECT cohort, dur, count(*) AS cnt, sum(died) AS d
      FROM subj GROUP BY cohort, dur),
    rk AS (
      SELECT cohort, dur, d,
             sum(cnt) OVER (PARTITION BY cohort ORDER BY dur DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS n
      FROM pd),
    idx AS (
      SELECT cohort, dur, n, d,
             row_number() OVER (PARTITION BY cohort ORDER BY dur) AS i
      FROM rk WHERE d > 0),
    r AS (
      SELECT cohort, i, dur, n, d, (1000000 * (n - d)) // n AS s
      FROM idx WHERE i = 1
      UNION ALL
      SELECT x.cohort, x.i, x.dur, x.n, x.d, (r.s * (x.n - x.d)) // x.n
      FROM r JOIN idx x ON x.cohort = r.cohort AND x.i = r.i + 1)
    SELECT cohort, CAST(dur AS BIGINT) AS t_hours,
           CAST(n AS BIGINT) AS n_at_risk, CAST(d AS BIGINT) AS d_deaths,
           CAST(s AS BIGINT) AS survival_ppm
    FROM r
    """,
)
def kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curves with right-censoring
    (r12; Kaplan & Meier 1958): users enroll at their first event
    (cohort = that event's type), convert at their first purchase
    strictly after enrollment, and are censored at the end of
    observation otherwise — the estimator that keeps unconverted
    users in the risk set instead of dropping them (the bias in naive
    conversion-delay averages). Survival in exact parts-per-million
    via the integer product-limit recursion S_i = (S_{i-1} *
    (n_i - d_i)) DIV n_i; engine = one Catalyst fold over the bounded
    per-cohort death-time array, oracle = the identical recursion as
    a DuckDB recursive CTE. See operators/temporal.kaplan_meier_survival."""
    from ..operators.temporal import kaplan_meier_survival

    configure(spark)
    return kaplan_meier_survival(_t(spark, sf_dir, "events"))


@_register(
    "welch_ttest_ab_values",
    """
    WITH s AS (
      SELECT event_type AS g,
             count(*) FILTER (user_id % 2 = 0) AS na,
             count(*) FILTER (user_id % 2 <> 0) AS nb,
             CAST(sum(CAST(round(value * 100) AS BIGINT))
                  FILTER (user_id % 2 = 0) AS BIGINT) AS s1a,
             CAST(sum(CAST(round(value * 100) AS BIGINT))
                  FILTER (user_id % 2 <> 0) AS BIGINT) AS s1b,
             CAST(sum(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT))
                  FILTER (user_id % 2 = 0) AS BIGINT) AS s2a,
             CAST(sum(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT))
                  FILTER (user_id % 2 <> 0) AS BIGINT) AS s2b
      FROM events GROUP BY 1),
    v AS (
      SELECT g, na, nb, s1a, s1b,
             (na * s2a - s1a * s1a) / nullif(na * (na - 1), 0) / na AS sea,
             (nb * s2b - s1b * s1b) / nullif(nb * (nb - 1), 0) / nb AS seb
      FROM s),
    e AS (
      SELECT *, (sea + seb) AS se2 FROM v)
    SELECT g AS event_type,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(floor(1000 * s1a / nullif(na, 0)) AS BIGINT) AS mean_a_millicents,
           CAST(floor(1000 * s1b / nullif(nb, 0)) AS BIGINT) AS mean_b_millicents,
           round((s1a / nullif(na, 0) - s1b / nullif(nb, 0))
                 / nullif(sqrt(se2), 0), 6) AS t_stat,
           round((se2 * se2) / nullif(sea * sea / (na - 1)
                                      + seb * seb / (nb - 1), 0), 3)
             AS welch_df,
           abs((s1a / nullif(na, 0) - s1b / nullif(nb, 0))
               / nullif(sqrt(se2), 0)) > 1.96 AS significant
    FROM e
    """,
)
def welch_ttest_ab_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test per event type (r13;
    Welch 1947) over the standing deterministic A/B split (variant =
    user_id parity): THE A/B-test statistic — the mean-difference
    significance complement of the rank-based roc_auc_purchase_model
    (Mann-Whitney) and chi2_type_segment_independence entries. Six
    exact integer sufficient sums per group in one map-side-combinable
    hash aggregate (the hourly_trend_by_type OLS discipline — no
    per-row state at any scale); the float tail (variance -> t ->
    Welch-Satterthwaite df) is the identical expression tree in both
    engines over those integers. See analytics/sketches.welch_ttest_ab."""
    from ..analytics.sketches import welch_ttest_ab

    configure(spark)
    return welch_ttest_ab(_t(spark, sf_dir, "events"))


@_register(
    "acf_hourly_by_type",
    """
    WITH h AS (
      SELECT event_type AS g, epoch_us(ts) // 3600000000 AS t,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    b AS (SELECT g, min(t) AS mn, max(t) AS mx FROM h GROUP BY g),
    grid AS (SELECT g, unnest(range(mn, mx + 1)) AS t FROM b),
    dense AS (
      SELECT grid.g, grid.t, COALESCE(h.y, 0) AS y
      FROM grid LEFT JOIN h USING (g, t)),
    lagged AS (
      SELECT g, y,
             lag(y, 1) OVER w AS x1, lag(y, 2) OVER w AS x2,
             lag(y, 3) OVER w AS x3, lag(y, 6) OVER w AS x6,
             lag(y, 12) OVER w AS x12, lag(y, 24) OVER w AS x24
      FROM dense WINDOW w AS (PARTITION BY g ORDER BY t)),
    pairs AS (
      SELECT g, u.lag, u.x, y FROM lagged,
      unnest([struct_pack(lag := 1, x := x1),
              struct_pack(lag := 2, x := x2),
              struct_pack(lag := 3, x := x3),
              struct_pack(lag := 6, x := x6),
              struct_pack(lag := 12, x := x12),
              struct_pack(lag := 24, x := x24)]) AS t(u)
      WHERE u.x IS NOT NULL),
    a AS (
      SELECT g, lag, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY 1, 2)
    SELECT g AS event_type, CAST(lag AS INT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / nullif(sqrt(n * sxx - sx * sx)
                          * sqrt(n * syy - sy * sy), 0), 6) AS acf_r
    FROM a
    """,
)
def acf_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly value series per event
    type at lags 1/2/3/6/12/24 (r13; Box & Jenkins) — the
    lag-structure diagnostic the seasonal/trend entries assume
    (seasonal_dow_profile fixes a 24h/7d cycle; holt_forecast fixes
    level+trend; the ACF is what tells a user WHICH lags carry
    signal). Dense hour grid with silent hours as 0, one window pass
    materializes every lag, each (key, lag) correlation folds to six
    exact integer sums map-side; the single float quotient is the
    identical expression both engines, NULL (nullif) on constant
    series. See operators/temporal.acf_by_key."""
    from ..operators.temporal import acf_by_key

    configure(spark)
    return acf_by_key(_t(spark, sf_dir, "events"))
