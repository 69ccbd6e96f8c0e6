"""Sketches, temporal statistics, streaming replay (r11 batch 3)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import configure
from ._shared import (
    _cents,
    _drain,
    _hourly_grid,
    _near_dup_components,
    _NEAR_DUP_COMPONENTS_CTES,
    _register,
    _t,
)


def _stage_mod_batches(df, stage: str, n_batches: int = 4, key: str = "event_id") -> None:
    """Write ``df`` as ``n_batches`` replay files (``batch-kk.parquet``,
    row membership ``key % n_batches == k``, strictly increasing mtimes
    so the file-stream source replays them in order) in ONE Spark job
    (optimization r16): the previous per-batch ``coalesce(1)`` loop
    re-scanned the input once per batch — 4 scans + 4 single-task write
    jobs for the 4-batch fixtures. A ``repartition(key % n)`` +
    ``partitionBy`` write produces exactly one file per batch class in
    one pass (each class hashes to one task; the writer splits by
    directory value). Row order WITHIN a batch file is not part of any
    fixture's semantics (watermarks read the per-batch max event time;
    sinks are compared as sets).

    Hardening (VERDICT r16 #3 + ADVICE): each batch class must land in
    EXACTLY one part file — anything that splits task output
    (maxRecordsPerFile, speculative re-runs) would otherwise silently
    drop rows from a replay batch, and an EMPTY class would change the
    replay's batch count (the former empty-class fallback could not
    actually produce a file: Spark emits no data file for an empty
    non-zero-partition write). Both now fail loudly; at every driver
    SF each ``key % n_batches`` class is provably non-empty."""
    import os as _os
    import shutil as _shutil
    import time as _time

    tmp = f"{stage}/_build"
    (
        df.withColumn("_b", (F.col(key) % n_batches).cast("int"))
        .repartition(F.col("_b"))
        .write.partitionBy("_b")
        .parquet(tmp)
    )
    now = _time.time()
    for k in range(n_batches):
        part_dir = f"{tmp}/_b={k}"
        dst = f"{stage}/batch-{k:02d}.parquet"
        if not _os.path.isdir(part_dir):
            raise RuntimeError(
                f"_stage_mod_batches: batch class {key} % {n_batches} == {k} "
                "is empty — the replay fixture requires every class to hold "
                "rows (add data or lower n_batches)"
            )
        parts = [f for f in sorted(_os.listdir(part_dir)) if f.endswith(".parquet")]
        if len(parts) != 1:
            raise RuntimeError(
                f"_stage_mod_batches: expected exactly 1 part file for batch "
                f"class {k}, found {len(parts)} — a split write would "
                "silently drop rows from the replay batch"
            )
        _os.rename(f"{part_dir}/{parts[0]}", dst)
        _os.utime(dst, (now + k, now + k))
    _shutil.rmtree(tmp, ignore_errors=True)


def _minhash_seed_constants(k: int = 32) -> list[tuple[int, int, int]]:
    """(seed, a, b) rows for the universal-hash MinHash family
    h_i(x) = (a_i * md5_28(x) + b_i) mod (2^61 - 1): md5 runs ONCE per
    shingle and the k components are integer multiply-adds — 32x less
    hashing than md5-per-seed, same estimator; a/b derive from md5 of
    the seed index so both engines inline identical literals."""
    import hashlib as _hl

    rows = []
    for i in range(k):
        a = int(_hl.md5(f"A{i}".encode()).hexdigest()[:8], 16) | 1
        b = int(_hl.md5(f"B{i}".encode()).hexdigest()[:8], 16)
        rows.append((i, a, b))
    return rows


def _minhash_eval_oracle() -> str:
    vals = ",\n        ".join(
        f"({i}, {a}, {b})" for i, a, b in _minhash_seed_constants()
    )
    return rf"""
    WITH ids AS (
      SELECT doc_id FROM documents WHERE doc_id % 20 = 0),
    pr AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ids a JOIN documents b ON b.doc_id = a.doc_id + 1),
    docs AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS l
      FROM documents
      WHERE doc_id IN (SELECT id_a FROM pr UNION SELECT id_b FROM pr)),
    sh AS (
      SELECT doc_id,
        CASE WHEN len(l) - 2 > 0 THEN
          list_distinct(list_transform(range(1, CAST(len(l) - 2 AS BIGINT) + 1),
            i -> array_to_string(list_slice(l, i, i + 2), ' ')))
        ELSE [array_to_string(l, ' ')] END AS s
      FROM docs),
    ex AS (
      SELECT doc_id, unnest(s) AS g FROM sh),
    h0 AS (
      SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 7)) AS BIGINT) AS h0
      FROM ex),
    sd AS (SELECT * FROM (VALUES
        {vals}) AS t(seed, a, b)),
    hx AS (
      SELECT h0.doc_id, sd.seed,
             min((h0.h0 * sd.a + sd.b) % 2305843009213693951) AS h
      FROM h0 CROSS JOIN sd
      GROUP BY h0.doc_id, sd.seed),"""


@_register(
    "streaming_late_event_drops",
    r"""
    WITH f AS (
      SELECT epoch_us(ts) AS tus, event_id % 4 AS b FROM events),
    mx AS (SELECT b, max(tus) AS bmax FROM f GROUP BY b),
    wm AS (SELECT b,
             max(bmax) OVER (ORDER BY b
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
               - 3600000000 AS wmk
           FROM mx),
    k AS (SELECT f.tus // 21600000000 AS w,
                 CASE WHEN wm.wmk IS NULL
                      OR (f.tus // 21600000000 + 1) * 21600000000 > wm.wmk
                 THEN 1 ELSE 0 END AS kept
          FROM f JOIN wm USING (b))
    SELECT w AS bucket_id,
           CAST(sum(kept) AS BIGINT) AS n_final,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(count(*) - sum(kept) AS BIGINT) AS n_late_dropped
    FROM k GROUP BY w
    """,
)
def streaming_late_event_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting under a real watermark (r11) — the
    streaming-semantics entry that DEMONSTRATES what the watermark
    actually drops instead of assuming it: the events table replays
    as FOUR deterministic micro-batches (file k = event_id % 4,
    maxFilesPerTrigger=1, strictly increasing mtimes pin the replay
    order), each spanning the full month, so every batch after the
    first arrives mostly BELOW the watermark and its old-window rows
    are dropped by the stateful 6h-window aggregation. The memory
    sink runs UPDATE mode (complete mode never drops late rows — the
    first trap this entry pins down); per-window counts are monotone,
    so the final state is max(count) per window.

    The ORACLE simulates the watermark protocol in SQL and must
    reproduce the surviving count per window EXACTLY — which pinned
    the second trap LIVE: Spark filters late input rows with
    ``eventTimeWatermarkForLateEvents``, the watermark as of the
    PREVIOUS batch (state EVICTION uses the current one), so the late
    filter applied in batch N reflects event time only through batch
    N-2. A naive one-batch-lag simulation kept half as many rows as
    the engine; the committed oracle uses the two-batches-back
    running max (``2 PRECEDING``) and matches every window exactly
    and deterministically (4 repeat runs, both SFs, hostile config).
    The staging pass is a bounded fixture builder; on a real stream
    the same query runs unchanged."""
    import shutil as _shutil
    import tempfile as _tempfile
    import uuid as _uuid

    configure(spark)
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    stage = _tempfile.mkdtemp(prefix="stream-late-")
    try:
        # one-pass staging (distinct, strictly increasing mtimes: the
        # file source orders its initial listing by modification time)
        _stage_mod_batches(ev, stage, n_batches=4, key="event_id")
        raw = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        agg = (
            raw.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "6 hours").alias("win"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        view = f"stream_late_{_uuid.uuid4().hex[:8]}"
        _drain(
            spark,
            agg.writeStream.format("memory").queryName(view).outputMode("update"),
            timeout_s=180,
        )
        final = (
            spark.table(view)
            .select(
                F.expr("unix_micros(win.start) DIV 21600000000").alias("bucket_id"),
                "n",
            )
            .groupBy("bucket_id")
            .agg(F.max("n").alias("n_final"))
        )
        truth = (
            ev.select(F.expr("unix_micros(ts) DIV 21600000000").alias("bucket_id"))
            .groupBy("bucket_id")
            .agg(F.count(F.lit(1)).alias("n_batch"))
        )
        # the memory sink table outlives the staged files; truth reads
        # the source parquet — safe to clean the stage in `finally`
        return truth.join(final, "bucket_id", "left").select(
            "bucket_id",
            F.coalesce(F.col("n_final"), F.lit(0)).cast("long").alias("n_final"),
            F.col("n_batch").cast("long").alias("n_batch"),
            (F.col("n_batch") - F.coalesce(F.col("n_final"), F.lit(0)))
            .cast("long")
            .alias("n_late_dropped"),
        )
    finally:
        _shutil.rmtree(stage, ignore_errors=True)


@_register(
    "join_size_estimate_cm",
    r"""
    WITH ka AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
    kb AS (SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer),
    ca AS (SELECT r.row, substr(md5(r.row || ':' || k), 1, 3) AS bucket,
                  count(*) AS n
           FROM ka, (SELECT unnest(range(1, 5)) AS row) r GROUP BY 1, 2),
    cb AS (SELECT r.row, substr(md5(r.row || ':' || k), 1, 3) AS bucket,
                  count(*) AS n
           FROM kb, (SELECT unnest(range(1, 5)) AS row) r GROUP BY 1, 2),
    ip AS (SELECT ca.row, sum(ca.n * cb.n) AS dot
           FROM ca JOIN cb USING (row, bucket) GROUP BY ca.row),
    est AS (SELECT min(dot) AS cm_estimate FROM ip),
    ex AS (SELECT sum(a.n * b.n) AS exact_pairs FROM
             (SELECT o_custkey AS k, count(*) AS n FROM orders GROUP BY 1) a
             JOIN
             (SELECT c_custkey AS k, count(*) AS n FROM customer GROUP BY 1) b
             USING (k))
    SELECT CAST(ex.exact_pairs AS BIGINT) AS exact_pairs,
           CAST(est.cm_estimate AS BIGINT) AS cm_estimate,
           CAST((est.cm_estimate - ex.exact_pairs) * 1000 // ex.exact_pairs
                AS BIGINT) AS overshoot_permille
    FROM ex CROSS JOIN est
    """,
)
def join_size_estimate_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation by count-min inner product (r11; Cormode
    & Muthukrishnan 2005 §4 — the self-join/join size application of
    the CM sketch): |orders ⋈ customer| on custkey is estimated as
    min over the d hash rows of Σ_buckets cmA[b]·cmB[b], from two
    independently built bounded sketches — the cardinality-estimation
    primitive a cost-based planner (or a pre-flight "will this join
    explode" guard) consults WITHOUT scanning either table's key
    distribution twice. Never underestimates (collisions only add
    mass — the same one-sided guarantee as CM frequency estimates);
    exact join size and the overshoot in integer permille sit
    alongside. Everything is integer arithmetic over md5-hex buckets:
    bit-identical cross-engine. The sketches are d×4096 rows
    regardless of table size and merge cell-wise across shards."""
    from ..analytics.sketches import countmin_build

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    cma = countmin_build(orders.select("o_custkey"), "o_custkey")
    cmb = countmin_build(cust.select("c_custkey"), "c_custkey").withColumnRenamed(
        "n", "nb"
    )
    ip = (
        cma.join(cmb, ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(F.col("n") * F.col("nb")).alias("dot"))
    )
    est = ip.agg(F.min("dot").alias("cm_estimate"))
    a = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("na"))
    b = cust.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("nb"))
    ex = (
        a.join(b, a["o_custkey"] == b["c_custkey"])
        .agg(F.sum(F.col("na") * F.col("nb")).alias("exact_pairs"))
    )
    return (
        ex.crossJoin(F.broadcast(est))
        .select(
            F.col("exact_pairs").cast("long").alias("exact_pairs"),
            F.col("cm_estimate").cast("long").alias("cm_estimate"),
            F.expr("(cm_estimate - exact_pairs) * 1000 DIV exact_pairs")
            .cast("long")
            .alias("overshoot_permille"),
        )
    )


@_register(
    "hll_rollup_sources",
    r"""
    WITH w AS (
      SELECT event_type, user_id, md5(CAST(user_id AS VARCHAR)) AS hx
      FROM events),
    b AS (
      SELECT event_type, user_id,
             CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) % 64 AS bucket,
             CAST(('0x' || substr(hx, 9, 8)) AS BIGINT) AS v
      FROM w),
    r AS (
      SELECT event_type, bucket,
             max(CASE WHEN v > 0 THEN 33 - length(bin(v)) ELSE 33 END) AS m
      FROM b GROUP BY event_type, bucket),
    rg AS (SELECT bucket, max(m) AS m FROM r GROUP BY bucket),
    et AS (
      SELECT event_type AS scope, count(*) AS bu, sum(power(0.5, m)) AS pinv
      FROM r GROUP BY event_type),
    gl AS (
      SELECT '__all__' AS scope, count(*) AS bu, sum(power(0.5, m)) AS pinv
      FROM rg),
    u AS (SELECT * FROM et UNION ALL SELECT * FROM gl),
    xt AS (SELECT event_type AS scope, count(DISTINCT user_id) AS ex
           FROM w GROUP BY event_type),
    xg AS (SELECT '__all__' AS scope, count(DISTINCT user_id) AS ex FROM w),
    x AS (SELECT * FROM xt UNION ALL SELECT * FROM xg)
    SELECT u.scope, CAST(u.bu AS BIGINT) AS buckets_used,
           round(0.709 * 4096.0 / (u.pinv + (64 - u.bu)), 2) AS hll_estimate,
           CAST(x.ex AS BIGINT) AS exact_distinct
    FROM u JOIN x ON x.scope = u.scope
    """,
)
def hll_rollup_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL hierarchy rollup (r11) — the property that makes sketches
    live in a lake's METADATA layer: distinct users are sketched ONCE
    per event type, and the GLOBAL estimate is derived by merging the
    five per-type register sets cell-wise (max per bucket) — no
    second scan of the data. Merge-then-estimate must equal
    sketch-over-everything by construction (max of partitioned maxes
    IS the global max), and the oracle derives its global row the
    same way from ITS per-type register CTE, so the identity is
    verified cross-engine, not assumed. Exact distinct counts sit
    alongside for error accounting; estimates are bit-deterministic
    (each 2^-m is one binary digit)."""
    from ..analytics.sketches import hll_estimate, hll_registers

    ev = _t(spark, sf_dir, "events")
    regs = hll_registers(ev, "user_id", group_cols=["event_type"])
    et = hll_estimate(regs, group_cols=["event_type"]).select(
        F.col("event_type").alias("scope"), "buckets_used", "hll_estimate"
    )
    merged = regs.groupBy("bucket").agg(F.max("m").alias("m"))
    gl = hll_estimate(merged).select(
        F.lit("__all__").alias("scope"), "buckets_used", "hll_estimate"
    )
    est = et.unionByName(gl)
    xt = ev.groupBy(F.col("event_type").alias("scope")).agg(
        F.countDistinct("user_id").alias("ex")
    )
    xg = ev.agg(F.countDistinct("user_id").alias("ex")).select(
        F.lit("__all__").alias("scope"), "ex"
    )
    exact = xt.unionByName(xg)
    return est.join(exact, "scope").select(
        "scope",
        F.col("buckets_used").cast("long").alias("buckets_used"),
        F.round(F.col("hll_estimate"), 2).alias("hll_estimate"),
        F.col("ex").cast("long").alias("exact_distinct"),
    )


@_register(
    "cluster_representative_policy",
    _NEAR_DUP_COMPONENTS_CTES
    + r"""
    q AS (SELECT comp.n, comp.c, d.n_chars,
                 row_number() OVER (PARTITION BY comp.c
                                    ORDER BY d.n_chars DESC, comp.n ASC) AS rk
          FROM comp JOIN documents d ON d.doc_id = comp.n)
    SELECT c AS cluster_id,
           CAST(count(*) AS BIGINT) AS size,
           CAST(min(n) AS BIGINT) AS rep_minid,
           CAST(min(CASE WHEN rk = 1 THEN n END) AS BIGINT) AS rep_maxchars,
           CAST(CASE WHEN min(n) <> min(CASE WHEN rk = 1 THEN n END)
                THEN 1 ELSE 0 END AS BIGINT) AS policy_differs
    FROM q GROUP BY c
    """,
)
def cluster_representative_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-representative POLICY eval (r11) — the follow-through on
    dedup_cluster_size_histogram's closing note ("the skew signal
    that decides dedup-representative policies"): for every
    near-duplicate cluster (exact AllPairs Jaccard >= 0.8 pairs fed
    through connected components, same quarter-sample), compare the
    two standard keep policies — min-id (what every *_dedup_kept
    entry does: cheap, deterministic, content-blind) vs
    KEEP-LONGEST (max n_chars, ties to min id — the quality-keeping
    policy corpus curation actually wants) — and flag the clusters
    where they disagree, i.e. where min-id dedup throws away the
    longest copy. The quality pick is ONE max_by hash aggregate over
    a (n_chars, -id) struct — no per-cluster sort; the oracle picks
    its winner with an independent window row_number over the
    recursive-CTE closure."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    comp = _near_dup_components(docs)
    j = comp.join(
        docs.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    agg = j.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("size"),
        F.min("node").cast("long").alias("rep_minid"),
        F.max_by(
            "node", F.struct(F.col("n_chars").alias("_q"), (-F.col("node")).alias("_t"))
        )
        .cast("long")
        .alias("rep_maxchars"),
    )
    return agg.select(
        F.col("component").cast("long").alias("cluster_id"),
        "size",
        "rep_minid",
        "rep_maxchars",
        (F.col("rep_minid") != F.col("rep_maxchars"))
        .cast("long")
        .alias("policy_differs"),
    )


@_register(
    "eval_quota_allocation",
    r"""
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    tot AS (SELECT sum(n) AS t, count(*) AS k FROM c),
    base AS (
      SELECT source, n,
             (n * 1000) // t AS floor_q,
             (n * 1000) % t AS remainder
      FROM c CROSS JOIN tot),
    short AS (SELECT 1000 - sum(floor_q) AS missing FROM base),
    rk AS (SELECT source, n, floor_q, remainder,
                  row_number() OVER (ORDER BY remainder DESC, source ASC) AS r
           FROM base)
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(floor_q + CASE WHEN r <= missing THEN 1 ELSE 0 END AS BIGINT)
             AS quota
    FROM rk CROSS JOIN short
    """,
)
def eval_quota_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder quota allocation (r11; Hamilton
    apportionment) — the eval-set construction primitive the
    stratified samplers don't give you: allocate EXACTLY 1000 eval
    slots across sources proportional to their document counts, with
    integer quotas that provably sum to the target (floor quotas,
    then the remaining slots go to the largest fractional
    remainders, ties by source name). Everything is integer
    arithmetic on (count × 1000) DIV/MOD total — no float shares
    whose rounding could over- or under-allocate. The per-source
    count table is the only shuffle; the apportionment runs on the
    bounded stratum table (a window over #sources rows) —
    ``analytics.text_analysis.largest_remainder_quota``, whose
    sum/floor-or-ceil invariants are hypothesis-tested against a
    pure-Python model."""
    from ..analytics.text_analysis import largest_remainder_quota

    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    return largest_remainder_quota(c, 1000, key_col="source").select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        "quota",
    )


@_register(
    "token_budget_selection",
    r"""
    WITH t AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tok,
             n_chars
      FROM documents),
    r AS (
      SELECT doc_id, lang, n_tok,
             sum(n_tok) OVER (PARTITION BY lang
                              ORDER BY n_chars DESC, doc_id ASC
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT lang,
           CAST(count(*) FILTER (cum <= 50000) AS BIGINT) AS n_selected,
           CAST(coalesce(sum(n_tok) FILTER (cum <= 50000), 0) AS BIGINT)
             AS tokens_used,
           CAST(50000 - coalesce(sum(n_tok) FILTER (cum <= 50000), 0) AS BIGINT)
             AS budget_left
    FROM r GROUP BY lang
    """,
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy selection under a token budget (r11) — the curation
    move after scoring: per language, rank documents by the quality
    proxy (n_chars desc, ties by doc_id) and keep the prefix whose
    cumulative token count fits the 50k-token budget — the
    "best-data-first until the budget runs out" knapsack greedy that
    corpus builders actually run (exact knapsack is NP and pointless
    at corpus scale). One window cumsum per language partition over
    exact integer token counts; the budget test is a filter on the
    running sum, so selection is deterministic and
    oracle-reproducible to the row."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split(F.col("text"), " "), lambda w: w != ""))
    t = docs.select("doc_id", "lang", n_tok.alias("n_tok"), "n_chars")
    w = Window.partitionBy("lang").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    ).rowsBetween(Window.unboundedPreceding, 0)
    r = t.withColumn("cum", F.sum("n_tok").over(w))
    sel = F.col("cum") <= 50000
    return r.groupBy("lang").agg(
        F.sum(sel.cast("long")).cast("long").alias("n_selected"),
        F.coalesce(F.sum(F.when(sel, F.col("n_tok"))), F.lit(0))
        .cast("long")
        .alias("tokens_used"),
        (
            F.lit(50000)
            - F.coalesce(F.sum(F.when(sel, F.col("n_tok"))), F.lit(0))
        )
        .cast("long")
        .alias("budget_left"),
    )


@_register(
    "scd2_pointintime_join",
    r"""
    WITH s AS (
      SELECT user_id, event_id, ts, event_type,
             lag(event_type) OVER w AS prev,
             row_number() OVER w AS rn
      FROM events WHERE user_id < 300
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    v AS (SELECT user_id, event_type, ts AS valid_from,
                 lead(ts) OVER w2 AS valid_to
          FROM (SELECT * FROM s WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
          WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)),
    p AS (SELECT user_id, event_id AS pid, ts AS pts
          FROM events WHERE user_id < 300 AND event_type = 'purchase')
    SELECT p.pid, p.user_id, v.event_type AS version_type,
           v.valid_from AS version_from
    FROM p JOIN v ON v.user_id = p.user_id
      AND v.valid_from <= p.pts
      AND (v.valid_to IS NULL OR p.pts < v.valid_to)
    """,
)
def scd2_pointintime_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct dimension lookup (r11) — the reason SCD2
    histories exist, demonstrated end to end: build the per-user
    event_type version history (the scd2_event_type_history
    machinery), then enrich every purchase with the version VALID AT
    its timestamp — the join that prevents time-travel leakage when
    a model joins training events to mutable dimensions (today's
    attributes must never describe last month's event). The engine
    composes ``scd2_history`` with the AS-OF join (latest
    valid_from <= ts — versions partition each user's timeline, so
    as-of and interval-containment agree BY CONSTRUCTION); the
    oracle verifies exactly that equivalence by taking the interval-
    containment route (valid_from <= ts < valid_to) over its own
    window-built history — two different join mechanisms that must
    produce identical enrichment rows."""
    from ..operators.temporal import asof_join, scd2_history

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id") < 300)
        .select("user_id", "event_id", "ts", "event_type")
    )
    hist = scd2_history(
        ev, ["user_id"], "ts", ["event_type"], tiebreak_col="event_id"
    ).select(
        "user_id",
        F.col("event_type").alias("vtype"),
        F.col("valid_from").alias("vfrom"),
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    j = asof_join(
        purch,
        hist,
        on="user_id",
        left_ts="pts",
        right_ts="vfrom",
    )
    return j.select(
        "pid",
        "user_id",
        F.col("right_vtype").alias("version_type"),
        F.col("right_vfrom").alias("version_from"),
    ).where(F.col("version_type").isNotNull())


@_register(
    "position_attribution_credits",
    r"""
    WITH c AS (SELECT user_id, event_id AS cid, ts AS cts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS pid, ts AS pts
          FROM events WHERE event_type = 'purchase'),
    j AS (SELECT p.pid, c.cid, c.cts,
                 row_number() OVER (PARTITION BY p.pid
                                    ORDER BY c.cts, c.cid) AS rn,
                 count(*) OVER (PARTITION BY p.pid) AS m
          FROM p JOIN c ON c.user_id = p.user_id
            AND c.cts >= p.pts - INTERVAL 24 HOUR AND c.cts < p.pts)
    SELECT pid, cid,
           CASE WHEN m = 1 THEN 'only'
                WHEN rn = 1 THEN 'first'
                WHEN rn = m THEN 'last'
                ELSE 'middle' END AS position,
           CAST(CASE WHEN m = 1 THEN 10000
                WHEN m = 2 THEN 5000
                WHEN rn = 1 OR rn = m THEN 4000
                ELSE 2000 // (m - 2)
                     + CASE WHEN rn - 1 <= 2000 % (m - 2) THEN 1 ELSE 0 END
                END AS BIGINT) AS credit_bp
    FROM j
    """,
)
def position_attribution_credits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution (r11) — the
    credit-splitting step after first_touch_attribution picked one
    winner: every click in a purchase's strict 24h look-back gets a
    share of EXACTLY 10000 basis points — 40/20/40 (first/middles/
    last), 50/50 for two touches, 100% for one — with the middle pool
    divided in INTEGER basis points and the remainder going to the
    earliest middles (largest-remainder again), so per-purchase
    credits provably sum to 10000 with no float leakage. Candidate
    generation is the same binned range_join scale path; ranking is
    one (pid)-partitioned window. The oracle builds the same credits
    from a raw inequality join + its own windows."""
    from pyspark.sql import Window

    from ..operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("cid"), F.col("ts").alias("cts")
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
        (F.col("ts") - F.expr("INTERVAL 24 HOURS")).alias("w_start"),
    )
    j = range_join(
        clicks, purch, point_col="cts", start_col="w_start", end_col="pts",
        on="user_id",
    )
    w = Window.partitionBy("pid")
    ranked = j.select(
        "pid",
        "cid",
        F.row_number().over(w.orderBy("cts", "cid")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("m"),
    )
    m, rn = F.col("m"), F.col("rn")
    credit = (
        F.when(m == 1, F.lit(10000))
        .when(m == 2, F.lit(5000))
        .when((rn == 1) | (rn == m), F.lit(4000))
        .otherwise(
            F.expr("2000 DIV (m - 2)")
            + F.when(rn - 1 <= (2000 % (m - 2)), 1).otherwise(0)
        )
    )
    pos = (
        F.when(m == 1, F.lit("only"))
        .when(rn == 1, F.lit("first"))
        .when(rn == m, F.lit("last"))
        .otherwise(F.lit("middle"))
    )
    return ranked.select(
        "pid", "cid", pos.alias("position"), credit.cast("long").alias("credit_bp")
    )


@_register(
    "hll_intersection_estimate",
    r"""
    WITH w AS (
      SELECT event_type, user_id, md5(CAST(user_id AS VARCHAR)) AS hx
      FROM events WHERE event_type IN ('click', 'purchase')),
    b AS (
      SELECT event_type,
             CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) % 64 AS bucket,
             CAST(('0x' || substr(hx, 9, 8)) AS BIGINT) AS v
      FROM w),
    r AS (SELECT event_type, bucket,
                 max(CASE WHEN v > 0 THEN 33 - length(bin(v)) ELSE 33 END) AS m
          FROM b GROUP BY event_type, bucket),
    ru AS (SELECT bucket, max(m) AS m FROM r GROUP BY bucket),
    est AS (
      SELECT event_type AS scope,
             0.709 * 4096.0 / (sum(power(0.5, m)) + (64 - count(*))) AS e
      FROM r GROUP BY event_type
      UNION ALL
      SELECT 'union',
             0.709 * 4096.0 / (sum(power(0.5, m)) + (64 - count(*)))
      FROM ru),
    piv AS (SELECT
              max(CASE WHEN scope = 'click' THEN e END) AS ec,
              max(CASE WHEN scope = 'purchase' THEN e END) AS ep,
              max(CASE WHEN scope = 'union' THEN e END) AS eu
            FROM est),
    ex AS (SELECT count(*) AS exact_both FROM (
             SELECT user_id FROM events WHERE event_type = 'click'
             INTERSECT
             SELECT user_id FROM events WHERE event_type = 'purchase'))
    SELECT round(ec, 2) AS est_click, round(ep, 2) AS est_purchase,
           round(eu, 2) AS est_union,
           round(ec + ep - eu, 2) AS est_intersection,
           CAST(ex.exact_both AS BIGINT) AS exact_intersection
    FROM piv CROSS JOIN ex
    """,
)
def hll_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set-INTERSECTION estimate (r11) — the composition HLL
    doesn't natively support, recovered by inclusion-exclusion:
    |click ∩ purchase| ≈ est(A) + est(B) − est(A∪B), where the union
    sketch is the cell-wise max merge (exact for union) — the
    overlap question ("how many users both click and buy") answered
    from three bounded sketches with NO distinct set materialized.
    Inclusion-exclusion inherits the raw estimator's error on three
    terms (documented caveat: it can even go negative on tiny
    overlaps — the exact intersection sits alongside to show the
    real error); every term is bit-deterministic, so the oracle
    pins all five numbers."""
    from ..analytics.sketches import hll_estimate, hll_registers

    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    regs = hll_registers(ev, "user_id", group_cols=["event_type"])
    per = hll_estimate(regs, group_cols=["event_type"]).select(
        "event_type", F.col("hll_estimate").alias("e")
    )
    ru = regs.groupBy("bucket").agg(F.max("m").alias("m"))
    eu = hll_estimate(ru).select(F.col("hll_estimate").alias("eu"))
    piv = per.groupBy().pivot("event_type", ["click", "purchase"]).agg(
        F.first("e")
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    buys = ev.where(F.col("event_type") == "purchase").select("user_id")
    ex = (
        clicks.intersect(buys)
        .agg(F.count(F.lit(1)).alias("exact_both"))
    )
    return (
        piv.crossJoin(F.broadcast(eu))
        .crossJoin(F.broadcast(ex))
        .select(
            F.round(F.col("click"), 2).alias("est_click"),
            F.round(F.col("purchase"), 2).alias("est_purchase"),
            F.round(F.col("eu"), 2).alias("est_union"),
            F.round(F.col("click") + F.col("purchase") - F.col("eu"), 2).alias(
                "est_intersection"
            ),
            F.col("exact_both").cast("long").alias("exact_intersection"),
        )
    )


@_register(
    "linear_interpolation_fill",
    r"""
    WITH bounds AS (
      SELECT user_id, date_trunc('hour', min(ts)) AS mn,
             date_trunc('hour', max(ts)) AS mx
      FROM events WHERE user_id < 20 GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS ts
      FROM bounds),
    obs AS (SELECT user_id, ts, value FROM events WHERE user_id < 20),
    prev AS (
      SELECT g.user_id, g.ts, o.ts AS pts, o.value AS pv
      FROM grid g ASOF LEFT JOIN obs o
        ON g.user_id = o.user_id AND g.ts >= o.ts),
    nxt AS (
      SELECT g.user_id, g.ts, o.ts AS nts, o.value AS nv
      FROM grid g ASOF LEFT JOIN obs o
        ON g.user_id = o.user_id AND g.ts <= o.ts)
    SELECT p.user_id, p.ts,
      round(CASE
        WHEN p.pts IS NULL THEN n.nv
        WHEN n.nts IS NULL THEN p.pv
        WHEN epoch_us(n.nts) = epoch_us(p.pts) THEN p.pv
        ELSE p.pv + (n.nv - p.pv) *
             (CAST(epoch_us(p.ts) - epoch_us(p.pts) AS DOUBLE)
              / CAST(epoch_us(n.nts) - epoch_us(p.pts) AS DOUBLE))
      END, 6) AS filled_value
    FROM prev p JOIN nxt n ON n.user_id = p.user_id AND n.ts = p.ts
    """,
)
def linear_interpolation_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill (r11) — the second resampling
    flavor next to resample_forward_fill's step function: every
    hourly grid point gets y0 + (y1 − y0)·(t − t0)/(t1 − t0) between
    its latest-prior and earliest-next observations (one-sided at the
    series edges) — the fill a fixed-step forecasting model actually
    wants for continuous signals. Both neighbor lookups are AS-OF
    joins — the NEXT side rides the SAME asof_join operator on
    NEGATED microseconds (earliest-after is latest-prior in reversed
    time; no second operator needed) — while the oracle uses DuckDB's
    native ASOF in both directions. The interpolation expression is
    written with identical operation order in both engines (integer
    micro deltas cast to double, one divide, one multiply, one add),
    so values match to the 6th decimal without tolerance."""
    from ..operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    grid = _hourly_grid(ev)
    obs = ev.select("user_id", "ts", "value")
    prev = asof_join(grid, obs, on="user_id", right_prefix="p_")
    withn = prev.withColumn("nts_key", -F.unix_micros("ts"))
    obsn = obs.select(
        "user_id",
        (-F.unix_micros("ts")).alias("nts_key"),
        F.unix_micros("ts").alias("ots"),
        F.col("value").alias("nval"),
    )
    both = asof_join(
        withn, obsn, on="user_id", left_ts="nts_key", right_ts="nts_key",
        right_prefix="n_",
    )
    t = F.unix_micros("ts").cast("double")
    t0 = F.unix_micros("p_ts")
    t1 = F.col("n_ots")
    interp = F.col("p_value") + (F.col("n_nval") - F.col("p_value")) * (
        (F.unix_micros("ts") - t0).cast("double") / (t1 - t0).cast("double")
    )
    filled = (
        F.when(F.col("p_ts").isNull(), F.col("n_nval"))
        .when(F.col("n_ots").isNull(), F.col("p_value"))
        .when(t1 == t0, F.col("p_value"))
        .otherwise(interp)
    )
    return both.select(
        "user_id", "ts", F.round(filled, 6).alias("filled_value")
    )


@_register(
    "future_purchase_labels",
    r"""
    WITH d AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             count(*) AS n_events,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS n_purchases
      FROM events GROUP BY 1, 2)
    SELECT user_id, CAST(day AS BIGINT) AS day,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_purchases AS BIGINT) AS n_purchases,
           CAST(coalesce(max(CASE WHEN n_purchases > 0 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY day
                   RANGE BETWEEN 1 FOLLOWING AND 7 FOLLOWING), 0)
             AS BIGINT) AS label
    FROM d
    """,
)
def future_purchase_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe supervised-label generation (r11) — the step that
    turns an event log into training rows: for every (user, active
    day), same-day features (event count, purchase count) and the
    LABEL "will this user purchase in the NEXT 7 days" — strictly
    future (1 FOLLOWING, never the feature day itself), so the label
    can never leak into its own features; the leakage-safe twin of
    what leakage_safe_split does for splits, applied to label
    construction. One day-grain aggregate plus one RANGE-framed
    window per user over integer day indexes — both engines define
    RANGE BETWEEN 1 AND 7 FOLLOWING identically on integers, no
    calendar arithmetic in the frame."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    d = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts) DIV 86400000000").alias("day"),
            (F.col("event_type") == "purchase").cast("long").alias("is_p"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_p").alias("n_purchases"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rangeBetween(1, 7)
    )
    return d.select(
        "user_id",
        F.col("day").cast("long").alias("day"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_purchases").cast("long").alias("n_purchases"),
        F.coalesce(
            F.max((F.col("n_purchases") > 0).cast("int")).over(w), F.lit(0)
        )
        .cast("long")
        .alias("label"),
    )


@_register(
    "theilsen_trend_by_type",
    r"""
    WITH h AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS eh FROM events),
    mn AS (SELECT min(eh) AS m FROM h),
    c AS (SELECT event_type, eh - m AS x, count(*) AS y
          FROM h CROSS JOIN mn GROUP BY 1, 2),
    pr AS (SELECT a.event_type,
                  b.y - a.y AS num, b.x - a.x AS den,
                  CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS v
           FROM c a JOIN c b
             ON b.event_type = a.event_type AND a.x < b.x),
    rk AS (SELECT event_type, num, den,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY v, num, den) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM pr)
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           CAST(CASE WHEN num >= 0
                THEN (2 * num * 1000000 + den) // (2 * den)
                ELSE -((2 * (-num) * 1000000 + den) // (2 * den)) END
                AS BIGINT) AS slope_micro
    FROM rk WHERE rn = (n + 1) // 2
    """,
)
def theilsen_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend (r11; Sen 1968) — the outlier-immune
    sibling of hourly_trend_by_type's OLS: per event type, the slope
    is the MEDIAN of all pairwise (Δy/Δx) slopes over the hourly
    count series, so a burst hour that drags the least-squares line
    barely moves this one (up to ~29% contamination). The median is
    the nearest-rank element at (n+1) DIV 2 under (value, num, den)
    ordering — the selected slope stays an exact integer FRACTION and
    is emitted in micro-units via the repo's rational rounding (the
    double `v` is used only as a sort key; both engines compute the
    identical IEEE quotient). Pair generation is a per-type self-join
    bounded by the time range squared — ~260k pairs per type at a
    month of hours, independent of row volume (at fleet scale the
    standard move is the same join over a sampled pair set)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    h = ev.select(
        "event_type", F.expr("unix_micros(ts) DIV 3600000000").alias("eh")
    )
    mn = F.broadcast(h.groupBy().agg(F.min("eh").alias("m")))
    # barrier + broadcast (optimization r16): the (type, hour) count
    # table is types x hours rows (bounded small); the pair self-join
    # below otherwise re-runs its scan+aggregate lineage on both sides,
    # and Catalyst sort-merge-joins two copies of it. Materialize once,
    # broadcast one side — pair generation becomes one map-side pass.
    from ..util import reliable_barrier

    c = reliable_barrier(
        h.crossJoin(mn)
        .select("event_type", (F.col("eh") - F.col("m")).alias("x"))
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    a = c.select("event_type", F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = c.select(
        F.col("event_type").alias("et2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    pr = a.join(
        F.broadcast(b), (a["event_type"] == b["et2"]) & (a["x1"] < b["x2"])
    ).select(
        "event_type",
        (F.col("y2") - F.col("y1")).alias("num"),
        (F.col("x2") - F.col("x1")).alias("den"),
        (
            (F.col("y2") - F.col("y1")).cast("double")
            / (F.col("x2") - F.col("x1")).cast("double")
        ).alias("v"),
    )
    w = Window.partitionBy("event_type")
    rk = pr.select(
        "event_type",
        "num",
        "den",
        F.row_number().over(w.orderBy("v", "num", "den")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    slope = F.when(
        F.col("num") >= 0, F.expr("(2 * num * 1000000 + den) DIV (2 * den)")
    ).otherwise(-F.expr("(2 * (-num) * 1000000 + den) DIV (2 * den)"))
    return rk.where(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        slope.cast("long").alias("slope_micro"),
    )


@_register(
    "quantile_sketch_by_source",
    r"""
    WITH vals AS (SELECT source, n_chars AS v FROM documents WHERE n_chars >= 1),
    b AS (SELECT source, v, length(bin(v)) AS p FROM vals),
    k AS (SELECT source, v,
            CASE WHEN v < 8 THEN v
                 ELSE (p - 4) * 8 + (v >> (p - 4)) END AS bucket,
            CASE WHEN v < 8 THEN v
                 ELSE ((v >> (p - 4)) << (p - 4)) END AS lo,
            CASE WHEN v < 8 THEN v
                 ELSE ((((v >> (p - 4)) + 1) << (p - 4)) - 1) END AS hi
          FROM b),
    hs AS (SELECT source, bucket, lo, hi, count(*) AS n
           FROM k GROUP BY 1, 2, 3, 4),
    hg AS (SELECT bucket, lo, hi, sum(n) AS n FROM hs GROUP BY 1, 2, 3),
    cs AS (SELECT source AS scope, bucket, (lo + hi) // 2 AS mid,
                  sum(n) OVER (PARTITION BY source ORDER BY bucket) AS cum,
                  sum(n) OVER (PARTITION BY source) AS nt
           FROM hs),
    cg AS (SELECT '__all__' AS scope, bucket, (lo + hi) // 2 AS mid,
                  sum(n) OVER (ORDER BY bucket) AS cum, sum(n) OVER () AS nt
           FROM hg),
    cu AS (SELECT * FROM cs UNION ALL SELECT * FROM cg),
    es AS (SELECT scope, max(nt) AS n_total,
                  arg_min(mid, bucket) AS p50_est
           FROM cu WHERE cum >= (nt + 1) // 2 GROUP BY scope),
    rs AS (SELECT source AS scope, v,
                  row_number() OVER (PARTITION BY source ORDER BY v) AS r,
                  count(*) OVER (PARTITION BY source) AS nt
           FROM vals),
    rg AS (SELECT '__all__' AS scope, v,
                  row_number() OVER (ORDER BY v) AS r, count(*) OVER () AS nt
           FROM vals),
    ru AS (SELECT * FROM rs UNION ALL SELECT * FROM rg),
    ex AS (SELECT scope, min(v) AS exact_p50 FROM ru
           WHERE r = (nt + 1) // 2 GROUP BY scope)
    SELECT es.scope, CAST(es.n_total AS BIGINT) AS n_total,
           CAST(es.p50_est AS BIGINT) AS p50_est,
           CAST(ex.exact_p50 AS BIGINT) AS exact_p50
    FROM es JOIN ex ON ex.scope = es.scope
    """,
)
def quantile_sketch_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped + hierarchy-rolled quantile sketch (r11) — the
    quantile twin of hll_rollup_sources: one log-bucket histogram per
    source answers each source's median document length, and the
    GLOBAL median comes from summing those bounded histograms —
    never re-scanning the corpus (the metadata-layer property; a lake
    keeps one ≤488-row histogram per shard and answers any rollup's
    quantiles from merges). Exact nearest-rank medians per scope sit
    alongside for error accounting. Same integer-exact bucket
    geometry as quantile_sketch_merge (bit-length + top-4-bits,
    never a float log)."""
    from pyspark.sql import Window

    from ..analytics.sketches import logbucket_histogram, logbucket_quantile

    docs = _t(spark, sf_dir, "documents").where(F.col("n_chars") >= 1)
    vals = docs.select("source", F.col("n_chars").alias("v"))
    hs = logbucket_histogram(vals, "v", group_cols=["source"])
    per = logbucket_quantile(hs, 1, 2, group_cols=["source"]).select(
        F.col("source").alias("scope"),
        F.col("n_total"),
        F.col("est").alias("p50_est"),
    )
    hg = hs.groupBy("bucket", "lo", "hi").agg(F.sum("n").alias("n"))
    glob = logbucket_quantile(hg, 1, 2).select(
        F.lit("__all__").alias("scope"),
        F.col("n_total"),
        F.col("est").alias("p50_est"),
    )
    est = per.unionByName(glob)
    ws = Window.partitionBy("source").orderBy("v")
    rs = vals.select(
        F.col("source").alias("scope"),
        "v",
        F.row_number().over(ws).alias("r"),
        F.count(F.lit(1))
        .over(
            Window.partitionBy("source").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("nt"),
    )
    rg = vals.select(
        F.lit("__all__").alias("scope"),
        "v",
        F.row_number().over(Window.orderBy("v")).alias("r"),
        F.count(F.lit(1))
        .over(
            Window.partitionBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("nt"),
    )
    exact = (
        rs.unionByName(rg)
        .where(F.col("r") == F.expr("(nt + 1) DIV 2"))
        .groupBy("scope")
        .agg(F.min("v").alias("exact_p50"))
    )
    return est.join(exact, "scope").select(
        "scope",
        F.col("n_total").cast("long").alias("n_total"),
        F.col("p50_est").cast("long").alias("p50_est"),
        F.col("exact_p50").cast("long").alias("exact_p50"),
    )


@_register(
    "minhash_estimate_error",
    _minhash_eval_oracle()
    + r"""
    agree AS (
      SELECT pr.id_a, pr.id_b, count(*) FILTER (ha.h = hb.h) AS n_agree
      FROM pr
      JOIN hx ha ON ha.doc_id = pr.id_a
      JOIN hx hb ON hb.doc_id = pr.id_b AND hb.seed = ha.seed
      GROUP BY pr.id_a, pr.id_b),
    tj AS (
      SELECT pr.id_a, pr.id_b,
             len(list_intersect(sa.s, sb.s)) AS inter,
             len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS union_sz
      FROM pr JOIN sh sa ON sa.doc_id = pr.id_a
              JOIN sh sb ON sb.doc_id = pr.id_b)
    SELECT tj.id_a, tj.id_b,
           CAST(tj.inter AS BIGINT) AS inter,
           CAST(tj.union_sz AS BIGINT) AS union_sz,
           CAST(agree.n_agree AS BIGINT) AS n_agree,
           CAST(agree.n_agree * 1000 // 32 AS BIGINT) AS est_permille,
           CAST(tj.inter * 1000 // tj.union_sz AS BIGINT) AS true_permille
    FROM tj JOIN agree ON agree.id_a = tj.id_a AND agree.id_b = tj.id_b
    """,
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash accuracy accounting (r11) — the eval that justifies the
    MinHash dedup family's thresholds: for sampled adjacent doc pairs,
    the 32-component signature-agreement estimate of Jaccard
    (E[agree/k] = J — the Broder 1997 identity) against the EXACT
    3-gram Jaccard, both in integer permille. Uses an md5-based
    min-hash family (min over shingles of md5(seed:shingle) as a
    60-bit int) precisely so the ORACLE can rebuild every signature
    component bit-for-bit — the production pipeline's
    xxhash64/blake2b families (analytics.dedup) are faster but not
    engine-portable; the ESTIMATOR MATH is identical, so this entry
    pins the accuracy story for the family. Signature build hashes
    each shingle ONCE (md5 -> 28-bit int) and derives the 32
    components with universal multiply-adds
    ((a_i·h + b_i) mod 2^61−1) before the min-aggregate (map-side
    combine, 32 rows per doc out); shingles come from ONE codegen
    window pass of two lead()s over the posexploded words, and the
    exact Jaccard from join-based set counts — the first cut built
    per-position HOF arrays and ran md5 per seed: 37.6s at the 10x
    probe; this shape runs it in 5.5s (0.80x). Never an interpreted
    per-row HOF chain on the hot path."""
    docs = _t(spark, sf_dir, "documents")
    ids = docs.where(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("id_a")
    )
    pr = ids.join(
        docs.select((F.col("doc_id") - 1).alias("id_a"), F.col("doc_id").alias("id_b")),
        "id_a",
    )
    wanted = pr.select(F.col("id_a").alias("doc_id")).unionByName(
        pr.select(F.col("id_b").alias("doc_id"))
    ).distinct()
    # 3-gram build WITHOUT array HOFs (the interpreted-lambda trap: a
    # per-position transform/slice/concat chain costs ~10us per
    # shingle and dominated the first cut): posexplode the words once,
    # then one codegen window pass of two lead()s builds every gram
    from pyspark.sql import Window

    base = docs.join(wanted, "doc_id").select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("_l")
    )
    words = base.select(
        "doc_id", F.posexplode("_l").alias("pos", "w")
    )  # empties kept: the oracle's split does the same
    wdw = Window.partitionBy("doc_id").orderBy("pos")
    grams3 = words.select(
        "doc_id",
        F.concat_ws(
            " ", F.col("w"), F.lead("w", 1).over(wdw), F.lead("w", 2).over(wdw)
        ).alias("g"),
        F.lead("w", 2).over(wdw).alias("_w2"),
    ).where(F.col("_w2").isNotNull())
    short = base.where(F.size("_l") < 3).select(
        "doc_id", F.concat_ws(" ", F.col("_l")).alias("g")
    )
    ex = grams3.select("doc_id", "g").unionByName(short).distinct()
    h0 = ex.select(
        "doc_id",
        F.conv(F.substring(F.md5("g"), 1, 7), 16, 10).cast("long").alias("h0"),
    )
    seed_rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("seed"), F.lit(a).alias("a"), F.lit(b).alias("b")
            )
            for i, a, b in _minhash_seed_constants()
        ]
    )
    hx = (
        h0.select("doc_id", "h0", F.explode(seed_rows).alias("sd"))
        .select(
            "doc_id",
            F.col("sd.seed").alias("seed"),
            (
                (F.col("h0") * F.col("sd.a") + F.col("sd.b"))
                % F.lit(2305843009213693951)
            ).alias("h"),
        )
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("h"))
    )
    ha = hx.select(F.col("doc_id").alias("id_a"), "seed", F.col("h").alias("h_a"))
    hb = hx.select(F.col("doc_id").alias("id_b"), "seed", F.col("h").alias("h_b"))
    agree = (
        pr.join(ha, "id_a")
        .join(hb, ["id_b", "seed"])
        .groupBy("id_a", "id_b")
        .agg(F.sum((F.col("h_a") == F.col("h_b")).cast("long")).alias("n_agree"))
    )
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_g"))
    inter = (
        pr.join(ex.select(F.col("doc_id").alias("id_a"), "g"), "id_a")
        .join(ex.select(F.col("doc_id").alias("id_b"), "g"), ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    tj = (
        pr.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n_g").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n_g").alias("nb")), "id_b")
        .join(inter, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            F.coalesce(F.col("inter"), F.lit(0)).cast("long").alias("inter"),
            (F.col("na") + F.col("nb") - F.coalesce(F.col("inter"), F.lit(0)))
            .cast("long")
            .alias("union_sz"),
        )
    )
    return tj.join(agree, ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        "inter",
        "union_sz",
        F.col("n_agree").cast("long").alias("n_agree"),
        F.expr("n_agree * 1000 DIV 32").cast("long").alias("est_permille"),
        F.expr("inter * 1000 DIV union_sz").cast("long").alias("true_permille"),
    )


@_register(
    "item_similarity_topk",
    r"""
    WITH e AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    deg AS (SELECT p, count(*) AS d FROM e GROUP BY p),
    co AS (SELECT a.p AS pa, b.p AS pb, count(*) AS c
           FROM e a JOIN e b ON b.o = a.o AND a.p < b.p
           GROUP BY 1, 2),
    sym AS (SELECT pa AS src, pb AS dst, c FROM co
            UNION ALL SELECT pb, pa, c FROM co),
    sc AS (SELECT sym.src, sym.dst, sym.c,
                  sym.c / sqrt(CAST(da.d AS DOUBLE) * CAST(db.d AS DOUBLE)) AS s
           FROM sym JOIN deg da ON da.p = sym.src
                    JOIN deg db ON db.p = sym.dst),
    rk AS (SELECT src, dst, c, s,
                  row_number() OVER (PARTITION BY src ORDER BY s DESC, dst) AS r
           FROM sc)
    SELECT src AS part_id, dst AS similar_part, CAST(c AS BIGINT) AS shared_orders,
           round(s, 6) AS cosine_sim, CAST(r AS BIGINT) AS rank
    FROM rk WHERE r <= 3
    """,
)
def item_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (r11; the Amazon
    item-to-item recipe, Linden et al. 2003) — the recommender
    primitive the co-occurrence entries stop short of: per part, the
    top-3 most similar parts by co-occurrence COSINE
    c_ij / sqrt(c_i·c_j), where c_ij counts orders containing both
    and c_i the part's order degree — normalization that stops
    popular items from dominating every neighbor list (raw
    co-purchase counts do). Candidate pairs come from the self-join
    on the order key — bounded by per-order basket size squared, the
    legitimate wedge (the projection IS the product); one degree
    join, one per-src top-k window. Cosine = one sqrt + one divide
    over exact integers — deterministic cross-engine."""
    from pyspark.sql import Window

    from ..util import reliable_barrier

    li = _t(spark, sf_dir, "lineitem")
    # barriers (optimization r16): the symmetrize-by-union below used
    # to DUPLICATE the whole wedge-join + count subtree — the executed
    # plan ran the (order, part) distinct four times and the self-join
    # twice (two Exchange(wedge) branches). Materializing e and co once
    # makes the union a map-side relabel over cached rows.
    e = reliable_barrier(
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    )
    deg = e.groupBy("p").agg(F.count(F.lit(1)).alias("d"))
    a = e.select("o", F.col("p").alias("pa"))
    b = e.select("o", F.col("p").alias("pb"))
    co = reliable_barrier(
        a.join(b, "o")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sym = co.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst"), "c"
    ).unionByName(co.select(F.col("pb").alias("src"), F.col("pa").alias("dst"), "c"))
    sc = (
        sym.join(deg.select(F.col("p").alias("src"), F.col("d").alias("da")), "src")
        .join(deg.select(F.col("p").alias("dst"), F.col("d").alias("db")), "dst")
        .select(
            "src",
            "dst",
            "c",
            (
                F.col("c") / F.sqrt(F.col("da").cast("double") * F.col("db").cast("double"))
            ).alias("s"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("s"), F.asc("dst"))
    return (
        sc.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 3)
        .select(
            F.col("src").alias("part_id"),
            F.col("dst").alias("similar_part"),
            F.col("c").cast("long").alias("shared_orders"),
            F.round("s", 6).alias("cosine_sim"),
            F.col("r").cast("long").alias("rank"),
        )
    )


@_register(
    "markov_stationary_distribution",
    r"""
    WITH s AS (SELECT user_id, event_type,
                      lead(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS nxt
               FROM events),
    t AS (SELECT event_type AS src, nxt AS dst,
                 CAST(count(*) AS DOUBLE)
                   / sum(count(*)) OVER (PARTITION BY event_type) AS p
          FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
    st AS (SELECT DISTINCT src AS state FROM t),
    n AS (SELECT count(*) AS k FROM st),
    p0 AS (SELECT state, 1.0::DOUBLE / k AS pi FROM st CROSS JOIN n),
    p1 AS (SELECT st.state, coalesce(x.v, 0) AS pi FROM st LEFT JOIN
           (SELECT t.dst AS state, sum(p0.pi * t.p) AS v
            FROM t JOIN p0 ON p0.state = t.src GROUP BY t.dst) x
           ON x.state = st.state),
    p2 AS (SELECT st.state, coalesce(x.v, 0) AS pi FROM st LEFT JOIN
           (SELECT t.dst AS state, sum(p1.pi * t.p) AS v
            FROM t JOIN p1 ON p1.state = t.src GROUP BY t.dst) x
           ON x.state = st.state),
    p3 AS (SELECT st.state, coalesce(x.v, 0) AS pi FROM st LEFT JOIN
           (SELECT t.dst AS state, sum(p2.pi * t.p) AS v
            FROM t JOIN p2 ON p2.state = t.src GROUP BY t.dst) x
           ON x.state = st.state),
    p4 AS (SELECT st.state, coalesce(x.v, 0) AS pi FROM st LEFT JOIN
           (SELECT t.dst AS state, sum(p3.pi * t.p) AS v
            FROM t JOIN p3 ON p3.state = t.src GROUP BY t.dst) x
           ON x.state = st.state)
    SELECT state, round(pi, 6) AS pi FROM p4
    """,
)
def markov_stationary_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov stationary distribution (r11) — the tenth iterative
    class, closing the chain the transition matrix opened: four
    synchronous power iterations π ← πP from a uniform start over
    the empirical event-type chain — the long-run "where does a user
    session settle" distribution that next-event counts alone don't
    give (it weights states by their steady-state mass, not their
    raw frequency). Each iteration is ONE equi-join of the slim
    (state, π) frame onto the transition edges plus a groupBy sum —
    the weighted-graph PageRank shape without damping; transition
    probabilities are single exact divisions, so only summation-
    order ulps separate engines and round(,6) absorbs them. The
    oracle unrolls the same four rounds as chained CTEs."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select("event_type", F.lead("event_type").over(w).alias("nxt")).filter(
        F.col("nxt").isNotNull()
    )
    counts = s.groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # barrier (optimization r16): t is |types|^2 rows but its lineage
    # holds the per-user lead() window over the FULL events table; the
    # four unrolled rounds referenced that subtree once per join (the
    # executed plan scanned events 20x, 68 exchanges). Materialize the
    # tiny transition table once; the per-round frames are bounded by
    # the categorical state count at any scale, so broadcasting them is
    # always safe (the round joins become map-side; plan: 1 scan).
    from ..util import reliable_barrier

    t = reliable_barrier(
        counts.select(
            "src",
            "dst",
            (
                F.col("n").cast("double")
                / F.sum("n").over(Window.partitionBy("src"))
            ).alias("p"),
        )
    )
    st = t.select(F.col("src").alias("state")).distinct()
    k = F.broadcast(st.agg(F.count(F.lit(1)).alias("k")))
    pi = st.crossJoin(k).select("state", (F.lit(1.0) / F.col("k")).alias("pi"))
    for _ in range(4):
        nxt = (
            t.join(F.broadcast(pi.withColumnRenamed("state", "src")), "src")
            .groupBy(F.col("dst").alias("state"))
            .agg(F.sum(F.col("pi") * F.col("p")).alias("v"))
        )
        pi = st.join(F.broadcast(nxt), "state", "left").select(
            "state", F.coalesce(F.col("v"), F.lit(0.0)).alias("pi")
        )
    return pi.select("state", F.round("pi", 6).alias("pi"))


@_register(
    "power_iteration_top_component",
    r"""
    WITH e AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings),
    v0 AS (SELECT DISTINCT pos, 0.125::DOUBLE AS vp FROM e),
    xv1 AS (SELECT e.vec_id, sum(e.val * v0.vp) AS s
            FROM e JOIN v0 USING (pos) GROUP BY e.vec_id),
    w1 AS (SELECT e.pos, sum(e.val * xv1.s) AS w
           FROM e JOIN xv1 ON xv1.vec_id = e.vec_id GROUP BY e.pos),
    n1 AS (SELECT sqrt(sum(w * w)) AS nm FROM w1),
    v1 AS (SELECT pos, w / nm AS vp FROM w1 CROSS JOIN n1),
    xv2 AS (SELECT e.vec_id, sum(e.val * v1.vp) AS s
            FROM e JOIN v1 USING (pos) GROUP BY e.vec_id),
    w2 AS (SELECT e.pos, sum(e.val * xv2.s) AS w
           FROM e JOIN xv2 ON xv2.vec_id = e.vec_id GROUP BY e.pos),
    n2 AS (SELECT sqrt(sum(w * w)) AS nm FROM w2),
    v2 AS (SELECT pos, w / nm AS vp FROM w2 CROSS JOIN n2),
    xv3 AS (SELECT e.vec_id, sum(e.val * v2.vp) AS s
            FROM e JOIN v2 USING (pos) GROUP BY e.vec_id),
    w3 AS (SELECT e.pos, sum(e.val * xv3.s) AS w
           FROM e JOIN xv3 ON xv3.vec_id = e.vec_id GROUP BY e.pos),
    n3 AS (SELECT sqrt(sum(w * w)) AS nm FROM w3),
    v3 AS (SELECT pos, w / nm AS vp FROM w3 CROSS JOIN n3),
    xv4 AS (SELECT e.vec_id, sum(e.val * v3.vp) AS s
            FROM e JOIN v3 USING (pos) GROUP BY e.vec_id),
    w4 AS (SELECT e.pos, sum(e.val * xv4.s) AS w
           FROM e JOIN xv4 ON xv4.vec_id = e.vec_id GROUP BY e.pos),
    n4 AS (SELECT sqrt(sum(w * w)) AS nm FROM w4),
    v4 AS (SELECT pos, w / nm AS vp FROM w4 CROSS JOIN n4)
    SELECT CAST(v4.pos - 1 AS BIGINT) AS pos, round(v4.vp, 6) AS loading,
           round(n4.nm, 4) AS eigenvalue
    FROM v4 CROSS JOIN n4
    """,
)
def power_iteration_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction by MATRIX-FREE power iteration
    (r11) — the eleventh iterative class, and the spectral primitive
    behind PCA whitening / spectral embedding init: four rounds of
    v ← normalize(Xᵀ(Xv)) over the embedding matrix WITHOUT ever
    materializing the d×d Gram — each round is two slim equi-joins +
    groupBy sums on the posexploded (vec, pos, val) rows (first
    contract to n scores, then back to d loadings), which is the
    shape that survives d too large to broadcast and n too large to
    collect. Start v₀ = 1/8 exactly (1/√64 is a binary power — exact
    start, deterministic sign); normalization sqrt is correctly
    rounded; only groupBy summation order separates engines and
    round(,6) absorbs it. The Rayleigh estimate ‖Xᵀ(Xv)‖ after the
    last round is the eigenvalue column. Oracle = the same four
    rounds unrolled as CTEs."""
    ev = _t(spark, sf_dir, "embeddings")
    e = ev.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("pos0", "val")
    ).select(
        "vec_id", (F.col("pos0") + 1).alias("pos"), F.col("val").cast("double").alias("val")
    )
    from ..util import reliable_barrier

    e = reliable_barrier(e)
    v = e.select("pos").distinct().select("pos", F.lit(0.125).alias("vp"))
    nm = None
    for _ in range(4):
        xv = (
            e.join(v, "pos")
            .groupBy("vec_id")
            .agg(F.sum(F.col("val") * F.col("vp")).alias("s"))
        )
        # Barrier w per round (the hits()/pagerank discipline —
        # VERDICT r11 #2): w is consumed TWICE (the norm aggregate and
        # the next v) and v feeds the next round, so without the
        # barrier the executed plan re-expands every prior round per
        # reference (PLAN_AUDIT showed exchanges: 250 vs 23 for
        # pagerank's three barriered iterations).
        w = reliable_barrier(
            e.join(xv, "vec_id")
            .groupBy("pos")
            .agg(F.sum(F.col("val") * F.col("s")).alias("w"))
        )
        nm = F.broadcast(w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nm")))
        v = w.crossJoin(nm).select("pos", (F.col("w") / F.col("nm")).alias("vp"))
    return v.crossJoin(nm).select(
        (F.col("pos") - 1).cast("long").alias("pos"),
        F.round("vp", 6).alias("loading"),
        F.round("nm", 4).alias("eigenvalue"),
    )


@_register(
    "gini_value_by_type",
    r"""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS y
      FROM events WHERE value >= 0),
    r AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY y) AS i
      FROM v),
    s AS (
      SELECT event_type, count(*) AS n, sum(y) AS sy, sum(i * y) AS siy
      FROM r GROUP BY event_type),
    d AS (
      SELECT event_type, n, sy,
             2 * siy - (n + 1) * sy AS num, n * sy AS den
      FROM s WHERE sy > 0)
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           CAST(sy AS BIGINT) AS total_cents,
           CAST(CASE WHEN num >= 0
                THEN (2 * num * 1000 + den) // (2 * den)
                ELSE -((2 * (-num) * 1000 + den) // (2 * den)) END
                AS BIGINT) AS gini_milli
    FROM d
    """,
)
def gini_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini concentration per event type (r11) — the
    inequality profile of the value distribution ("is purchase
    revenue spread evenly or carried by a few whales"), computed as
    ONE exact rational G = (2Σi·yᵢ − (n+1)Σy) / (nΣy) over the
    rank-sorted integer-cent values and emitted in integer MILLI
    units via the repo's rational rounding (milli, not micro — the
    2·num·scale product must clear BIGINT at 100× this volume; bound
    documented). One sort-window per type partition + one hash
    aggregate; ties in y need no tie-break (any rank order of equal
    values leaves Σi·yᵢ unchanged — the estimator is
    permutation-invariant within ties, so both engines agree without
    a deterministic sort)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").where(F.col("value") >= 0)
    v = ev.select("event_type", _cents(F.col("value")).alias("y"))
    r = v.select(
        "event_type",
        "y",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("y"))
        .alias("i"),
    )
    s = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("i") * F.col("y")).alias("siy"),
    )
    d = s.where(F.col("sy") > 0).select(
        "event_type",
        "n",
        "sy",
        (2 * F.col("siy") - (F.col("n") + 1) * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sy")).alias("den"),
    )
    gini = F.when(
        F.col("num") >= 0, F.expr("(2 * num * 1000 + den) DIV (2 * den)")
    ).otherwise(-F.expr("(2 * (-num) * 1000 + den) DIV (2 * den)"))
    return d.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.col("sy").cast("long").alias("total_cents"),
        gini.cast("long").alias("gini_milli"),
    )


@_register(
    "streaming_outer_join_timeouts",
    r"""
    WITH f AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS tus,
             event_id % 4 AS b
      FROM events WHERE event_type IN ('click', 'purchase')),
    mx AS (
      SELECT b,
        max(CASE WHEN event_type = 'click' THEN tus END) AS mc,
        max(CASE WHEN event_type = 'purchase' THEN tus END) AS mp
      FROM f GROUP BY b),
    wseries AS (  -- W(x) = min over the two streams of running max - 1h
      SELECT b,
        least(max(mc) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING),
              max(mp) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING))
          - 3600000000 AS w
      FROM mx),
    wm AS (  -- per batch: late filter uses W(b-2), eviction W(b-1)
      SELECT bb.b,
        (SELECT max(w) FROM wseries WHERE wseries.b <= bb.b - 2) AS wlate,
        (SELECT max(w) FROM wseries WHERE wseries.b <= bb.b - 1) AS wevict
      FROM (SELECT DISTINCT b FROM f) bb),
    c AS (SELECT f.event_id AS cid, f.user_id, f.tus AS cts, f.b AS bc
          FROM f JOIN wm ON wm.b = f.b
          WHERE f.event_type = 'click'
            AND (wm.wlate IS NULL OR f.tus >= wm.wlate)),
    p AS (SELECT f.event_id AS pid, f.user_id, f.tus AS pts, f.b AS bp
          FROM f JOIN wm ON wm.b = f.b
          WHERE f.event_type = 'purchase'
            AND (wm.wlate IS NULL OR f.tus >= wm.wlate)),
    pairs AS (
      SELECT p.pid, p.bp, p.pts, c.cid, c.bc, c.cts
      FROM p JOIN c ON c.user_id = p.user_id
        AND c.cts >= p.pts - 1800000000 AND c.cts <= p.pts),
    emitted AS (
      SELECT pairs.* FROM pairs
      LEFT JOIN wm ON wm.b = greatest(pairs.bp, pairs.bc) - 1
      WHERE pairs.bp = pairs.bc
         OR wm.wevict IS NULL
         OR (pairs.bc < pairs.bp AND pairs.cts + 1800000000 >= wm.wevict)
         OR (pairs.bp < pairs.bc AND pairs.pts >= wm.wevict)),
    matched AS (
      SELECT pid, count(*) AS n_matches FROM emitted GROUP BY pid),
    wlast AS (SELECT max(w) AS wend FROM wseries),
    timeouts AS (
      SELECT p.pid FROM p CROSS JOIN wlast
      WHERE p.pts < wlast.wend
        AND NOT EXISTS (SELECT 1 FROM matched WHERE matched.pid = p.pid))
    SELECT pid, CAST(n_matches AS BIGINT) AS n_matches,
           CAST(0 AS BIGINT) AS timed_out
    FROM matched
    UNION ALL
    SELECT pid, CAST(0 AS BIGINT), CAST(1 AS BIGINT) FROM timeouts
    """,
)
def streaming_outer_join_timeouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join with watermark timeout
    (r11) — the outer half the inner interval-join entry leaves
    untested, and the hardest piece of streaming-join semantics:
    purchases join their user's clicks in [pts−30m, pts]; a purchase
    whose join state EXPIRES unmatched emits exactly one null-click
    row. Replayed over the same deterministic 4-batch staging as
    streaming_late_event_drops, the final sink content is decided by
    THREE interacting watermark rules, all simulated by the oracle:
    (1) late-row filtering uses the PREVIOUS batch's watermark
    (W(b−2) — the two-batch lag pinned by the late-drops entry),
    (2) state eviction uses the current one (W(b−1)): a click
    survives to a later batch iff cts+30m ≥ that watermark, a
    purchase iff pts ≥ it, (3) the global watermark is the MIN over
    both streams' event-time maxima. A purchase emits its timeout
    null only if it is evicted BEFORE the stream ends (pts < final
    watermark) — otherwise it sits in state forever and never
    appears, the flush trap append-mode sinks inherit. Output is
    per-purchase (n_matches, timed_out); every number must match the
    simulation exactly."""
    import shutil as _shutil
    import tempfile as _tempfile
    import uuid as _uuid

    configure(spark)
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    ).select("event_id", "ts", "user_id", "event_type")
    stage = _tempfile.mkdtemp(prefix="stream-oj-")
    try:
        # one-pass staging with mtime-pinned replay order
        _stage_mod_batches(ev, stage, n_batches=4, key="event_id")
        schema = "event_id long, ts timestamp, user_id long, event_type string"
        raw1 = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        raw2 = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        purch = (
            raw1.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("pid"),
                F.col("user_id").alias("pu"),
                F.col("ts").alias("pts"),
            )
            .withWatermark("pts", "1 hour")
        )
        clicks = (
            raw2.where(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("cid"),
                F.col("user_id").alias("cu"),
                F.col("ts").alias("cts"),
            )
            .withWatermark("cts", "1 hour")
        )
        j = purch.join(
            clicks,
            (F.col("cu") == F.col("pu"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("cts") <= F.col("pts")),
            "left_outer",
        )
        view = f"stream_oj_{_uuid.uuid4().hex[:8]}"
        _drain(
            spark,
            j.select("pid", "cid").writeStream.format("memory").queryName(view).outputMode("append"),
            timeout_s=240,
        )
        sink = spark.table(view)
        return sink.groupBy("pid").agg(
            F.count("cid").cast("long").alias("n_matches"),
            F.max(F.col("cid").isNull().cast("int")).cast("long").alias("timed_out"),
        )
    finally:
        _shutil.rmtree(stage, ignore_errors=True)


@_register(
    "pointintime_feature_matrix",
    r"""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    w AS (
      SELECT user_id, event_id, event_type, tus,
        sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY tus
                RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)
          AS clicks_24h,
        sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY tus
                RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
          AS purch_cents_7d,
        last_value(CASE WHEN event_type = 'click' THEN cents END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY tus, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS last_click_cents
      FROM e)
    SELECT event_id AS pid, user_id,
           CAST(coalesce(clicks_24h, 0) AS BIGINT) AS trailing_clicks_24h,
           CAST(coalesce(purch_cents_7d, 0) AS BIGINT)
             AS trailing_purchase_cents_7d,
           CAST(last_click_cents AS BIGINT) AS last_click_value_cents
    FROM w WHERE event_type = 'purchase'
    """,
)
def pointintime_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature-matrix assembly (r11) — the feature-store
    read path: for every purchase, THREE training features computed
    AS OF strictly before the event (trailing 24h click count,
    trailing 7d purchase spend in exact cents, last click's value) —
    in ONE window pass over each user's timeline. This is the shape
    that matters at 100 TB: the naive build is one join per feature
    (three shuffles of the fact table); here every feature is a
    frame over the SAME (user, time) sort, so Catalyst reuses one
    exchange+sort for all of them. Time-valued RANGE frames end at
    1 PRECEDING (strictly before — no same-microsecond leakage);
    the as-of feature uses a ROWS frame with the event_id tie-break.
    Pairs with future_purchase_labels: features strictly past,
    labels strictly future — the leakage discipline end to end."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
        _cents(F.col("value")).alias("cents"),
    )
    wr = Window.partitionBy("user_id").orderBy("tus")
    w24 = wr.rangeBetween(-86_400_000_000, -1)
    w7d = wr.rangeBetween(-604_800_000_000, -1)
    wlast = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    feat = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.sum((F.col("event_type") == "click").cast("long")).over(w24).alias("c24"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(0)
        )
        .over(w7d)
        .alias("p7d"),
        F.last(
            F.when(F.col("event_type") == "click", F.col("cents")), ignorenulls=True
        )
        .over(wlast)
        .alias("lc"),
    )
    return feat.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.coalesce(F.col("c24"), F.lit(0)).cast("long").alias("trailing_clicks_24h"),
        F.coalesce(F.col("p7d"), F.lit(0))
        .cast("long")
        .alias("trailing_purchase_cents_7d"),
        F.col("lc").cast("long").alias("last_click_value_cents"),
    )


@_register(
    "histogram_drift_by_type",
    r"""
    WITH vals AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) < 1705276800000000 THEN 0 ELSE 1 END AS half,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value >= 0.01),
    b AS (SELECT event_type, half, v, length(bin(v)) AS p FROM vals),
    k AS (SELECT event_type, half,
            CASE WHEN v < 8 THEN v
                 ELSE (p - 4) * 8 + (v >> (p - 4)) END AS bucket
          FROM b),
    h AS (SELECT event_type, half, bucket, count(*) AS n
          FROM k GROUP BY 1, 2, 3),
    tot AS (SELECT event_type, half, sum(n) AS nt FROM h GROUP BY 1, 2),
    piv AS (
      SELECT coalesce(a.event_type, c.event_type) AS event_type,
             coalesce(a.bucket, c.bucket) AS bucket,
             coalesce(a.n, 0) AS n1, coalesce(c.n, 0) AS n2
      FROM (SELECT * FROM h WHERE half = 0) a
      FULL OUTER JOIN (SELECT * FROM h WHERE half = 1) c
        ON c.event_type = a.event_type AND c.bucket = a.bucket),
    j AS (
      SELECT piv.event_type, piv.bucket, piv.n1, piv.n2, t1.nt AS m1, t2.nt AS m2
      FROM piv
      JOIN (SELECT event_type, nt FROM tot WHERE half = 0) t1
        ON t1.event_type = piv.event_type
      JOIN (SELECT event_type, nt FROM tot WHERE half = 1) t2
        ON t2.event_type = piv.event_type)
    SELECT event_type,
           CAST(max(m1) AS BIGINT) AS n_first_half,
           CAST(max(m2) AS BIGINT) AS n_second_half,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST((sum(abs(n1 * m2 - n2 * m1)) * 1000)
                // (2 * max(m1) * max(m2)) AS BIGINT) AS tv_permille
    FROM j GROUP BY event_type
    """,
)
def histogram_drift_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift on SKETCHES (r11) — the monitoring use the
    log-bucket histogram family exists for: per event type, the
    total-variation distance between the first and second half of the
    month's value distributions, computed ENTIRELY from two bounded
    histograms (TV = ½Σ|p_i − q_i| over the ≤488 shared buckets —
    never the raw rows twice; a fleet stores one histogram per
    shard-and-window and answers "did the distribution move" from
    merges). Exact integer arithmetic end to end: the rational
    ½Σ|n1_i·N2 − n2_i·N1| / (N1·N2) is emitted in integer permille —
    no float probabilities whose rounding could flap a drift alert
    at the threshold. The KL entry (term_distribution_divergence)
    needs logs and tolerance; TV is the metric you can compute
    exactly."""
    from ..analytics.sketches import logbucket_histogram

    ev = _t(spark, sf_dir, "events").where(F.col("value") >= 0.01)
    vals = ev.select(
        "event_type",
        F.when(F.unix_micros("ts") < 1705276800000000, 0).otherwise(1).alias("half"),
        _cents(F.col("value")).alias("v"),
    )
    h = logbucket_histogram(vals, "v", group_cols=["event_type", "half"]).select(
        "event_type", "half", "bucket", "n"
    )
    a = h.where(F.col("half") == 0).select(
        "event_type", "bucket", F.col("n").alias("n1")
    )
    c = h.where(F.col("half") == 1).select(
        "event_type", "bucket", F.col("n").alias("n2")
    )
    piv = (
        a.join(c, ["event_type", "bucket"], "full_outer")
        .select(
            "event_type",
            "bucket",
            F.coalesce("n1", F.lit(0)).alias("n1"),
            F.coalesce("n2", F.lit(0)).alias("n2"),
        )
    )
    tot = h.groupBy("event_type", "half").agg(F.sum("n").alias("nt"))
    t1 = tot.where(F.col("half") == 0).select("event_type", F.col("nt").alias("m1"))
    t2 = tot.where(F.col("half") == 1).select("event_type", F.col("nt").alias("m2"))
    j = piv.join(t1, "event_type").join(t2, "event_type")
    return j.groupBy("event_type").agg(
        F.max("m1").cast("long").alias("n_first_half"),
        F.max("m2").cast("long").alias("n_second_half"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.expr(
            "CAST(sum(abs(n1 * m2 - n2 * m1)) * 1000 DIV (2 * max(m1) * max(m2)) AS BIGINT)"
        ).alias("tv_permille"),
    )
