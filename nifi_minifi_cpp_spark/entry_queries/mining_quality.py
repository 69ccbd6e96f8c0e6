"""Clustering, graphs, downsampling, audits (r11 batch 1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import configure
from ._shared import (
    _drain,
    _kmeans_oracle_sql,
    _near_dup_components,
    _NEAR_DUP_COMPONENTS_CTES,
    _register,
    _session_stats,
    _SESSION_STATS_ORACLE,
    _stream_events_stage,
    _supplier_part_edges,
    _t,
)


# One BPE merge round over a word's symbols, as an independent string
# fold (not the engine's array fold): DuckDB joins the symbols with U+001F,
# merges ``b.l`` + ``b.r`` left to right, then splits back.
_BPE_FOLD_SQL = r"""string_split(
        list_reduce(syms, (acc, x) -> CASE
          WHEN x = b.r AND (acc = b.l OR (length(acc) > length(b.l)
                AND substr(acc, length(acc) - length(b.l), length(b.l) + 1)
                    = chr(31) || b.l))
          THEN CASE WHEN length(acc) = length(b.l) THEN b.l || b.r
               ELSE substr(acc, 1, length(acc) - length(b.l)) || b.l || b.r END
          ELSE acc || chr(31) || x END),
        chr(31))"""


def _bpe_oracle_sql(n: int) -> str:
    """Unrolled-CTE DuckDB oracle for ``bpe_train`` — the
    ``pagerank_supplier_parts`` pattern: one (pair-census p{i}, argmax
    b{i}, rewrite v{i}) round per CTE triple, chained N times. The
    rewrite is an INDEPENDENT construction from the engine's
    array-fold: DuckDB folds each word to a U+001F-joined STRING whose
    suffix is tested/stripped, then splits back — same greedy
    left-to-right semantics through a different mechanism (and
    tests/test_corpus_properties.py holds the third, pure-Python
    model, per the oracle-mirror caveat)."""
    parts = [
        r"""
    WITH v0 AS (
      SELECT CAST(count(*) AS BIGINT) AS freq,
             list_append(string_split(word, ''), '</w>') AS syms
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' AND NOT contains(word, chr(31))
      GROUP BY word)"""
    ]
    for i in range(1, n + 1):
        parts.append(
            f"""
    , p{i} AS (
      SELECT unnest(list_transform(range(1, len(syms)),
               j -> syms[j] || chr(31) || syms[j+1])) AS pr, freq
      FROM v{i - 1} WHERE len(syms) >= 2)
    , b{i} AS (
      SELECT string_split(pr, chr(31))[1] AS l,
             string_split(pr, chr(31))[2] AS r,
             CAST(sum(freq) AS BIGINT) AS cnt
      FROM p{i} GROUP BY pr
      ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)"""
        )
        if i < n:
            parts.append(
                f"""
    , v{i} AS (
      SELECT freq, {_BPE_FOLD_SQL} AS syms
      FROM v{i - 1}, b{i} b)"""
            )
    unions = "\n      UNION ALL ".join(
        f"SELECT {i} AS merge_rank, l AS merge_left, r AS merge_right,"
        f" cnt AS pair_count FROM b{i}"
        for i in range(1, n + 1)
    )
    parts.append(
        f"""
    SELECT * FROM ({unions})
    ORDER BY merge_rank"""
    )
    return "".join(parts)


def _bpe_tokenize_oracle_sql(n: int) -> str:
    """Oracle for ``bpe_tokenized_counts``: the same unrolled merge
    rounds as ``_bpe_oracle_sql`` but carrying the WORD through every
    round, so the final vocabulary maps word -> subword count and a
    join against per-(source, word) occurrence counts yields the
    corpus accounting. The rewrite fold is the oracle's independent
    string-fold construction, not the engine's array fold."""
    parts = [
        r"""
    WITH sw AS (
      SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT source, unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE word <> '' AND NOT contains(word, chr(31))
      GROUP BY source, word),
    v0 AS (
      SELECT word, CAST(sum(cnt) AS BIGINT) AS freq,
             list_append(string_split(word, ''), '</w>') AS syms
      FROM sw GROUP BY word)"""
    ]
    for i in range(1, n + 1):
        parts.append(
            f"""
    , p{i} AS (
      SELECT unnest(list_transform(range(1, len(syms)),
               j -> syms[j] || chr(31) || syms[j+1])) AS pr, freq
      FROM v{i - 1} WHERE len(syms) >= 2)
    , b{i} AS (
      SELECT string_split(pr, chr(31))[1] AS l,
             string_split(pr, chr(31))[2] AS r
      FROM p{i} GROUP BY pr
      ORDER BY CAST(sum(freq) AS BIGINT) DESC, l ASC, r ASC LIMIT 1)
    , v{i} AS (
      SELECT word, freq, {_BPE_FOLD_SQL} AS syms
      FROM v{i - 1}, b{i} b)"""
        )
    parts.append(
        f"""
    , nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             FROM documents GROUP BY source)
    SELECT nd.source, nd.n_docs, coalesce(tt.total_bpe_tokens, 0) AS total_bpe_tokens
    FROM nd LEFT JOIN (
      SELECT sw.source,
             CAST(sum(sw.cnt * len(v{n}.syms)) AS BIGINT) AS total_bpe_tokens
      FROM sw JOIN v{n} ON sw.word = v{n}.word
      GROUP BY sw.source) tt ON nd.source = tt.source"""
    )
    return "".join(parts)


def _hilbert_oracle_sql() -> str:
    from ..plans.layout import hilbert_key_sql_ctes

    ctes = hilbert_key_sql_ctes(
        # epoch_us // 1e6 floors like Spark's unix_timestamp;
        # epoch(ts)::BIGINT would ROUND sub-second fractions (the
        # DuckDB float-cast trap) and shift ~half the keys by one
        "(SELECT user_id, (user_id & 255) AS bx,"
        " ((epoch_us(ts) // 1000000) & 255) AS by FROM events)",
        ["user_id"],
        "bx",
        "by",
        bits=8,
    )
    return f"""
    WITH {ctes}
    SELECT CAST(hd >> 10 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(min(hd) AS BIGINT) AS min_h,
           CAST(max(hd) AS BIGINT) AS max_h
    FROM h_out GROUP BY 1
    """


@_register("bpe_trained_merges", _bpe_oracle_sql(8))
def bpe_trained_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE merge-loop trainer (VERDICT r10 #4): 8 iterative merge
    rounds over the documents vocabulary — the fifth
    iterative-algorithm class next to connected components, PageRank,
    label propagation, and the triangle census, with the same
    barrier-per-round discipline. Emits the ranked merge table; see
    ``analytics.text_analysis.bpe_train`` for the vocab-local scale
    analysis (corpus touched once, rounds are vocabulary-sized)."""
    from ..analytics.text_analysis import bpe_train

    docs = _t(spark, sf_dir, "documents")
    return bpe_train(docs, num_merges=8)


@_register("kmeans_embedding_clusters", _kmeans_oracle_sql(4, 3))
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer-quantized Lloyd k-means over the
    embeddings table (r11) — k=4 seeds from the smallest vec_ids, 3
    rounds, exact integer distances/argmin so assignments are
    bit-identical across engines and partitionings; see
    ``analytics.clustering.kmeans_quantized`` for the broadcast-
    centroid / model-sized-collect scale shape (MLlib's Lloyd)."""
    from ..analytics.clustering import kmeans_quantized

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_quantized(emb, k=4, iterations=3)


@_register(
    "bfs_hop_histogram",
    r"""
    WITH e AS (
      SELECT DISTINCT 's' || l_suppkey AS s, 'p' || l_partkey AS d FROM lineitem
      UNION
      SELECT DISTINCT 'p' || l_partkey AS s, 's' || l_suppkey AS d FROM lineitem),
    n0 AS (SELECT DISTINCT 's' || l_suppkey AS n, 0 AS h
           FROM lineitem WHERE l_suppkey <= 10),
    n1 AS (SELECT n, min(h) AS h FROM (
             SELECT n, h FROM n0
             UNION ALL
             SELECT e.d AS n, n0.h + 1 AS h FROM e JOIN n0 ON e.s = n0.n
           ) GROUP BY n),
    n2 AS (SELECT n, min(h) AS h FROM (
             SELECT n, h FROM n1
             UNION ALL
             SELECT e.d AS n, n1.h + 1 AS h FROM e JOIN n1 ON e.s = n1.n
           ) GROUP BY n),
    n3 AS (SELECT n, min(h) AS h FROM (
             SELECT n, h FROM n2
             UNION ALL
             SELECT e.d AS n, n2.h + 1 AS h FROM e JOIN n2 ON e.s = n2.n
           ) GROUP BY n)
    SELECT h AS hop, CAST(count(*) AS BIGINT) AS n_nodes
    FROM n3 GROUP BY h
    """,
)
def bfs_hop_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the supplier-part bipartite graph (r11,
    the seventh iterative-algorithm class): suppliers 1-10 seed hop 0;
    three synchronous frontier relaxations later, every node within 3
    hops carries its exact minimum hop count and the query returns the
    (hop, n_nodes) histogram. Pure integer arithmetic — deterministic
    on any partitioning. Same packed-long node encoding as
    ``pagerank_supplier_parts`` (hop counts are id-agnostic). Oracle =
    three unrolled union/min CTE rounds."""
    from ..analytics.graph import bfs_hops

    li = _t(spark, sf_dir, "lineitem")
    edges = _supplier_part_edges(li)
    seeds = (
        li.filter(F.col("l_suppkey") <= 10)
        .select((F.col("l_suppkey") * 2).alias("node"))
        .distinct()
    )
    hops = bfs_hops(edges, seeds, iterations=3)
    return hops.groupBy("hop").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))


# Per-user EWMA (alpha 0.25) and >100 deviation anomalies, graded the
# same way for the batch and the streaming entry.
_EWMA_ORACLE = r"""
    WITH s AS (
      SELECT user_id,
             list(struct_pack(t := ts, o := event_id, v := CAST(value AS DOUBLE))
                  ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id),
    v AS (SELECT user_id, list_transform(seq, e -> e.v) AS vals FROM s)
    SELECT user_id,
      CAST(len(vals) AS BIGINT) AS n_events,
      CAST(len(list_filter(range(2, len(vals) + 1),
         i -> abs(vals[i] - list_reduce(vals[1:i-1],
                    (acc, x) -> 0.25*x + 0.75*acc)) > 100.0)) AS BIGINT)
        AS n_anomalies,
      round(list_reduce(vals, (acc, x) -> 0.25*x + 0.75*acc), 6) AS final_ewma
    FROM v
    """


@_register(
    "ewma_anomaly_scores",
    _EWMA_ORACLE,
)
def ewma_anomaly_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA smoothing + deviation anomalies (r11): each
    user's timeline is totally ordered by (ts, event_id) and folded
    left-to-right with alpha=0.25 (an exact binary fraction, so every
    intermediate double is bit-identical across engines); an event is
    anomalous when it deviates more than 100 from the smoothed prior.
    The oracle re-derives each prefix EWMA with an independent nested
    list_reduce (O(n^2) per key — fine for an oracle; the engine's
    fold is O(n)). See operators/temporal.ewma_anomaly_scores."""
    from ..operators.temporal import ewma_anomaly_scores

    ev = _t(spark, sf_dir, "events")
    return ewma_anomaly_scores(ev, alpha=0.25, threshold=100.0)


@_register(
    "kcore_supplier_parts",
    r"""
    WITH e0 AS (
      SELECT DISTINCT 's' || l_suppkey AS s, 'p' || l_partkey AS d FROM lineitem
      UNION
      SELECT DISTINCT 'p' || l_partkey AS s, 's' || l_suppkey AS d FROM lineitem),
    k1 AS (SELECT s FROM (SELECT s, count(*) AS c FROM e0 GROUP BY s) WHERE c >= 5),
    e1 AS (SELECT e.s, e.d FROM e0 e JOIN k1 a ON e.s = a.s JOIN k1 b ON e.d = b.s),
    k2 AS (SELECT s FROM (SELECT s, count(*) AS c FROM e1 GROUP BY s) WHERE c >= 5),
    e2 AS (SELECT e.s, e.d FROM e1 e JOIN k2 a ON e.s = a.s JOIN k2 b ON e.d = b.s),
    k3 AS (SELECT s FROM (SELECT s, count(*) AS c FROM e2 GROUP BY s) WHERE c >= 5),
    e3 AS (SELECT e.s, e.d FROM e2 e JOIN k3 a ON e.s = a.s JOIN k3 b ON e.d = b.s)
    SELECT CAST(count(DISTINCT s) AS BIGINT) AS n_nodes,
           CAST(count(*) // 2 AS BIGINT) AS n_edges
    FROM e3
    """,
)
def kcore_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling on the supplier-part graph (r11, eighth
    iterative-algorithm class; analytics/graph.k_core_peel, Seidman
    1983): three rounds dropping nodes of degree < 5, returning the
    surviving subgraph's size. Slim integer-key degree aggregate +
    two semi-joins per round; same packed-long encoding as the other
    graph entries. Oracle = three unrolled filter/join CTE rounds."""
    from ..analytics.graph import k_core_peel

    li = _t(spark, sf_dir, "lineitem")
    return k_core_peel(_supplier_part_edges(li, symmetric=False), k=5, iterations=3)


@_register("bpe_tokenized_counts", _bpe_tokenize_oracle_sql(8))
def bpe_tokenized_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train -> apply -> account, end to end (r11): train 8 merges
    on the documents corpus (``bpe_train``), tokenize the DISTINCT
    VOCABULARY with the learned table (``bpe_segment`` — 8 chained
    codegen folds over vocab-sized rows, NOT the corpus: a first cut
    segmented every document and probed 6.2x at 10x; tokenizing the
    vocabulary and joining per-(source, word) counts is scale-free in
    corpus size, the same reason bpe_train itself is vocab-local),
    and report per-source document and subword token totals — the
    tokenizer-budgeting number every corpus plan needs. The 8-row
    merge table is the only driver-side artifact (model-sized, like
    the k-means centroids). Oracle re-trains with the same unrolled
    CTE rounds carrying the word through, then joins per-(source,
    word) counts against the final vocabulary."""
    from ..analytics.text_analysis import bpe_segment, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = [
        (r["merge_left"], r["merge_right"])
        for r in bpe_train(docs, num_merges=8).collect()
    ]
    sw = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter((F.col("word") != "") & (~F.col("word").contains("\x1f")))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab_tok = bpe_segment(
        sw.select("word").distinct(), merges, text_col="word", out_col="toks"
    ).select("word", F.size("toks").alias("n_tok"))
    totals = (
        sw.join(vocab_tok, "word")
        .groupBy("source")
        .agg(F.sum(F.col("cnt") * F.col("n_tok")).cast("long").alias("total_bpe_tokens"))
    )
    nd = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return nd.join(totals, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("total_bpe_tokens", F.lit(0).cast("long")).alias(
            "total_bpe_tokens"
        ),
    )


@_register(
    "m4_downsample_hourly",
    r"""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket_start,
           min(value) AS v_min, max(value) AS v_max,
           first(value ORDER BY ts, event_id) AS v_first,
           last(value ORDER BY ts, event_id) AS v_last,
           CAST(count(*) AS BIGINT) AS n_points
    FROM events GROUP BY bucket_start
    """,
)
def m4_downsample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al. 2014) of the events value series
    into hourly buckets: min/max/first/last + count per bucket — the
    pixel-perfect series reduction (operators/window.m4_downsample).
    One hash aggregate, no sort; first/last tie-break on
    (ts, event_id) — the engine uses min_by/max_by struct keys, the
    oracle DuckDB's ordered first()/last() aggregates (independent
    mechanisms for the same selection)."""
    from ..operators.window import m4_downsample

    ev = _t(spark, sf_dir, "events")
    return m4_downsample(ev, bucket="1 hour")


@_register(
    "phrase_match_doc_counts",
    r"""
    SELECT phrase, CAST(n AS BIGINT) AS n_docs FROM (
      SELECT 'table hash' AS phrase,
             count(*) FILTER (' ' || text || ' ' LIKE '% table hash %') AS n
      FROM documents
      UNION ALL
      SELECT 'customer join',
             count(*) FILTER (' ' || text || ' ' LIKE '% customer join %')
      FROM documents
      UNION ALL
      SELECT 'big order',
             count(*) FILTER (' ' || text || ' ' LIKE '% big order %')
      FROM documents
      UNION ALL
      SELECT 'stream table hash',
             count(*) FILTER (' ' || text || ' ' LIKE '% stream table hash %')
      FROM documents)
    ORDER BY phrase
    """,
)
def phrase_match_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase document search (r11) over two bigrams and a
    trigram: the engine runs the Lucene-style positional-posting
    chain (analytics/text_analysis.phrase_match_counts — one pruned
    posting build + k-1 slim semi-joins per phrase); the oracle scans
    with boundary-padded LIKE — two independent mechanisms that must
    agree on every count."""
    from ..analytics.text_analysis import phrase_match_counts

    docs = _t(spark, sf_dir, "documents")
    return phrase_match_counts(
        docs, ["table hash", "customer join", "big order", "stream table hash"]
    )


@_register(
    "streaming_session_stats",
    _SESSION_STATS_ORACLE,
)
def streaming_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session windows (r11): the same session_window(ts,
    30 min) aggregation as the batch entry (session_window_stats),
    executed by Structured Streaming over a watermarked file stream —
    the stateful operator merges sessions incrementally as events
    arrive, which is the property the Catalyst-native sessionizer
    exists for (the lag/cumsum formulation cannot run on a stream).
    Complete-mode memory sink so the fixture's final state is read
    without the append-mode watermark-flush trap; on an unbounded
    production stream the same query runs append-mode with state
    evicted at the watermark. Oracle = the batch sessionizer SQL —
    streaming and batch must agree exactly on every session."""
    import shutil as _shutil
    import uuid as _uuid

    configure(spark)
    stage = _stream_events_stage(spark, sf_dir)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    raw = spark.readStream.schema(schema).parquet(stage)
    out = _session_stats(raw.withWatermark("ts", "1 hour"))
    view = f"stream_sess_{_uuid.uuid4().hex[:8]}"
    try:
        _drain(spark, out.writeStream.format("memory").queryName(view).outputMode("complete"))
    finally:
        _shutil.rmtree(stage, ignore_errors=True)
    return spark.sql(
        f"SELECT user_id, session_start, session_end, n_events, total_value FROM {view}"
    )


@_register(
    "hourly_value_percentiles",
    r"""
    SELECT date_trunc('hour', ts) AS hour_start,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY hour_start
    """,
)
def hourly_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact latency-band percentiles per hour (r11) — the P50/P95/P99
    dashboard aggregation, computed EXACTLY (Catalyst `percentile`,
    sort-based linear interpolation) rather than approx_percentile,
    whose t-digest is engine-specific and not oracle-comparable.
    Both engines interpolate (1-f)*lo + f*hi over the same sorted
    doubles, so the values match bit-for-bit (probed before rounding).
    One hash aggregate; at fleet scale swap in approx_percentile and
    lose the oracle, or keep exact per-hour sorts — hour shards are
    independently sized and parallel."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("hour", "ts").alias("hour_start")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


@_register("hilbert_layout_buckets", _hilbert_oracle_sql())
def hilbert_layout_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout keys (r11) — the better-locality sibling
    of zorder_layout_buckets: consecutive keys are ALWAYS adjacent
    cells (unit-step continuity is test-locked), so range-partitioned
    files get strictly tighter bounding boxes than Morton order under
    min/max pruning. plans/layout.hilbert_key_frame stages the
    state-carrying reflect+swap unroll as named columns; the oracle
    runs the identical staged unroll as chained CTEs, and a
    pure-Python xy2d model locks the construction in tests (the
    oracle mirrors the unroll, so the model is the independent
    check)."""
    configure(spark)
    from ..plans.layout import hilbert_key_frame

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("user_id").bitwiseAND(F.lit(255)).alias("bx"),
        F.unix_timestamp("ts").bitwiseAND(F.lit(255)).alias("by"),
    )
    keyed = hilbert_key_frame(ev, F.col("bx"), F.col("by"), bits=8, out="hd")
    return keyed.groupBy(
        F.shiftright("hd", 10).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.min("hd").cast("long").alias("min_h"),
        F.max("hd").cast("long").alias("max_h"),
    )


@_register(
    "dedup_cluster_size_histogram",
    _NEAR_DUP_COMPONENTS_CTES
    + r"""
    sizes AS (SELECT c, count(*) AS sz FROM comp GROUP BY c)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY sz
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTER structure (r11) — the corpus-QA number
    pairwise dedup can't give: exact AllPairs Jaccard pairs (>= 0.8,
    3-word shingles — the prefix-filtered join, zero false negatives)
    fed through connected components, reported as the cluster-size
    histogram (how big do duplicate families get — the skew signal
    that decides dedup-representative policies). Oracle = the full
    quadratic truth join + a RECURSIVE min-label CTE: an independent
    transitive closure checking the engine's pointer-jumping CC on
    REAL similarity edges, not constructed chains.

    Runs on the doc_id % 4 quarter-sample (a proportional sample that
    still scales with the corpus): the exact-pair stage inherits
    allpairs_jaccard_pairs' documented probe-fixture artifact
    (replicas reuse one word multiset, so shingle collisions grow
    superlinearly in the 10x probe — unlike real corpora, where new
    docs bring new shingles); at full density the composition probed
    12.9x, on the quarter-sample 1.2x. At fleet scale the cluster
    step is the same; swap the pair source for the LSH families when
    exactness is not required."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    comp = _near_dup_components(docs)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(F.col("sz").cast("long").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )


@_register(
    "embedding_dim_robust_stats",
    r"""
    WITH e AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings),
    med AS (SELECT dim, quantile_cont(x, 0.5) AS m FROM e GROUP BY dim),
    mad AS (SELECT e.dim, quantile_cont(abs(e.x - med.m), 0.5) AS d
            FROM e JOIN med ON e.dim = med.dim GROUP BY e.dim)
    SELECT med.dim AS dim, round(med.m, 6) AS dim_median,
           round(mad.d, 6) AS dim_mad
    FROM med JOIN mad ON med.dim = mad.dim
    """,
)
def embedding_dim_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension robust scaling statistics (r11): exact median and
    MAD (median absolute deviation) for every embedding dimension —
    the outlier-immune normalization a curation pipeline fits before
    robust-scaling vectors (mean/std is one corrupt shard away from
    garbage). Shape: posexplode to (dim, x) — the standard columnar-
    stats layout — one exact percentile per dim, broadcast the 64-row
    median table back, second percentile over |x - med|. Exact
    sort-based percentile interpolation is bit-identical across
    engines (probed for the hourly bands); dims are independent and
    parallel at any scale."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        F.posexplode("embedding").alias("dim0", "xf")
    ).select((F.col("dim0") + 1).alias("dim"), F.col("xf").cast("double").alias("x"))
    med = e.groupBy("dim").agg(F.percentile("x", F.lit(0.5)).alias("m"))
    mad = (
        e.join(F.broadcast(med), "dim")
        .groupBy("dim")
        .agg(F.percentile(F.abs(F.col("x") - F.col("m")), F.lit(0.5)).alias("d"))
    )
    return (
        med.join(mad, "dim")
        .select("dim", F.round("m", 6).alias("dim_median"), F.round("d", 6).alias("dim_mad"))
    )


@_register(
    "streaming_ewma_scores",
    _EWMA_ORACLE,
)
def streaming_ewma_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING EWMA anomaly scoring (r11): the recursive per-key
    fold of ewma_anomaly_scores executed as a CUSTOM STATEFUL
    operator (applyInPandasWithState — numeric state class, next to
    the bin packer's list state and the defragmenter's buffer state):
    one O(1) (smoothed, anomalies, count) state row per key survives
    across micro-batches, which is how an unbounded telemetry stream
    gets EWMA at all (the batch array_sort fold needs the whole
    timeline). Oracle = the same independent nested-list_reduce SQL
    as the batch entry — streaming and batch must agree on every
    user's totals and final smoothed value to the bit."""
    import shutil as _shutil
    import uuid as _uuid

    from ..streaming.stateful import ewma_scores_stream

    configure(spark)
    stage = _stream_events_stage(spark, sf_dir)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    raw = spark.readStream.schema(schema).parquet(stage)
    scored = ewma_scores_stream(raw, key_col="user_id")
    view = f"stream_ewma_{_uuid.uuid4().hex[:8]}"
    try:
        _drain(spark, scored.writeStream.format("memory").queryName(view).outputMode("update"))
    finally:
        _shutil.rmtree(stage, ignore_errors=True)
    # one emission per key per micro-batch: keep each key's LAST row
    # (max n_events), then round Catalyst-side (HALF_UP, not Python's
    # banker's round)
    emitted = spark.sql(f"SELECT * FROM {view}")
    final = emitted.groupBy("user_id").agg(
        F.max_by(
            F.struct("n_events", "n_anomalies", "final_ewma"), F.col("n_events")
        ).alias("_r")
    )
    return final.select(
        "user_id",
        F.col("_r.n_events").alias("n_events"),
        F.col("_r.n_anomalies").alias("n_anomalies"),
        F.round(F.col("_r.final_ewma"), 6).alias("final_ewma"),
    )


@_register(
    "set_ops_user_segments",
    r"""
    SELECT 'click_and_purchase' AS segment, CAST(count(*) AS BIGINT) AS n_users
    FROM (SELECT user_id FROM events WHERE event_type = 'click'
          INTERSECT
          SELECT user_id FROM events WHERE event_type = 'purchase')
    UNION ALL
    SELECT 'click_no_purchase', CAST(count(*) AS BIGINT)
    FROM (SELECT user_id FROM events WHERE event_type = 'click'
          EXCEPT
          SELECT user_id FROM events WHERE event_type = 'purchase')
    UNION ALL
    SELECT 'error_only', CAST(count(*) AS BIGINT)
    FROM (SELECT user_id FROM events WHERE event_type = 'error'
          EXCEPT
          SELECT user_id FROM events WHERE event_type <> 'error')
    ORDER BY segment
    """,
)
def set_ops_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set-operation surface (r11): INTERSECT / EXCEPT
    audience segmentation — DataFrame ``intersect``/``exceptAll``-
    style set algebra Catalyst plans as left-semi / left-anti hash
    joins over the distinct key sets (no full-row sorts). Three
    segments, one row each."""
    ev = _t(spark, sf_dir, "events")

    def users(pred):
        return ev.where(pred).select("user_id").distinct()

    clicks = users(F.col("event_type") == "click")
    purchases = users(F.col("event_type") == "purchase")
    errors = users(F.col("event_type") == "error")
    non_errors = users(F.col("event_type") != "error")
    segs = [
        ("click_and_purchase", clicks.intersect(purchases)),
        ("click_no_purchase", clicks.exceptAll(purchases)),
        ("error_only", errors.exceptAll(non_errors)),
    ]
    out = None
    for name, df in segs:
        row = df.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit(name).alias("segment"), "n_users"
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("segment")


@_register(
    "retention_delete_plan",
    r"""
    WITH del AS (SELECT DISTINCT user_id FROM events WHERE user_id % 29 = 0)
    SELECT strftime(ts, '%Y-%m-%d') AS event_date,
           CAST(count(*) FILTER (user_id IN (SELECT user_id FROM del))
                AS BIGINT) AS n_delete,
           CAST(count(*) FILTER (user_id NOT IN (SELECT user_id FROM del))
                AS BIGINT) AS n_keep
    FROM events GROUP BY event_date
    """,
)
def retention_delete_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure sweep planning (r11): given a deletion list of
    user ids, report per day-partition how many rows a DELETE would
    remove vs keep — the pre-flight every GDPR/CCPA erasure job runs
    to size the partition rewrite (the same touched-partition
    discipline as the MERGE-INTO upsert: partitions with n_delete = 0
    are never rewritten). One broadcast semi-probe (the delete list is
    always tiny next to the fact table) + one hash aggregate."""
    ev = _t(spark, sf_dir, "events")
    del_users = ev.where(F.col("user_id") % 29 == 0).select("user_id").distinct()
    flagged = ev.join(
        F.broadcast(del_users.withColumn("_del", F.lit(1))), "user_id", "left"
    )
    return flagged.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("event_date")
    ).agg(
        F.sum(F.when(F.col("_del") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_delete"),
        F.sum(F.when(F.col("_del").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_keep"),
    )


@_register(
    "timeline_gap_report",
    r"""
    WITH s AS (
      SELECT user_id, ts, lag(ts) OVER w AS prev
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id,
           CAST(count(*) FILTER (prev IS NOT NULL
                AND epoch_us(ts) - epoch_us(prev) > 21600000000) AS BIGINT)
             AS n_gaps,
           CAST(coalesce(max(CASE WHEN prev IS NOT NULL
                THEN (epoch_us(ts) - epoch_us(prev)) // 1000000 END), 0)
             AS BIGINT) AS max_gap_seconds
    FROM s GROUP BY user_id
    """,
)
def timeline_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key timeline gap detection (r11) — the COMPLEMENT of
    sessionization: sessions group activity, this reports the silent
    intervals (sensor outage / feed-lapse detection, the monitoring
    half of the reference's telemetry sources — ProcFsMonitor etc.
    report values; a pipeline also needs to notice when they STOP).
    One lag window per key ordered (ts, event_id); gaps over 6 hours
    counted, plus the worst gap in whole seconds (integer floor —
    microsecond-exact in both engines)."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "ts",
        F.lag("ts").over(w).alias("prev"),
    )
    gap_us = F.unix_micros("ts") - F.unix_micros("prev")
    return s.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("prev").isNotNull() & (gap_us > 21_600_000_000), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_gaps"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("prev").isNotNull(), F.floor(gap_us / 1_000_000)
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("max_gap_seconds"),
    )


@_register(
    "copurchase_supplier_pairs",
    r"""
    WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    pairs AS (
      SELECT a.s AS supp_a, b.s AS supp_b, count(*) AS shared_parts
      FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
      GROUP BY a.s, b.s)
    SELECT supp_a, supp_b, CAST(shared_parts AS BIGINT) AS shared_parts
    FROM pairs
    ORDER BY shared_parts DESC, supp_a ASC, supp_b ASC LIMIT 20
    """,
)
def copurchase_supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite co-occurrence projection (r11) — the recommender
    primitive: project the part-supplier graph onto suppliers with
    edge weight = number of shared parts, top 20 pairs. This is the
    wedge join the triangle census deliberately avoids — legitimate
    HERE because the projection IS the product (co-occurrence mining),
    and per-part supplier degrees are bounded (each part has a handful
    of suppliers), so the wedge count is sum(deg^2) over SMALL
    degrees, not hub-quadratic. One self-equi-join on the shared side
    + partial-agg count + TakeOrdered top-k."""
    li = _t(spark, sf_dir, "lineitem")
    e = li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")).distinct()
    a = e.select("p", F.col("s").alias("supp_a"))
    b = e.select("p", F.col("s").alias("supp_b"))
    pairs = (
        a.join(b, "p")
        .where(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_parts"))
    )
    return pairs.orderBy(
        F.col("shared_parts").desc(), F.col("supp_a").asc(), F.col("supp_b").asc()
    ).limit(20)


@_register(
    "first_touch_attribution",
    r"""
    WITH c AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS pid, ts AS pts FROM events
          WHERE event_type = 'purchase'),
    f AS (SELECT p.user_id, p.pid, p.pts, min(c.cts) AS fct
          FROM p JOIN c ON c.user_id = p.user_id
            AND c.cts >= p.pts - INTERVAL 24 HOUR AND c.cts < p.pts
          GROUP BY p.user_id, p.pid, p.pts)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_attributed,
           round(avg((epoch_us(pts) - epoch_us(fct)) // 1000000), 2)
             AS avg_lead_seconds
    FROM f GROUP BY user_id
    """,
)
def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution (r11) — the fourth temporal-join
    flavor: the as-of join answers "the LATEST event before"; this
    answers "the EARLIEST event within a bounded look-back" (the
    marketing-attribution primitive). Each purchase joins its user's
    clicks in the strict 24h window via the binned
    ``operators.temporal.range_join`` (hash equi-join on
    (user, bin) + exact containment — no inequality scan), then
    min(click_ts) per purchase and per-user rollup: attributed
    purchase count + average lead seconds (integer floor —
    microsecond-exact, so the avg divides exact integer sums)."""
    from ..operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
        (F.col("ts") - F.expr("INTERVAL 24 HOURS")).alias("w_start"),
    )
    j = range_join(
        clicks,
        purch,
        point_col="cts",
        start_col="w_start",
        end_col="pts",
        on="user_id",
    )
    first = j.groupBy("user_id", "pid", "pts").agg(F.min("cts").alias("fct"))
    lead_s = F.floor((F.unix_micros("pts") - F.unix_micros("fct")) / 1_000_000)
    return first.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_attributed"),
        F.round(F.avg(lead_s), 2).alias("avg_lead_seconds"),
    )


@_register(
    "inference_length_buckets",
    r"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tok
      FROM documents),
    b AS (
      SELECT doc_id, n_tok,
             CAST(CASE WHEN n_tok <= 1 THEN 1
                  ELSE (1::BIGINT << length(bin(n_tok - 1))) END AS BIGINT)
               AS bucket_cap
      FROM t)
    SELECT bucket_cap,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(bucket_cap - n_tok) AS BIGINT) AS padding_waste
    FROM b GROUP BY bucket_cap
    """,
)
def inference_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference batch length-bucketing (r11): assign every document
    to the next power-of-two token-length bucket and account the
    padding waste per bucket — the serving-side batching report that
    decides bucket boundaries (padding dominates GPU cost when
    batches mix lengths; power-of-two bucketing is the standard
    compromise). Integer arithmetic end-to-end: the bucket cap is
    1 << bit_length(n-1) computed on exact token counts via bin()
    string length — no float log2 whose libm rounding could flip an
    exact-power boundary — so both engines agree bit-for-bit. One projection + one hash aggregate."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split(F.col("text"), " "), lambda w: w != ""))
    t = docs.select("doc_id", n_tok.alias("n_tok"))
    # exact integer next-power-of-two: 1 << bit_length(n-1) — float
    # log2/ceil could flip at exact-power boundaries depending on the
    # engine's libm, bin() string length cannot
    cap = (
        F.when(F.col("n_tok") <= 1, F.lit(1).cast("long"))
        .otherwise(
            # shiftleft's wrapper demands a Python-int bit count; the
            # SQL function takes a Column fine (verify-skill gotcha)
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.length(F.bin(F.col("n_tok") - 1)),
            )
        )
        .cast("long")
    )
    return (
        t.select("doc_id", "n_tok", cap.alias("bucket_cap"))
        .groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(F.col("bucket_cap") - F.col("n_tok")).cast("long").alias(
                "padding_waste"
            ),
        )
    )


@_register(
    "referential_integrity_audit",
    r"""
    SELECT 'lineitem->orders' AS edge,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
           (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_orphan_keys,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_orphan_rows
    UNION ALL
    SELECT 'lineitem->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(DISTINCT l_partkey) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem->supplier',
           (SELECT count(*) FROM lineitem),
           (SELECT count(DISTINCT l_suppkey) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders->customer',
           (SELECT count(*) FROM orders),
           (SELECT count(DISTINCT o_custkey) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(DISTINCT c_nationkey) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)),
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier->nation',
           (SELECT count(*) FROM supplier),
           (SELECT count(DISTINCT s_nationkey) FROM supplier s
            WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)),
           (SELECT count(*) FROM supplier s
            WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
    UNION ALL
    SELECT 'nation->region',
           (SELECT count(*) FROM nation),
           (SELECT count(DISTINCT n_regionkey) FROM nation n
            WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)),
           (SELECT count(*) FROM nation n
            WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-wide FK sweep (r11) — the promotion gate run over the
    WHOLE warehouse before a snapshot goes live: every FK edge of the
    TPC-H-ish schema audited in one result (child volume, orphan key
    count, orphan row count per edge). Complements ``dq_report``
    (per-table checks) and ``orders_reconciliation_diff`` (two
    snapshots of ONE table). Each edge collapses the child to a slim
    (key, cnt) aggregate before probing the parent's distinct keys —
    orphan ROWS are recovered as sum(cnt), so the child is scanned
    once per edge and the join carries key-cardinality rows only.
    The oracle is an independent NOT-EXISTS construction (the engine
    runs per-key LEFT joins). Fixture FKs are clean, so the audit's
    substance is the per-edge child/key accounting."""
    from ..operators.dq import referential_audit

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return referential_audit(
        [
            ("lineitem->orders", li, "l_orderkey", orders, "o_orderkey"),
            ("lineitem->part", li, "l_partkey", part, "p_partkey"),
            ("lineitem->supplier", li, "l_suppkey", supp, "s_suppkey"),
            ("orders->customer", orders, "o_custkey", cust, "c_custkey"),
            ("customer->nation", cust, "c_nationkey", nation, "n_nationkey"),
            ("supplier->nation", supp, "s_nationkey", nation, "n_nationkey"),
            ("nation->region", nation, "n_regionkey", region, "r_regionkey"),
        ]
    )


@_register(
    "fd_profile_candidates",
    r"""
    WITH g1 AS (SELECT o_custkey,
                       count(DISTINCT o_orderpriority)
                       + max(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nd
                FROM orders GROUP BY o_custkey),
    g2 AS (SELECT o_orderkey,
                  count(DISTINCT o_orderstatus)
                  + max(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nd
           FROM orders GROUP BY o_orderkey),
    g3 AS (SELECT l_orderkey,
                  count(DISTINCT l_linestatus)
                  + max(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS nd
           FROM lineitem GROUP BY l_orderkey),
    g4 AS (SELECT l_orderkey, l_linenumber,
                  count(DISTINCT l_returnflag)
                  + max(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS nd
           FROM lineitem GROUP BY l_orderkey, l_linenumber),
    g5 AS (SELECT source,
                  count(DISTINCT lang)
                  + max(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS nd
           FROM documents GROUP BY source)
    SELECT 'orders:o_custkey->o_orderpriority' AS fd,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
           CAST(max(nd) AS BIGINT) AS max_consequents,
           max(nd) <= 1 AS holds
    FROM g1
    UNION ALL
    SELECT 'orders:o_orderkey->o_orderstatus', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(max(nd) AS BIGINT), max(nd) <= 1 FROM g2
    UNION ALL
    SELECT 'lineitem:l_orderkey->l_linestatus', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(max(nd) AS BIGINT), max(nd) <= 1 FROM g3
    UNION ALL
    SELECT 'lineitem:l_orderkey,l_linenumber->l_returnflag', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(max(nd) AS BIGINT), max(nd) <= 1 FROM g4
    UNION ALL
    SELECT 'documents:source->lang', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(max(nd) AS BIGINT), max(nd) <= 1 FROM g5
    """,
)
def fd_profile_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency candidate profiling (r11) — the
    TANE-style single-pass FD check (Huhtala et al. 1999's validation
    step, not the lattice search): for each candidate
    antecedent->consequent, how many antecedent groups exist, how many
    violate (>1 distinct consequent), and the worst group's consequent
    count. The schema-discovery primitive behind ``dq_report``'s
    uniqueness checks — run when deciding whether a column is
    derivable (and hence droppable/normalizable) from another. Five
    candidates spanning holds-by-key, composite-key, and genuinely
    violating shapes; each is one expand-based hash aggregate plus a
    tiny rollup. NULL consequents count as one extra distinct value
    (flag-folded, no value set materialized)."""
    from ..operators.dq import fd_profile

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    docs = _t(spark, sf_dir, "documents")
    return fd_profile(
        [
            (
                "orders:o_custkey->o_orderpriority",
                orders,
                ["o_custkey"],
                "o_orderpriority",
            ),
            (
                "orders:o_orderkey->o_orderstatus",
                orders,
                ["o_orderkey"],
                "o_orderstatus",
            ),
            (
                "lineitem:l_orderkey->l_linestatus",
                li,
                ["l_orderkey"],
                "l_linestatus",
            ),
            (
                "lineitem:l_orderkey,l_linenumber->l_returnflag",
                li,
                ["l_orderkey", "l_linenumber"],
                "l_returnflag",
            ),
            ("documents:source->lang", docs, ["source"], "lang"),
        ]
    )


@_register(
    "unattributed_purchases",
    r"""
    WITH p AS (SELECT user_id, event_id, ts, value FROM events
               WHERE event_type = 'purchase'),
    u AS (SELECT * FROM p WHERE NOT EXISTS (
            SELECT 1 FROM events c WHERE c.event_type = 'click'
              AND c.user_id = p.user_id
              AND c.ts >= p.ts - INTERVAL 24 HOUR AND c.ts < p.ts))
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_unattributed,
           round(sum(value), 2) AS unattributed_value
    FROM u GROUP BY user_id
    """,
)
def unattributed_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed temporal ANTI join (r11) — the complement of
    ``first_touch_attribution``: purchases with NO click from the same
    user in the strict prior-24h window (the "organic conversions /
    broken-tracking" report; more generally the did-NOT-happen-within-
    window monitoring primitive the reference's users build with
    RouteOnAttribute + expiry). Matches come from the binned
    ``range_join`` (hash equi-join + containment); the anti set is a
    LEFT ANTI on purchase id against the matched ids — no inequality
    scan anywhere. Oracle = NOT EXISTS on the raw inequality.
    Per-user rollup: count + revenue at risk (rounded sum)."""
    from ..operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
        "value",
        (F.col("ts") - F.expr("INTERVAL 24 HOURS")).alias("w_start"),
    )
    matched = (
        range_join(
            clicks,
            purch,
            point_col="cts",
            start_col="w_start",
            end_col="pts",
            on="user_id",
        )
        .select("pid")
        .distinct()
    )
    un = purch.join(matched, "pid", "left_anti")
    return un.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_unattributed"),
        F.round(F.sum("value"), 2).alias("unattributed_value"),
    )


@_register(
    "event_motif_counts",
    r"""
    WITH seq AS (
      SELECT user_id,
             string_agg(left(event_type, 1), '' ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id),
    m AS (SELECT unnest(['vcp', 'ee', 'se']) AS motif),
    occ AS (
      SELECT m.motif, seq.user_id,
             (length(s) - length(replace(s, m.motif, ''))) // length(m.motif)
               AS n
      FROM seq, m)
    SELECT motif,
           CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users,
           CAST(sum(n) AS BIGINT) AS n_occurrences
    FROM occ GROUP BY motif
    """,
)
def event_motif_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-motif mining (r11) — MATCH_RECOGNIZE-lite: each user's
    event history becomes an ordered initial-string (v/c/p/e/s per
    event, ordered ts then event_id) and motifs are counted as
    non-overlapping substring occurrences — 'vcp' (browse-to-buy),
    'ee' (repeated errors), 'se' (signup straight into error). The
    pattern-over-sequence primitive funnels can't express (funnels
    test EXISTENCE of an ordered subsequence; motifs count ADJACENT
    runs). One groupBy builds the per-user string via
    array_sort(collect_list(struct)) — per-user state is bounded by
    per-user activity, the axis the sf-probe model holds constant at
    scale — then a literal-motif explode and the
    length-difference count; substring counting stays in codegen
    (replace/length), no regex engine in the hot path."""
    ev = _t(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("ts"),
                            F.col("event_id"),
                            F.substring(F.col("event_type"), 1, 1).alias("ini"),
                        )
                    )
                ),
                lambda x: x["ini"],
            ),
            "",
        ).alias("s")
    )
    motifs = F.explode(F.array(F.lit("vcp"), F.lit("ee"), F.lit("se"))).alias(
        "motif"
    )
    occ = seq.select("user_id", "s", motifs).select(
        "motif",
        (
            (
                F.length("s")
                - F.length(F.replace(F.col("s"), F.col("motif"), F.lit("")))
            )
            / F.length("motif")
        )
        .cast("long")
        .alias("n"),
    )
    return occ.groupBy("motif").agg(
        F.sum(F.when(F.col("n") > 0, 1).otherwise(0)).cast("long").alias("n_users"),
        F.sum("n").cast("long").alias("n_occurrences"),
    )


@_register(
    "corr_event_type_hours",
    r"""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hr,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE) AS v,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS c,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) AS p,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) AS e,
             CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS DOUBLE) AS s
      FROM events GROUP BY 1)
    SELECT 'view~click' AS pair, round(corr(v, c), 4) AS pearson FROM h
    UNION ALL SELECT 'view~purchase', round(corr(v, p), 4) FROM h
    UNION ALL SELECT 'view~error', round(corr(v, e), 4) FROM h
    UNION ALL SELECT 'view~signup', round(corr(v, s), 4) FROM h
    UNION ALL SELECT 'click~purchase', round(corr(c, p), 4) FROM h
    UNION ALL SELECT 'click~error', round(corr(c, e), 4) FROM h
    UNION ALL SELECT 'click~signup', round(corr(c, s), 4) FROM h
    UNION ALL SELECT 'purchase~error', round(corr(p, e), 4) FROM h
    UNION ALL SELECT 'purchase~signup', round(corr(p, s), 4) FROM h
    UNION ALL SELECT 'error~signup', round(corr(e, s), 4) FROM h
    """,
)
def corr_event_type_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly metric cross-correlation (r11) — the observability
    primitive behind "do errors spike with traffic?": per-hour counts
    of each event type (one conditional-sum aggregate, no pivot
    machinery) correlated pairwise (Pearson) across all 10 type
    pairs. The hourly table is bounded by the time range (one row per
    hour regardless of event volume — the aggregate does the data
    reduction map-side), so the corr pass runs over a slim frame; the
    10 pairs melt through one stack. Rounded to 4 — corr is a ratio
    of centered sums, agreed across engines at this precision."""
    ev = _t(spark, sf_dir, "events")
    types = {"v": "view", "c": "click", "p": "purchase", "e": "error", "s": "signup"}
    h = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr")).agg(
        *[
            F.sum(F.when(F.col("event_type") == full, 1).otherwise(0))
            .cast("double")
            .alias(short)
            for short, full in types.items()
        ]
    )
    pairs = [
        ("view~click", "v", "c"),
        ("view~purchase", "v", "p"),
        ("view~error", "v", "e"),
        ("view~signup", "v", "s"),
        ("click~purchase", "c", "p"),
        ("click~error", "c", "e"),
        ("click~signup", "c", "s"),
        ("purchase~error", "p", "e"),
        ("purchase~signup", "p", "s"),
        ("error~signup", "e", "s"),
    ]
    wide = h.agg(
        *[
            F.round(F.corr(a, b), 4).alias(f"_c{i}")
            for i, (_, a, b) in enumerate(pairs)
        ]
    )
    stack_args: list = []
    for i, (name, _, _) in enumerate(pairs):
        stack_args.extend([F.lit(name), F.col(f"_c{i}")])
    return wide.select(
        F.stack(F.lit(len(pairs)), *stack_args).alias("pair", "pearson")
    )


@_register(
    "seasonal_dow_profile",
    r"""
    WITH c AS (SELECT ts, CAST(round(value * 100) AS BIGINT) AS cents
               FROM events WHERE event_type = 'click'),
    g AS (SELECT CAST(isodow(ts) AS BIGINT) AS dow,
                 CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
                 count(*) AS n, sum(cents) AS sc
          FROM c GROUP BY 1, 2),
    tot AS (SELECT sum(cents) AS gsc, count(*) AS gn FROM c),
    d AS (SELECT dow, hour_of_day, n, sc,
                 sc * gn - gsc * n AS dnum, n * gn AS dden
          FROM g, tot)
    SELECT dow, hour_of_day, CAST(n AS BIGINT) AS n_events,
           CAST((2 * sc + n) // (2 * n) AS BIGINT) AS avg_value_cents,
           CAST(CASE WHEN dnum >= 0 THEN (2 * dnum + dden) // (2 * dden)
                ELSE -((2 * (-dnum) + dden) // (2 * dden)) END AS BIGINT)
             AS deviation_cents
    FROM d
    """,
)
def seasonal_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour seasonal profile (r11) — the calendar-shaped
    baseline the EWMA/z-score anomaly entries deliberately lack: click
    volume and value averaged into the 168 weekly buckets, each with
    its deviation from the global mean (the profile a seasonal anomaly
    detector subtracts before thresholding). ISO day numbering on both
    engines (Spark weekday()+1 = DuckDB isodow — Sunday-first
    dayofweek() disagrees between them, a cross-engine trap). The
    whole result is INTEGER CENTS end-to-end: double round(.,2) at a
    half-cent boundary splits engines twice over (hit live here —
    addition order first, then Spark's BigDecimal-on-shortest-string
    round vs DuckDB's raw-double round on exactly 65.225), so the
    averages are rounded rationally in integer space
    ((2*num + den) DIV (2*den), sign-handled) and never touch a
    double. The bucket table is fixed-size (<=168 rows) whatever the
    event volume; the global mean rides a broadcast one-row frame,
    not a whole-table window."""
    ev = _t(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    g = c.groupBy(
        (F.weekday(F.col("ts")) + F.lit(1)).cast("long").alias("dow"),
        F.hour(F.col("ts")).cast("long").alias("hour_of_day"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").alias("sc"),
    )
    tot = c.agg(F.sum("cents").alias("gsc"), F.count(F.lit(1)).alias("gn"))
    d = g.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hour_of_day",
        "n_events",
        "sc",
        (F.col("sc") * F.col("gn") - F.col("gsc") * F.col("n_events")).alias(
            "dnum"
        ),
        (F.col("n_events") * F.col("gn")).alias("dden"),
    )
    # rational half-up rounding in pure integer space: (2n + d) DIV 2d
    avg_cents = F.expr("(2 * sc + n_events) DIV (2 * n_events)")
    dev_cents = F.when(
        F.col("dnum") >= 0, F.expr("(2 * dnum + dden) DIV (2 * dden)")
    ).otherwise(-F.expr("(2 * (-dnum) + dden) DIV (2 * dden)"))
    return d.select(
        "dow",
        "hour_of_day",
        "n_events",
        avg_cents.cast("long").alias("avg_value_cents"),
        dev_cents.cast("long").alias("deviation_cents"),
    )


@_register(
    "prefix_cache_savings",
    r"""
    WITH s AS (
      SELECT source, text,
             lag(text) OVER (PARTITION BY source ORDER BY text, doc_id) AS prev
      FROM documents),
    l AS (
      SELECT source,
             CASE WHEN prev IS NULL THEN 0
                  ELSE least(
                    len(list_filter(range(1, 65),
                        i -> substr(text, 1, i) = substr(prev, 1, i))),
                    length(text), length(prev)) END AS lcp
      FROM s)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(lcp) AS BIGINT) AS total_lcp_chars,
           CAST(max(lcp) AS BIGINT) AS max_lcp
    FROM l GROUP BY source
    """,
)
def prefix_cache_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV-cache prefix-reuse accounting (r11) — the serving-side
    scheduling report: when requests are served in sorted order within
    a shard, each request reuses the KV cache of its predecessor up to
    their longest common prefix. Sorted-neighbor LCP (capped at a
    64-char probe window) per source shard, rolled up to chars
    reusable per shard — the number that decides whether prefix-aware
    request routing is worth deploying. The LCP stays in codegen: a
    64-element sequence filtered on substr equality (prefix equality
    is contiguous, so the filter size IS the LCP; the least() clamp
    handles the equal-strings case where both substrs saturate).
    Per-source sort is one range-partitioned window — sorted serving
    order is the semantics, not an implementation accident."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("text", "doc_id")
    s = docs.select(
        "source", "text", F.lag("text").over(w).alias("prev")
    )
    lcp_raw = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.substring(F.col("text"), F.lit(1), i)
            == F.substring(F.col("prev"), F.lit(1), i),
        )
    )
    lcp = F.when(F.col("prev").isNull(), F.lit(0)).otherwise(
        F.least(lcp_raw, F.length("text"), F.length("prev"))
    )
    return (
        s.select("source", lcp.alias("lcp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("lcp").cast("long").alias("total_lcp_chars"),
            F.max("lcp").cast("long").alias("max_lcp"),
        )
    )


@_register(
    "cdc_apply_snapshot",
    r"""
    WITH ch AS (
      SELECT o_orderkey AS k, 1 AS seq, 'U' AS op,
             o_totalprice + 100 AS price, o_orderstatus AS status
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, 2, 'D', NULL, NULL
      FROM orders WHERE o_orderkey % 21 = 0
      UNION ALL
      SELECT o_orderkey + 3000000, 2, 'I', 1.0, 'N'
      FROM orders WHERE o_orderkey % 50 = 0
      UNION ALL
      SELECT o_orderkey, 3, 'U', o_totalprice + 200, o_orderstatus
      FROM orders WHERE o_orderkey % 7 = 3),
    last AS (
      SELECT k, op, price, status FROM (
        SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM ch) WHERE rn = 1),
    base AS (SELECT o_orderkey AS k, o_totalprice AS price,
                    o_orderstatus AS status FROM orders),
    merged AS (
      SELECT coalesce(b.k, l.k) AS k,
             CASE WHEN l.op IS NULL THEN b.price ELSE l.price END AS price,
             CASE WHEN l.op IS NULL THEN b.status ELSE l.status END AS status,
             coalesce(l.op, 'K') AS op
      FROM base b FULL OUTER JOIN last l ON b.k = l.k
      WHERE coalesce(l.op, 'K') <> 'D')
    SELECT k AS orderkey, status,
           CAST(round(price * 100) AS BIGINT) AS price_cents, op AS last_op
    FROM merged WHERE k % 97 = 0
    """,
)
def cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply (r11) — MERGE INTO semantics as a batch
    op: a deterministic changelog (updates at seq 1 and 3, deletes
    and inserts at seq 2, all derived from the orders table itself so
    both engines build the identical log) collapses to
    last-op-per-key via one row_number window, then applies over the
    base snapshot with a FULL OUTER join: D drops the row, U/I
    replace values, untouched base rows pass through. This is the
    order-sensitive half the streaming upsert entry (aggregation
    merge) doesn't exercise — op sequencing, delete semantics, and
    insert-of-new-keys in one pass. Result graded on a deterministic
    key sample (k % 97 = 0) with exact integer cents."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    ch = (
        orders.where(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.lit(1).alias("seq"),
            F.lit("U").alias("op"),
            (F.col("o_totalprice") + 100).alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 21 == 0).select(
                F.col("o_orderkey").alias("k"),
                F.lit(2).alias("seq"),
                F.lit("D").alias("op"),
                F.lit(None).cast("double").alias("price"),
                F.lit(None).cast("string").alias("status"),
            )
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 50 == 0).select(
                (F.col("o_orderkey") + 3000000).alias("k"),
                F.lit(2).alias("seq"),
                F.lit("I").alias("op"),
                F.lit(1.0).alias("price"),
                F.lit("N").alias("status"),
            )
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 7 == 3).select(
                F.col("o_orderkey").alias("k"),
                F.lit(3).alias("seq"),
                F.lit("U").alias("op"),
                (F.col("o_totalprice") + 200).alias("price"),
                F.col("o_orderstatus").alias("status"),
            )
        )
    )
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    last = (
        ch.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("k", "op", "price", "status")
    )
    merged = (
        base.alias("b")
        .join(last.alias("l"), F.col("b.k") == F.col("l.k"), "full_outer")
        .select(
            F.coalesce(F.col("b.k"), F.col("l.k")).alias("k"),
            F.when(F.col("l.op").isNull(), F.col("b.price"))
            .otherwise(F.col("l.price"))
            .alias("price"),
            F.when(F.col("l.op").isNull(), F.col("b.status"))
            .otherwise(F.col("l.status"))
            .alias("status"),
            F.coalesce(F.col("l.op"), F.lit("K")).alias("op"),
        )
        .where(F.col("op") != "D")
    )
    return merged.where(F.col("k") % 97 == 0).select(
        F.col("k").alias("orderkey"),
        "status",
        F.round(F.col("price") * 100).cast("long").alias("price_cents"),
        F.col("op").alias("last_op"),
    )
