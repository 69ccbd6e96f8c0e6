"""Text analysis over documents (language-ID, quality, sampling, web)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analytics import language_id
from ..session import configure
from ._shared import _BIGRAM_CTES, _register, _t


def _language_id_oracle_sql() -> str:
    """DuckDB mirror of analytics.text_analysis.language_id: distinct
    lowercase whitespace tokens, per-language stopword-overlap counts,
    argmax with ties broken toward the lexicographically greatest lang
    (Spark's array_max over struct(score, lang) semantics)."""
    from ..analytics.text_analysis import _LANG_STOPWORDS

    def lit(ws: list[str]) -> str:
        return "[" + ",".join(f"'{w}'" for w in ws) + "]"

    score_cols = ", ".join(
        f"len(list_intersect(tk, {lit(ws)})) AS s_{lang}" for lang, ws in _LANG_STOPWORDS.items()
    )
    langs_desc = sorted(_LANG_STOPWORDS, reverse=True)
    case = " ".join(f"WHEN s_{lang} = m THEN '{lang}'" for lang in langs_desc[:-1])
    return f"""
WITH toks AS (
  SELECT list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tk
  FROM documents
), scores AS (
  SELECT {score_cols},
         greatest({", ".join("s_" + lang for lang in _LANG_STOPWORDS)}) AS m
  FROM toks
), labeled AS (
  SELECT CASE WHEN m = 0 THEN 'und' {case} ELSE '{langs_desc[-1]}' END AS lang_detected
  FROM scores
)
SELECT lang_detected, count(*) AS count FROM labeled GROUP BY lang_detected
"""


_GOPHER_STOPWORDS_SQL = "['the','and','of','to','a','in','is','that','for','it']"


def _messy_urls(docs: DataFrame) -> DataFrame:
    """Deterministic messy-URL fixture: each document gets one of six
    real-world URL variants (case, default port, fragment, tracking
    params, trailing slash, mixed query) of a base resource shared by
    every doc with the same (source, doc_id % 40) — so canonicalization
    has genuine collisions to collapse. Mirrored verbatim in the
    oracle's SQL CASE."""
    k = (F.col("doc_id") % 40).cast("string")
    host = F.concat(F.col("source"), F.lit(".example.com"))
    base = F.concat(F.lit("http://"), host, F.lit("/d/"), k)
    url = (
        F.when(F.col("doc_id") % 6 == 0, base)
        .when(
            F.col("doc_id") % 6 == 1,
            F.concat(F.lit("HTTP://"), F.upper(F.col("source")), F.lit(".EXAMPLE.COM:80/d/"), k),
        )
        .when(F.col("doc_id") % 6 == 2, F.concat(base, F.lit("/#section-2")))
        .when(F.col("doc_id") % 6 == 3, F.concat(base, F.lit("?utm_source=feed&utm_campaign=x")))
        .when(
            F.col("doc_id") % 6 == 4,
            F.concat(F.lit("https://"), host, F.lit(":443/d/"), k, F.lit("?gclid=abc123")),
        )
        .otherwise(F.concat(base, F.lit("?id="), k, F.lit("&utm_medium=em&ref=2")))
    )
    return docs.select(F.col("doc_id"), url.alias("url"))


# DuckDB mirror of ``_messy_urls``: the same six URL variants per document.
_MESSY_URLS_SQL = r"""urls AS (
      SELECT doc_id,
        CASE doc_id % 6
          WHEN 0 THEN 'http://' || source || '.example.com/d/' || (doc_id % 40)
          WHEN 1 THEN 'HTTP://' || upper(source) || '.EXAMPLE.COM:80/d/' || (doc_id % 40)
          WHEN 2 THEN 'http://' || source || '.example.com/d/' || (doc_id % 40) || '/#section-2'
          WHEN 3 THEN 'http://' || source || '.example.com/d/' || (doc_id % 40) || '?utm_source=feed&utm_campaign=x'
          WHEN 4 THEN 'https://' || source || '.example.com:443/d/' || (doc_id % 40) || '?gclid=abc123'
          ELSE 'http://' || source || '.example.com/d/' || (doc_id % 40) || '?id=' || (doc_id % 40) || '&utm_medium=em&ref=2'
        END AS url
      FROM documents)"""

# DuckDB mirror of analytics.web.canonicalize_url over a ``url`` column.
_CANONICAL_URL_SQL = r"""(SELECT
          regexp_replace(h2, '^(https://[^/?#:]*):443$', '\1')
          || regexp_replace(regexp_replace(rest, '^(/[^?]*[^/?])/+(\?|$)', '\1\2'), '^/+(\?|$)', '/\1')
         FROM (SELECT
            regexp_replace(lower(regexp_extract(c4, '^([^:/?#]+://[^/?#]*)', 1)),
                           '^(http://[^/?#:]*):80$', '\1') AS h2,
            regexp_replace(c4, '^[^:/?#]+://[^/?#]*', '') AS rest
           FROM (SELECT pre || regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(qry,
                         '(^\?|&)(utm_[A-Za-z0-9]+|gclid|fbclid|msclkid)=[^&]*', '\1', 'g'),
                       '^\?&+', '?'),
                     '&&+', '&', 'g'),
                   '[?&]$', '') AS c4
            FROM (SELECT
                regexp_extract(regexp_replace(url, '#.*$', ''), '^([^?]*)', 1) AS pre,
                regexp_replace(regexp_replace(url, '#.*$', ''), '^[^?]*', '') AS qry)
           ) t1) t2
        )"""


@_register("language_id_distribution", _language_id_oracle_sql())
def language_id_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(language_id(F.col("text")).alias("lang_detected")).count()


@_register(
    "repetition_report",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, t,
             CASE WHEN len(t) >= 2
                  THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                  ELSE [] END AS bg,
             CASE WHEN len(t) >= 5
                  THEN list_transform(range(1, len(t) - 3), i -> array_to_string(list_slice(t, i, i+4), ' '))
                  ELSE [] END AS fg
      FROM toks
    )
    SELECT doc_id,
           round(CASE WHEN len(bg) > 0
                 THEN CAST(list_max(list_transform(list_distinct(bg), b -> len(list_filter(bg, x -> x = b)))) AS DOUBLE) / len(bg)
                 ELSE 0.0 END, 4) AS top_bigram_frac,
           round(CASE WHEN len(fg) > 0
                 THEN 1.0 - CAST(len(list_distinct(fg)) AS DOUBLE) / len(fg)
                 ELSE 0.0 END, 4) AS dup_5gram_frac
    FROM grams
    """,
)
def repetition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition metrics (Rae et al. 2021 Table A1) per doc —
    top word-bigram fraction and duplicate 5-gram fraction as pure
    Catalyst HOFs, mirrored verbatim by DuckDB list lambdas."""
    from ..analytics.text_analysis import repetition_features

    docs = _t(spark, sf_dir, "documents")
    feats = repetition_features(docs)
    return feats.select(
        "doc_id",
        F.round(F.col("top_bigram_frac"), 4).alias("top_bigram_frac"),
        F.round(F.col("dup_5gram_frac"), 4).alias("dup_5gram_frac"),
    )


@_register(
    "gopher_filter_counts",
    rf"""
    WITH feats AS (
      SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t,
             len(regexp_extract_all(text, '#|\.\.\.')) AS n_sym,
             text
      FROM documents
    ), flags AS (
      SELECT len(t) BETWEEN 50 AND 100000 AS word_count_ok,
             CASE WHEN len(t) > 0
                  THEN CAST(length(array_to_string(t, '')) AS DOUBLE) / len(t) BETWEEN 3.0 AND 10.0
                  ELSE FALSE END AS mean_word_len_ok,
             CASE WHEN len(t) > 0
                  THEN CAST(n_sym AS DOUBLE) / len(t) <= 0.1
                  ELSE FALSE END AS symbol_ratio_ok,
             len(list_intersect(list_distinct(t), {_GOPHER_STOPWORDS_SQL})) >= 2 AS stopwords_ok
      FROM feats
    )
    SELECT word_count_ok, mean_word_len_ok, symbol_ratio_ok, stopwords_ok,
           (word_count_ok AND mean_word_len_ok AND symbol_ratio_ok AND stopwords_ok) AS keep,
           count(*) AS n
    FROM flags
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def gopher_filter_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter flags (Rae et al. 2021 §A1.1) over the
    corpus, aggregated by rejection reason — the reporting shape a
    training-data pipeline actually wants ("how much did each rule
    cost us"), with every rule mirrored in the oracle."""
    from ..analytics.text_analysis import gopher_quality_flags

    docs = _t(spark, sf_dir, "documents")
    flags = gopher_quality_flags(F.col("text"))
    out = docs.select(*[c.alias(name) for name, c in flags.items()])
    return out.groupBy(
        "word_count_ok", "mean_word_len_ok", "symbol_ratio_ok", "stopwords_ok", "keep"
    ).agg(F.count(F.lit(1)).alias("n"))


@_register(
    "pii_redaction_counts",
    r"""
    WITH pii AS (
      SELECT source,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.'
                  || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR)
                  || ' call +1 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' 9876' AS t
      FROM documents
    ), redacted AS (
      SELECT source,
             len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
             len(regexp_extract_all(t, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ip,
             len(regexp_extract_all(t, '\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ][0-9]{3,4}')) AS n_phone,
             length(regexp_replace(regexp_replace(regexp_replace(t,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IPV4]', 'g'),
                 '\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ][0-9]{3,4}', '[PHONE]', 'g')) AS red_len
      FROM pii
    )
    SELECT source,
           CAST(sum(n_email) AS BIGINT) AS emails,
           CAST(sum(n_ip) AS BIGINT) AS ips,
           CAST(sum(n_phone) AS BIGINT) AS phones,
           CAST(sum(red_len) AS BIGINT) AS redacted_chars
    FROM redacted
    GROUP BY source
    """,
)
def pii_redaction_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style PII scrub over documents with DETERMINISTICALLY
    INJECTED pii (email/IPv4/phone built from doc_id — the synthetic
    corpus has none, and the oracle rebuilds the same strings), then
    per-source match counts plus redacted-length sums pinning the
    replacement itself. regexp patterns chosen to parse identically
    under Java regex and RE2 (analytics.text_analysis.PII_PATTERNS)."""
    from ..analytics.text_analysis import redact_pii

    docs = _t(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(" call +1 555 "),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" 9876"),
    )
    redacted, counts = redact_pii(pii_text)
    enriched = docs.select(
        "source",
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ip"),
        counts["phone"].alias("n_phone"),
        F.length(redacted).alias("red_len"),
    )
    return enriched.groupBy("source").agg(
        F.sum("n_email").alias("emails"),
        F.sum("n_ip").alias("ips"),
        F.sum("n_phone").alias("phones"),
        F.sum("red_len").alias("redacted_chars"),
    )


@_register(
    "deterministic_sample_ids",
    """
    SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
    """,
)
def deterministic_sample_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% corpus sample: md5-prefix bucketing instead
    of rand(seed) — the same rows are selected by ANY engine (the
    oracle mirrors the rule verbatim), stable across partitionings,
    retries, and scale. The sampling every 100 TB pipeline needs for
    reproducible held-out splits."""
    from ..analytics.text_analysis import deterministic_sample_pred

    docs = _t(spark, sf_dir, "documents")
    return docs.filter(deterministic_sample_pred(F.col("doc_id"), 0.25)).select(
        "doc_id", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4).alias("bucket")
    )


@_register(
    "document_chunks_rag",
    r"""
    WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS l
      FROM documents),
    c AS (SELECT doc_id,
        unnest(list_transform(range(0, CAST(ceil(len(l) / 12.0) AS BIGINT)),
          i -> {'ci': i, 'st': i * 12,
                'ch': list_slice(l, CAST(i*12 + 1 AS BIGINT), CAST(i*12 + 16 AS BIGINT))})) AS s
      FROM t WHERE len(l) > 0)
    SELECT doc_id,
           CAST(s.ci AS BIGINT) AS chunk_index,
           CAST(s.st AS BIGINT) AS start_token,
           CAST(len(s.ch) AS BIGINT) AS n_tokens,
           array_to_string(s.ch, ' ') AS chunk_text
    FROM c
    """,
)
def document_chunks_rag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking over documents (r9): 16-token
    chunks every 12 tokens with span provenance — the RAG/embedding
    ingest primitive. Pure per-row HOFs over the staged token array;
    zero shuffles."""
    from ..analytics.text_analysis import document_chunks

    docs = _t(spark, sf_dir, "documents")
    return document_chunks(docs, chunk_size=16, stride=12)


@_register(
    "ngram_census_top20",
    r"""
    WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS l
      FROM documents),
    g AS (SELECT doc_id,
        unnest(list_transform(range(0, CAST(len(l) - 1 AS BIGINT)),
          i -> array_to_string(list_slice(l, CAST(i+1 AS BIGINT), CAST(i+2 AS BIGINT)), ' '))) AS ngram
      FROM t WHERE len(l) >= 2)
    SELECT ngram,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM g GROUP BY ngram
    ORDER BY cnt DESC, ngram ASC LIMIT 20
    """,
)
def ngram_census_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams with corpus count + document frequency (r9) —
    the phrase-level vocabulary audit. One explode->word-count pass
    with map-side partial agg; top-k is TakeOrderedAndProject."""
    from ..analytics.text_analysis import ngram_census

    docs = _t(spark, sf_dir, "documents")
    return ngram_census(docs, n=2, top_k=20)


@_register(
    "oov_rate_scores",
    r"""
    WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS l
      FROM documents),
    v AS (SELECT word FROM (SELECT unnest(l) AS word FROM t)
          GROUP BY word ORDER BY count(*) DESC, word ASC LIMIT 50),
    tok AS (SELECT doc_id, unnest(l) AS w FROM t),
    inv AS (SELECT doc_id, count(*) AS inc FROM tok
            WHERE w IN (SELECT word FROM v) GROUP BY doc_id),
    s AS (SELECT t.doc_id, CAST(len(l) AS BIGINT) AS dl,
                 CAST(len(l) - coalesce(inc, 0) AS BIGINT) AS oov_cnt
          FROM t LEFT JOIN inv ON t.doc_id = inv.doc_id)
    SELECT doc_id, dl, oov_cnt,
           CASE WHEN dl > 0 THEN oov_cnt / dl ELSE 0.0 END AS oov_rate,
           CASE WHEN dl > 0 THEN (oov_cnt / dl) > 0.5 ELSE FALSE END AS flagged
    FROM s
    """,
)
def oov_rate_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary-rate quality scores against the corpus top-50
    vocabulary (r9): the gibberish/encoding-noise filter. Integer
    counts + one exact division; the vocab broadcast-semi-joins, so no
    corpus shuffle by token."""
    from ..analytics.text_analysis import oov_rate

    docs = _t(spark, sf_dir, "documents")
    return oov_rate(docs, vocab_size=50, flag_threshold=0.5)


@_register(
    "boilerplate_prefix_clusters",
    r"""
    WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS l
      FROM documents),
    p AS (SELECT doc_id, array_to_string(list_slice(l, 1, 2), ' ') AS prefix,
                 CAST(len(l) AS BIGINT) AS dl
      FROM t WHERE len(l) > 0)
    SELECT prefix,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS exemplar_id,
           CAST(sum(dl) AS BIGINT) AS total_tokens
    FROM p GROUP BY prefix HAVING count(*) >= 2
    ORDER BY n_docs DESC, prefix ASC
    """,
)
def boilerplate_prefix_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared 2-token-prefix clusters (r9): the cheap template/
    boilerplate triage before near-dup passes. One groupBy on the
    prefix projection; result bounded by repeated prefixes."""
    from ..analytics.text_analysis import boilerplate_prefix_clusters

    docs = _t(spark, sf_dir, "documents")
    return boilerplate_prefix_clusters(docs, prefix_len=2, min_docs=2)


@_register(
    "incremental_dedup_ledger",
    r"""
    WITH b1 AS (SELECT count(DISTINCT text) AS c FROM documents WHERE doc_id < 250),
    allc AS (SELECT count(DISTINCT text) AS c FROM documents)
    SELECT 'batch1' AS phase, CAST(b1.c AS BIGINT) AS n_admitted FROM b1
    UNION ALL
    SELECT 'batch2' AS phase, CAST(allc.c - b1.c AS BIGINT) AS n_admitted FROM allc, b1
    UNION ALL
    SELECT 'batch2_rerun' AS phase, CAST(0 AS BIGINT) AS n_admitted
    """,
)
def incremental_dedup_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup against a persisted fingerprint ledger
    (r9): the corpus arrives as two batches (doc_id < 250, then the
    full table re-sent); batch 2 admits only never-seen content and a
    re-run of batch 2 admits nothing (idempotence). The oracle pins
    all three admission counts via distinct-text arithmetic."""
    import tempfile as _tf

    from ..analytics.dedup import exact_dedup_incremental

    docs = _t(spark, sf_dir, "documents")
    with _tf.TemporaryDirectory(prefix="dedup-ledger-") as tmp:
        ledger = tmp + "/fps"
        n1 = exact_dedup_incremental(docs.where(F.col("doc_id") < 250), ledger).count()
        n2 = exact_dedup_incremental(docs, ledger).count()
        n3 = exact_dedup_incremental(docs, ledger).count()
    return spark.createDataFrame(
        [("batch1", n1), ("batch2", n2), ("batch2_rerun", n3)],
        "phase string, n_admitted long",
    )


@_register(
    "source_overlap_matrix",
    r"""
    WITH fp AS (SELECT DISTINCT
        array_to_string(list_slice(
          list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
          1, 3), ' ') AS p, source
      FROM documents)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.p = b.p AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY n_shared DESC, source_a, source_b
    """,
)
def source_overlap_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source overlap matrix (r9) on the 3-token-prefix
    fingerprint (the boilerplate axis — the fixture corpus has no
    cross-source EXACT dups, so the graded query exercises the prefix
    mode; exact mode is pytest-locked). Slim (hash, source) distinct
    first; only that self-joins."""
    from ..analytics.dedup import source_overlap_matrix

    docs = _t(spark, sf_dir, "documents")
    return source_overlap_matrix(docs, prefix_tokens=3)


@_register(
    "url_dedup_groups",
    rf"""
    WITH {_MESSY_URLS_SQL},
    canon AS (
      SELECT doc_id,
        -- same normalization chain as analytics.web.canonicalize_url
        {_CANONICAL_URL_SQL} AS canonical_url
      FROM urls)
    SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_variants,
           min(doc_id) AS representative_id
    FROM canon GROUP BY canonical_url
    """,
)
def url_dedup_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup (r10): six messy
    real-world variants per resource (scheme/host case, default ports,
    fragments, utm/gclid tracking params, trailing slashes, mixed
    queries) collapse to canonical groups with counts and a min-id
    representative. Pure regexp built-ins (whole-stage codegen, zero
    Python); one slim-key groupBy — the stage crawl pipelines run
    BEFORE content dedup. RFC 3986 §6 normalization subset; the oracle
    mirrors the chain verbatim."""
    from ..analytics.web import url_dedup_groups

    docs = _t(spark, sf_dir, "documents")
    return url_dedup_groups(_messy_urls(docs))


@_register(
    "weighted_sample_ids",
    r"""
    WITH w AS (
      SELECT doc_id,
        least(greatest(n_chars / 400.0, 0.0), 1.0) AS weight,
        substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
      FROM documents)
    SELECT doc_id, round(weight, 6) AS weight, bucket
    FROM w
    WHERE CAST(floor(weight * 65536) AS INT) >= 65536
       OR bucket < lower(lpad(hex(CAST(floor(weight * 65536) AS INT)), 4, '0'))
    """,
)
def weighted_sample_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling (r10): documents are
    kept with probability proportional to a quality weight (here
    length-based, ``min(n_chars/400, 1)``) via a per-row md5-bucket
    threshold — reproducible across engines/partitionings/retries
    where rand() is not, the acceptance-sampling shape used to upweight
    high-quality text in training mixes. Stateless projection + filter;
    zero shuffle at 100 TB."""
    from ..analytics.text_analysis import quality_weighted_sample_pred

    docs = _t(spark, sf_dir, "documents")
    weight = F.least(F.greatest(F.col("n_chars") / 400.0, F.lit(0.0)), F.lit(1.0))
    return docs.filter(quality_weighted_sample_pred(F.col("doc_id"), weight)).select(
        "doc_id",
        F.round(weight, 6).alias("weight"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4).alias("bucket"),
    )


@_register(
    "char_entropy_scores",
    r"""
    WITH ch AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ''), x -> x <> '')) AS c
      FROM documents),
    cnt AS (SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS k FROM ch GROUP BY doc_id, c),
    agg AS (SELECT doc_id, CAST(sum(k) AS DOUBLE) AS n, sum(k * log2(k)) AS s
            FROM cnt GROUP BY doc_id)
    SELECT doc_id, round(log2(n) - s / n, 4) AS char_entropy
    FROM agg WHERE n > 0
    """,
)
def char_entropy_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality scoring (r10): the compressibility
    proxy crawl pipelines use to drop gibberish (high tail) and
    template junk (low tail). Pure per-row HOF arithmetic, zero
    shuffle; the oracle recomputes via explode+groupBy (semantics
    check, not plan parity)."""
    from ..analytics.text_analysis import char_entropy_scores

    return char_entropy_scores(_t(spark, sf_dir, "documents"))


@_register(
    "warc_ingest_stats",
    r"""
    SELECT source, CAST(count(*) AS BIGINT) AS n_pages,
           CAST(sum(strlen(text)) AS BIGINT) AS n_octets
    FROM documents GROUP BY source
    """,
)
def warc_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC (ISO 28500) round-trip (r10): the documents table is
    written as member-per-record .warc.gz shards (one per partition,
    executor-side — the Common Crawl layout), scanned back via
    binaryFile + Arrow-batched parse, and aggregated per source from
    the WARC-Target-URI. The oracle pins per-source page counts and
    payload octets straight from the table — any header/member/length
    corruption in the writer or reader breaks the match."""
    import tempfile as _tf

    from ..sources.warc import read_warc, write_warc_shards

    docs = _t(spark, sf_dir, "documents")
    frame = docs.select(
        F.concat(F.lit("http://"), F.col("source"), F.lit(".example/doc/"), F.col("doc_id")).alias("url"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    ).repartition(8)
    with _tf.TemporaryDirectory(prefix="warc-ingest-") as tmp:
        manifest = write_warc_shards(frame, tmp)
        n_shards = manifest.count()  # force the executor-side writes
        assert n_shards == 8, f"expected 8 shards, wrote {n_shards}"
        parsed = read_warc(spark, f"{tmp}/*.warc.gz")
        out = (
            parsed.where(F.col("record_type") == "response")
            .select(
                F.regexp_extract("url", r"^http://([^.]+)\.example/", 1).alias("source"),
                F.length("payload").alias("octets"),
            )
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_pages"), F.sum("octets").alias("n_octets"))
        )
        rows = out.collect()  # materialize before the tempdir vanishes
    return spark.createDataFrame(rows, "source string, n_pages long, n_octets long")


@_register(
    "bigram_lm_scores",
    _BIGRAM_CTES
    + r"""
    lefts AS (SELECT w1, sum(cb) AS cw FROM big GROUP BY w1),
    voc AS (SELECT count(DISTINCT w) AS v
            FROM (SELECT unnest(t) AS w FROM toks)),
    sc AS (
      SELECT doc_id, count(*) AS m,
             sum(log2((cb + 1.0) / (CAST(cw AS DOUBLE) + 1.0 * v))) AS s
      FROM p2 JOIN big USING (w1, w2) JOIN lefts USING (w1) CROSS JOIN voc
      GROUP BY doc_id)
    SELECT doc_id, CAST(m AS BIGINT) AS n_bigrams, round(-s / m, 4) AS avg_nll
    FROM sc
    """,
)
def bigram_lm_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM perplexity scoring (r10): the
    CCNet/KenLM-style quality filter — Laplace-smoothed word-bigram
    model trained on the corpus itself, per-document average negative
    log2-likelihood. Two slim count tables + one scoring join; the
    oracle recomputes the identical model in SQL."""
    from ..analytics.text_analysis import bigram_lm_scores

    return bigram_lm_scores(_t(spark, sf_dir, "documents"))


@_register(
    "token_ids_encode",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
      FROM documents),
    flat AS (
      SELECT doc_id, unnest(t) AS w, unnest(range(len(t))) AS pos FROM toks),
    freq AS (SELECT w, count(*) AS c FROM flat GROUP BY w),
    vocab AS (
      SELECT w, row_number() OVER (ORDER BY c DESC, w) AS token_id
      FROM freq ORDER BY c DESC, w LIMIT 1000)
    SELECT f.doc_id, CAST(f.pos AS INT) AS pos,
           CAST(coalesce(v.token_id, 0) AS INT) AS token_id
    FROM flat f LEFT JOIN vocab v USING (w)
    """,
)
def token_ids_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary token-id encoding (r10): top-1000 frequency vocab
    (count desc, token asc; 0 = UNK), one (doc, pos, token_id) row per
    token — the tokenize stage feeding sequence_packing. Distributed
    top-k + broadcast id lookup; the token stream never shuffles."""
    from ..analytics.text_analysis import encode_token_ids

    docs = _t(spark, sf_dir, "documents")
    out = encode_token_ids(docs, vocab_size=1000)
    return out.select("doc_id", F.col("pos").cast("int"), F.col("token_id").cast("int"))


@_register(
    "audio_energy_features",
    r"""
    WITH clip AS (SELECT unnest(range(24)) AS mid),
    par AS (SELECT mid, 4000 + (mid % 5) * 800 AS n FROM clip),
    s AS (SELECT mid, n, unnest(range(n)) AS i FROM par),
    v AS (SELECT mid, n,
                 (((i * 37 + mid * 11) % 2000) - 1000) / 32768.0 AS x
          FROM s),
    agg AS (SELECT mid, max(n) AS n, sum(x * x) AS ss FROM v GROUP BY mid)
    SELECT CAST(mid AS VARCHAR) AS media_id, CAST(8000 AS INT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples, round(n / 8000.0, 4) AS duration_s,
           round(sqrt(ss / n), 4) AS rms
    FROM agg
    """,
)
def audio_energy_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio path, driver-graded (r10): 24 deterministic
    integer-sawtooth PCM clips are ENCODED to real RIFF/WAV bytes
    executor-side, then decoded back through the production
    extract_audio_features path (codecs.decode_wav: RIFF chunk walk,
    16-bit PCM, mono fold) — sample rate, counts, duration and RMS all
    pinned by the oracle recomputing the same samples arithmetically.
    Any header/layout/normalization bug in the WAV codec breaks the
    match. The payload is opaque binary through Spark — the multimodal
    column contract — and the parse is Arrow-batched mapInPandas."""
    import struct as st

    import pandas as pd

    from ..analytics.multimodal import extract_audio_features

    configure(spark)

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = {"media_id": [], "payload": []}
            for mid in pdf["mid"]:
                mid = int(mid)
                n = 4000 + (mid % 5) * 800
                i = np.arange(n, dtype=np.int64)
                s = ((i * 37 + mid * 11) % 2000 - 1000).astype("<i2")
                data = s.tobytes()
                hdr = (
                    b"RIFF"
                    + st.pack("<I", 36 + len(data))
                    + b"WAVE"
                    + b"fmt "
                    + st.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
                    + b"data"
                    + st.pack("<I", len(data))
                )
                rows["media_id"].append(str(mid))
                rows["payload"].append(hdr + data)
            yield pd.DataFrame(rows)

    clips = (
        spark.range(24)
        .select(F.col("id").alias("mid"))
        .repartition(4)
        .mapInPandas(gen, "media_id string, payload binary")
    )
    feats = extract_audio_features(clips)
    return feats.select(
        "media_id",
        "sample_rate",
        "n_samples",
        F.round("duration_s", 4).alias("duration_s"),
        F.round("rms", 4).alias("rms"),
    )


@_register(
    "normalize_text_dedup_keys",
    r"""
    WITH messy AS (
      SELECT doc_id,
        CASE doc_id % 4
          WHEN 0 THEN text
          WHEN 1 THEN '  ' || replace(text, ' ', '   ') || chr(9) || chr(10)
          WHEN 2 THEN chr(1) || replace(replace(text, 'e', '’'), 'a', '—') || chr(127)
          ELSE '“' || text || '”' || chr(160) || '…'
        END AS t
      FROM documents),
    norm AS (
      SELECT doc_id,
        trim(regexp_replace(regexp_replace(
          replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(t,
            '‘', ''''), '’', ''''), '“', '"'), '”', '"'),
            '–', '-'), '—', '-'), '…', '...'), chr(160), ' '),
            chr(133), ' '), chr(8232), ' '), chr(8233), ' '),
          '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]', '', 'g'),
          '\s+', ' ', 'g')) AS cleaned
      FROM messy)
    SELECT doc_id, cleaned, strlen(cleaned) AS n_octets,
           substr(md5(cleaned), 1, 16) AS fingerprint
    FROM norm
    """,
)
def normalize_text_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization before fingerprinting (r10): four messiness
    classes injected deterministically (whitespace inflation + trailing
    tab/newline; control chars + smart quote/dash substitution;
    typographic wrapping + NBSP + ellipsis) are normalized back by
    analytics.text_analysis.normalize_text, and the dedup fingerprint
    is taken over the CLEANED text — the step that stops byte-level
    noise defeating exact dedup. The oracle mirrors both the mess and
    the cleanup verbatim."""
    from ..analytics.text_analysis import normalize_text

    docs = _t(spark, sf_dir, "documents")
    messy = (
        F.when(F.col("doc_id") % 4 == 0, F.col("text"))
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("  "), F.replace("text", F.lit(" "), F.lit("   ")), F.lit("\t\n")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("\x01"),
                F.replace(F.replace("text", F.lit("e"), F.lit("’")), F.lit("a"), F.lit("—")),
                F.lit("\x7f"),
            ),
        )
        .otherwise(F.concat(F.lit("“"), F.col("text"), F.lit("” …")))
    )
    cleaned = normalize_text(messy)
    return docs.select(
        "doc_id",
        cleaned.alias("cleaned"),
        F.octet_length(cleaned).cast("long").alias("n_octets"),
        F.substring(F.md5(cleaned), 1, 16).alias("fingerprint"),
    )


@_register(
    "countmin_user_frequencies",
    r"""
    WITH keys AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
    cells AS (
      SELECT r.row, substr(md5(r.row || ':' || k), 1, 3) AS bucket,
             count(*) AS n
      FROM keys, (SELECT unnest(range(1, 5)) AS row) r
      GROUP BY r.row, bucket),
    probes AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS k
               FROM events WHERE user_id % 7 = 0),
    pcells AS (
      SELECT p.k, r.row, substr(md5(r.row || ':' || p.k), 1, 3) AS bucket
      FROM probes p, (SELECT unnest(range(1, 5)) AS row) r),
    est AS (
      SELECT pc.k, min(coalesce(c.n, 0)) AS est
      FROM pcells pc LEFT JOIN cells c USING (row, bucket)
      GROUP BY pc.k),
    truth AS (SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS true_n
              FROM events GROUP BY user_id)
    SELECT e.k AS user_id, CAST(e.est AS BIGINT) AS est,
           CAST(t.true_n AS BIGINT) AS true_n
    FROM est e JOIN truth t USING (k)
    """,
)
def countmin_user_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (r10): a depth-4,
    width-4096 CMS over events.user_id built as ONE explode+groupBy
    (bounded d x 16^3 cells regardless of input size, mergeable across
    shards by construction), probed for every user_id % 7 == 0, with
    the exact count joined alongside — the oracle rebuilds the
    identical sketch (md5-hex bucketing is engine-portable) so every
    cell, estimate and collision overshoot is pinned. CMS never
    under-counts; the est >= true_n invariant is additionally
    test-locked."""
    from ..analytics.sketches import countmin_build, countmin_estimate

    events = _t(spark, sf_dir, "events")
    sketch = countmin_build(events, "user_id")
    probes = events.where(F.col("user_id") % 7 == 0).select("user_id")
    est = countmin_estimate(sketch, probes, "user_id")
    truth = (
        events.groupBy(F.col("user_id").cast("string").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    return est.join(truth, "user_id").select("user_id", "est", "true_n")


@_register(
    "training_corpus_pipeline",
    r"""
    WITH norm AS (
      SELECT doc_id, source,
        trim(regexp_replace(regexp_replace(
          replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(text,
            '‘', ''''), '’', ''''), '“', '"'), '”', '"'),
            '–', '-'), '—', '-'), '…', '...'), chr(160), ' '),
            chr(133), ' '), chr(8232), ' '), chr(8233), ' '),
          '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]', '', 'g'),
          '\s+', ' ', 'g')) AS c
      FROM documents),
    fp AS (SELECT doc_id, source, c, md5(c) AS fp FROM norm),
    reps AS (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY fp),
    kept AS (SELECT f.doc_id, f.source, f.c FROM fp f JOIN reps USING (fp, doc_id)),
    tok AS (SELECT doc_id, source,
              len(list_filter(string_split_regex(c, '\s+'), x -> x <> '')) AS n_tokens
            FROM kept),
    filt AS (SELECT * FROM tok
             WHERE n_tokens >= 20
               AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM filt GROUP BY source
    """,
)
def training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus preparation (r10 flagship composition): the
    stages a real 100 TB training-data run chains — (1) text
    normalization (analytics.normalize_text), (2) exact dedup on the
    md5 fingerprint of the CLEANED text (slim-key groupBy + left-semi,
    min-id representative), (3) an integer quality gate (>= 20 tokens
    — integer thresholds only: a float boundary could flip a doc
    between engines), (4) the deterministic 50% md5 sample, (5)
    per-source corpus accounting. Every stage is the already-graded
    primitive; this pins their COMPOSITION. Shuffles: one fingerprint
    groupBy, one semi-join, one final stats groupBy — text never
    shuffles except the slim fingerprint pass."""
    from ..analytics.text_analysis import deterministic_sample_pred, normalize_text

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", normalize_text(F.col("text")).alias("c")
    ).withColumn("fp", F.md5("c"))
    reps = base.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    kept = base.join(reps, ["fp", "doc_id"], "left_semi")
    toks = F.size(F.filter(F.split(F.col("c"), r"\s+"), lambda x: x != F.lit("")))
    filt = (
        kept.withColumn("n_tokens", toks)
        .where(F.col("n_tokens") >= 20)
        .where(deterministic_sample_pred(F.col("doc_id"), 0.5))
    )
    return filt.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )


@_register(
    "leakage_safe_split",
    rf"""
    WITH {_MESSY_URLS_SQL},
    canon AS (
      SELECT doc_id,
        {_CANONICAL_URL_SQL} AS g
      FROM urls),
    assigned AS (
      SELECT doc_id, g,
        CASE WHEN substr(md5(g), 1, 4) < 'c000' THEN 'train'
             WHEN substr(md5(g), 1, 4) < 'e000' THEN 'val'
             ELSE 'test' END AS split
      FROM canon)
    SELECT split, CAST(count(DISTINCT g) AS BIGINT) AS n_groups,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM assigned GROUP BY split
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test split (r10): documents are assigned
    to splits by the md5 bucket of their CANONICAL URL, not their own
    id — every URL-level duplicate (scheme case, tracking params,
    trailing slash) lands in the SAME split, the guard that stops
    near-duplicates leaking from train into eval (the md5-per-doc
    split in dataset_split cannot give this). 75/12.5/12.5 buckets,
    deterministic across engines/partitionings. One stateless
    projection + one stats groupBy."""
    from ..analytics.web import canonicalize_url

    docs = _t(spark, sf_dir, "documents")
    g = canonicalize_url(F.col("url"))
    bucket = F.substring(F.md5(g), 1, 4)
    split = (
        F.when(bucket < "c000", "train").when(bucket < "e000", "val").otherwise("test")
    )
    return (
        _messy_urls(docs)
        .select(F.col("doc_id"), g.alias("g"), split.alias("split"))
        .groupBy("split")
        .agg(F.count_distinct("g").alias("n_groups"), F.count(F.lit(1)).alias("n_docs"))
    )


@_register(
    "token_quantiles_by_source",
    r"""
    WITH t AS (
      SELECT source,
             len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS n
      FROM documents)
    SELECT source,
           round(quantile_cont(n, 0.25), 4) AS p25,
           round(quantile_cont(n, 0.5), 4) AS p50,
           round(quantile_cont(n, 0.9), 4) AS p90,
           CAST(max(n) AS BIGINT) AS p_max
    FROM t GROUP BY source
    """,
)
def token_quantiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-count quantiles per source (r10): the corpus-ops
    report that sizes packing windows and spots degenerate feeds.
    EXACT percentile (both engines use the same linear interpolation,
    verified R-7 semantics), not approx_percentile — approx sketches
    differ per engine and per run. Per-group sort is bounded by group
    size; at fleet scale swap in approx_percentile and drop the
    oracle."""
    from ..analytics.text_analysis import token_count

    docs = _t(spark, sf_dir, "documents")
    t = docs.select("source", token_count(F.col("text")).alias("n"))
    return t.groupBy("source").agg(
        F.round(F.percentile("n", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("n", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("n", F.lit(0.9)), 4).alias("p90"),
        F.max("n").cast("long").alias("p_max"),
    )


@_register(
    "skipgram_top_pairs",
    r"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
      FROM documents),
    pairs AS (
      SELECT p.w1, p.w2
      FROM (SELECT unnest(flatten(list_transform(range(1, len(t) + 1),
              i -> [struct_pack(w1 := t[i], w2 := t[j])
                    for j in range(greatest(i - 2, 1), least(i + 2, len(t)) + 1)
                    if j != i]))) AS p
            FROM toks WHERE len(t) >= 2)),
    counts AS (SELECT w1, w2, count(*) AS n_cooc FROM pairs GROUP BY w1, w2)
    SELECT w1, w2, CAST(n_cooc AS BIGINT) AS n_cooc
    FROM counts ORDER BY n_cooc DESC, w1, w2 LIMIT 100
    """,
)
def skipgram_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence (r10): symmetric +/-2 window (center,
    context) pairs built per-row with HOFs (no self-join), slim-pair
    count groupBy, distributed top-100. The word2vec training-pair
    stage; the oracle rebuilds the identical window arithmetic."""
    from ..analytics.text_analysis import skipgram_pairs

    return skipgram_pairs(_t(spark, sf_dir, "documents"), window=2, top_k=100)


@_register(
    "containment_dedup_ids",
    r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id,
             'WRAPPER HEADER :: ' || text || ' :: WRAPPER FOOTER' AS text
      FROM documents WHERE doc_id < 30)
    SELECT DISTINCT a.doc_id
    FROM corpus a JOIN corpus b
      ON (strlen(b.text) > strlen(a.text)
          OR (strlen(b.text) = strlen(a.text) AND b.doc_id > a.doc_id))
     AND position(a.text IN b.text) > 0
    """,
)
def containment_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-containment dedup (r10): the corpus plus 30
    boilerplate-wrapped copies; every original whose full text sits
    inside a wrapper is flagged. Candidates come from the min-k-gram
    probe join (sound: a substring's minimum k-gram hash must appear
    in the container's k-gram set), verified with exact contains. The
    oracle does the quadratic truth join — the distributed plan must
    reproduce it exactly."""
    from ..analytics.dedup import containment_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    wrapped = docs.where(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.lit("WRAPPER HEADER :: "), F.col("text"), F.lit(" :: WRAPPER FOOTER")
        ).alias("text"),
    )
    return containment_dedup(docs.unionAll(wrapped))


@_register(
    "hll_distinct_users",
    r"""
    WITH h AS (
      SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
    b AS (
      SELECT event_type,
             CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) % 64 AS bucket,
             CAST(('0x' || substr(hx, 9, 8)) AS BIGINT) AS v
      FROM h),
    r AS (
      SELECT event_type, bucket,
             max(CASE WHEN v > 0 THEN 33 - length(bin(v)) ELSE 33 END) AS m
      FROM b GROUP BY event_type, bucket),
    a AS (
      SELECT event_type, count(*) AS buckets_used,
             sum(power(0.5, m)) AS present_inv
      FROM r GROUP BY event_type),
    x AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_users
      FROM events GROUP BY event_type)
    SELECT a.event_type,
           CAST(x.exact_users AS BIGINT) AS exact_users,
           CAST(a.buckets_used AS BIGINT) AS buckets_used,
           0.709 * 4096.0 / (present_inv + (64 - buckets_used)) AS hll_estimate
    FROM a JOIN x USING (event_type)
    """,
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event type (r10), next to
    the exact count the oracle can still afford at this SF. 64 md5-hex
    registers, leading-zero rank via length(bin(v)) — integer-exact in
    both engines, and every 2^(-M) term is a single bit in a 33-bit
    span so the 64-term sum (and hence the estimate) is bit-
    deterministic across engines. Build is one slim groupBy with
    map-side partial max; registers merge cell-wise (test-locked), the
    property that lets 1000 executors sketch 100 TB independently. The
    raw estimator only — range corrections use ln(), whose last ulp is
    engine-specific."""
    from ..analytics.sketches import hll_estimate, hll_registers

    ev = _t(spark, sf_dir, "events")
    regs = hll_registers(ev, "user_id", ["event_type"])
    est = hll_estimate(regs, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "exact_users",
        F.col("buckets_used").cast("long").alias("buckets_used"),
        "hll_estimate",
    )


@_register(
    "allpairs_jaccard_pairs",
    r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS l FROM documents),
    t AS (
      SELECT doc_id,
        CASE WHEN len(l) - 2 > 0 THEN
          list_distinct(list_transform(range(1, CAST(len(l) - 2 AS BIGINT) + 1),
            i -> array_to_string(list_slice(l, i, i + 2), ' ')))
        ELSE [array_to_string(l, ' ')] END AS s
      FROM w),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.s, b.s)) AS overlap,
             len(a.s) AS size_a, len(b.s) AS size_b
      FROM t a JOIN t b ON a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(overlap AS BIGINT) AS overlap,
           CAST(size_a AS BIGINT) AS size_a, CAST(size_b AS BIGINT) AS size_b,
           overlap / CAST(size_a + size_b - overlap AS DOUBLE) AS jaccard
    FROM p
    WHERE overlap / CAST(size_a + size_b - overlap AS DOUBLE) >= 0.6
    """,
)
def allpairs_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (r10 continuation): all document
    pairs with 3-word-shingle Jaccard >= 0.6 via AllPairs/PPJoin prefix
    filtering (Bayardo WWW'07) — zero false negatives, unlike the
    MinHash/LSH families, and the oracle proves it by running the full
    quadratic truth join. The distributed plan only joins each doc's
    |x| - ceil(t|x|) + 1 globally-RAREST shingles (document-frequency
    ordering), so posting lists exclude the Zipf head by construction
    — the skew story needs no cap."""
    from ..analytics.dedup import allpairs_jaccard_join

    docs = _t(spark, sf_dir, "documents")
    return allpairs_jaccard_join(docs, threshold=0.6, ngram=3)


@_register(
    "bloom_decontamination_counts",
    r"""
    WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS l FROM documents),
    sh AS (SELECT doc_id,
            CASE WHEN len(l) - 2 > 0 THEN
              list_distinct(list_transform(range(1, CAST(len(l) - 2 AS BIGINT) + 1),
                i -> array_to_string(list_slice(l, i, i + 2), ' ')))
            ELSE [array_to_string(l, ' ')] END AS s
           FROM w),
    bench AS (SELECT DISTINCT unnest(s) AS k FROM sh WHERE doc_id % 50 = 0),
    bloom AS (SELECT DISTINCT r.row, substr(md5(r.row || ':' || k), 1, 4) AS pos
              FROM bench, (SELECT unnest(range(1, 5)) AS row) r),
    cs AS (SELECT doc_id, unnest(s) AS k FROM sh WHERE doc_id % 50 <> 0),
    pp AS (SELECT doc_id, k, r.row, substr(md5(r.row || ':' || k), 1, 4) AS pos
           FROM cs, (SELECT unnest(range(1, 5)) AS row) r),
    hits AS (SELECT doc_id, k, count(b.pos) AS nset
             FROM pp LEFT JOIN bloom b USING (row, pos) GROUP BY doc_id, k),
    agg AS (SELECT h.doc_id,
              count(*) AS n_shingles,
              sum(CASE WHEN h.nset = 4 THEN 1 ELSE 0 END) AS bloom_hits,
              sum(CASE WHEN h.k IN (SELECT k FROM bench) THEN 1 ELSE 0 END) AS exact_hits
            FROM hits h GROUP BY h.doc_id)
    SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(bloom_hits AS BIGINT) AS bloom_hits,
           CAST(exact_hits AS BIGINT) AS exact_hits,
           bloom_hits > 0 AS flagged
    FROM agg
    """,
)
def bloom_decontamination_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination probe (r10 continuation): every
    20th document plays the held-out benchmark; its 3-word shingles
    build a k=4, m=65536 md5 bloom (bounded position table ~ a 64 KB
    bitset) that BROADCASTS, so the 100 TB corpus side never shuffles
    to discover which docs might leak benchmark text. bloom_hits can
    only over-count exact_hits (one-sided error — the decontamination
    guarantee), and the oracle rebuilds the identical filter bit-for-
    bit, so the false-positive count itself is graded."""
    from ..analytics.dedup import word_shingles_of, words
    from ..analytics.sketches import bloom_build, bloom_maybe_contains

    docs = _t(spark, sf_dir, "documents")
    # stage the word arrays before the shingle lambda indexes them
    # (word_shingles_of contract — inlined split is O(len^2))
    staged = docs.select("doc_id", words(F.col("text")).alias("_wa"))
    bench = staged.where(F.col("doc_id") % 50 == 0)
    corpus = staged.where(F.col("doc_id") % 50 != 0)
    bench_sh = bench.select(
        F.explode(word_shingles_of(F.col("_wa"), 3)).alias("sh")
    ).distinct()
    bloom = bloom_build(bench_sh, "sh")
    corpus_sh = corpus.select(
        "doc_id", F.explode(word_shingles_of(F.col("_wa"), 3)).alias("sh")
    )
    probed = bloom_maybe_contains(bloom, corpus_sh, "sh")
    marked = probed.join(
        F.broadcast(bench_sh.withColumn("_x", F.lit(1))), "sh", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.col("maybe").cast("long")).alias("bloom_hits"),
            F.count("_x").cast("long").alias("exact_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "bloom_hits",
            "exact_hits",
            (F.col("bloom_hits") > 0).alias("flagged"),
        )
    )


@_register(
    "inverted_index_top_terms",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS term
      FROM documents),
    per_doc AS (
      SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    per_term AS (
      SELECT term, CAST(count(*) AS BIGINT) AS doc_freq,
             CAST(sum(tf) AS BIGINT) AS total_tf,
             array_to_string(list_slice(list_sort(list(doc_id)), 1, 15), ',') AS postings
      FROM per_doc GROUP BY term)
    SELECT term, doc_freq, total_tf, postings
    FROM per_term ORDER BY doc_freq DESC, term ASC LIMIT 50
    """,
)
def inverted_index_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting lists for the 50 highest-df terms (r10
    continuation): the IR build stage behind the graded BM25 ranker,
    in the classic MapReduce shape — explode -> (term, doc) partial
    count -> slim per-term fold with a capped, ascending posting
    string; top-k is TakeOrderedAndProject, never a global sort."""
    from ..analytics.text_analysis import inverted_index

    return inverted_index(_t(spark, sf_dir, "documents"), top_terms=50, postings_cap=15)


@_register(
    "collocation_pmi_top",
    r"""
    WITH t AS (
      SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS l
      FROM documents),
    bg AS (
      SELECT p.w1, p.w2
      FROM (SELECT unnest(list_transform(range(1, len(l)),
              i -> struct_pack(w1 := l[i], w2 := l[i + 1]))) AS p
            FROM t WHERE len(l) >= 2)),
    pc AS (SELECT w1, w2, count(*) AS n_xy FROM bg GROUP BY w1, w2),
    ug AS (SELECT unnest(l) AS w FROM t),
    uc AS (SELECT w, count(*) AS n FROM ug GROUP BY w),
    tot AS (SELECT (SELECT count(*) FROM ug) AS nn, (SELECT count(*) FROM bg) AS bb)
    SELECT p.w1, p.w2, CAST(p.n_xy AS BIGINT) AS n_xy,
           CAST(a.n AS BIGINT) AS n_x, CAST(b.n AS BIGINT) AS n_y,
           (CAST(p.n_xy AS DOUBLE) * tot.nn * tot.nn)
             / (CAST(tot.bb AS DOUBLE) * a.n * b.n) AS pmi_ratio
    FROM pc p
    JOIN uc a ON p.w1 = a.w
    JOIN uc b ON p.w2 = b.w
    CROSS JOIN tot
    WHERE p.n_xy >= 5
    ORDER BY pmi_ratio DESC, p.w1, p.w2 LIMIT 50
    """,
)
def collocation_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 PMI collocations (r10 continuation): adjacent-word pairs
    ranked by the raw probability ratio (log-free, so the double is
    bit-identical across engines). The phrase-mining stage before BPE:
    high-PMI pairs become single vocabulary units. One HOF pass builds
    both streams; unigram counts broadcast; top-k is
    TakeOrderedAndProject."""
    from ..analytics.text_analysis import collocation_pmi

    return collocation_pmi(_t(spark, sf_dir, "documents"), min_count=5, top_k=50)


@_register(
    "cohort_retention_daily",
    r"""
    WITH fs AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort
                FROM events GROUP BY user_id),
    act AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS period FROM events)
    SELECT fs.cohort,
           CAST(date_diff('second', fs.cohort, act.period) / 86400 AS BIGINT) AS day_offset,
           CAST(count(DISTINCT act.user_id) AS BIGINT) AS n_users
    FROM act JOIN fs USING (user_id)
    GROUP BY fs.cohort, day_offset
    """,
)
def cohort_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix (r10 continuation): users bucketed
    by first-event day; per day-offset, distinct returning users. Slim
    (user, min ts) cohort agg + distinct (user, day) activity pairs +
    one equi-join — all-integer, no float aggregation; the offsets are
    exact day multiples so the cross-engine division is exact."""
    from ..operators.window import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"), bucket="day")


@_register(
    "funnel_view_click_purchase",
    r"""
    WITH e AS (SELECT user_id, event_type, ts FROM events),
    s1 AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view'
           GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(ts) AS t2 FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(ts) AS t3 FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
    SELECT CAST(1 AS BIGINT) AS step_index, 'view' AS step,
           CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase (r10 continuation),
    first-touch anchored: each step counts users whose earliest
    qualifying event falls strictly after their previous anchor. One
    slim min-aggregate per step chained on user — no per-user history
    arrays, so power users cannot blow a row at 100 TB."""
    from ..operators.window import funnel_conversion

    return funnel_conversion(
        _t(spark, sf_dir, "events"), steps=["view", "click", "purchase"]
    )


@_register(
    "skew_report_event_users",
    r"""
    WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key_value, count(*) AS n_rows
               FROM events GROUP BY user_id),
    t AS (SELECT sum(n_rows) AS total FROM c)
    SELECT key_value, CAST(n_rows AS BIGINT) AS n_rows,
           n_rows / CAST(t.total AS DOUBLE) AS row_fraction,
           CAST(greatest(1, ceil(n_rows * 32 / CAST(t.total AS DOUBLE))) AS BIGINT)
             AS suggested_salt
    FROM c CROSS JOIN t
    ORDER BY n_rows DESC, key_value LIMIT 20
    """,
)
def skew_report_event_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-shuffle skew diagnostic over events.user_id (r10
    continuation): the top-20 hottest keys with row fraction and the
    salt-bucket count that would flatten each to an average reducer's
    share at 32 shuffle partitions. The report every 100 TB groupBy
    should run first; one slim count agg + broadcast total."""
    from ..scale import skew_diagnostic

    return skew_diagnostic(_t(spark, sf_dir, "events"), "user_id", top_k=20, partitions=32)


@_register(
    "doc_length_histogram",
    r"""
    WITH b AS (
      SELECT least(CAST(floor(n_chars / 100) AS BIGINT), 14) AS bucket, n_chars
      FROM documents)
    SELECT bucket,
           CAST(bucket * 100 AS BIGINT) AS lo_chars,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM b GROUP BY bucket
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram in 100-char buckets, 15th bucket
    open-ended (r10 continuation): the first profiling query on any
    new corpus feed. Pure integer bucket arithmetic (engine-portable,
    no width_bucket variance), one partial-agg groupBy."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 100).cast("long"), F.lit(14))
    return (
        docs.select(bucket.alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .select(
            "bucket",
            (F.col("bucket") * 100).cast("long").alias("lo_chars"),
            "n_docs",
            "min_chars",
            "max_chars",
        )
    )


@_register(
    "image_phash_dedup",
    r"""
    WITH px AS (
      SELECT cid, x, y,
        (3*x + 7*y + (cid+2)*x*y) % 256 AS r,
        (5*x + 2*y + (cid+1)*(x*x + y)) % 256 AS g,
        (x + y + cid*(x + 3*y)) % 256 AS b
      FROM range(8) t(cid), range(64) tx(x), range(48) ty(y)
    ),
    cells AS (
      SELECT cid, y//6 AS by, x//8 AS bx, avg(0.299*r + 0.587*g + 0.114*b) AS cell
      FROM px GROUP BY 1, 2, 3
    ),
    thr AS (SELECT cid, avg(cell) AS m FROM cells GROUP BY 1),
    bits AS (
      SELECT c.cid, (by*8 + bx) AS idx, CASE WHEN cell > m THEN 1 ELSE 0 END AS bit
      FROM cells c JOIN thr USING (cid)
    ),
    hv AS (
      SELECT cid, sum(bit::HUGEINT * (1::HUGEINT << (63 - idx))) AS v
      FROM bits GROUP BY cid
    ),
    ph AS (
      SELECT cid,
        (CASE WHEN v >= (1::HUGEINT << 63) THEN v - (1::HUGEINT << 64) ELSE v END)::BIGINT AS phash
      FROM hv
    ),
    grp AS (
      SELECT (mid % 8) AS cid, CAST(min(mid) AS INT) AS rep_media_id,
             CAST(count(*) AS BIGINT) AS n_images,
             CAST(count(DISTINCT mid % 3) AS BIGINT) AS n_variants
      FROM range(48) t(mid) GROUP BY 1
    )
    SELECT g.rep_media_id, g.n_images, g.n_variants,
           CAST(64 AS INT) AS width, CAST(48 AS INT) AS height, p.phash
    FROM grp g JOIN ph p USING (cid)
    """,
)
def image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal IMAGE path, driver-graded (r10): perceptual-hash
    near-duplicate image dedup through the REAL bitmap decode. 48
    deterministic gradient images (8 content classes x 3 byte-level
    encodings: bottom-up 24bpp, top-down 24bpp, bottom-up 32bpp with a
    junk alpha byte) are ENCODED to real BMP bytes executor-side, then
    decoded back through the production extract_image_features path
    (codecs.decode_bmp: header walk, stride, row order, BGR(A)->RGB;
    codecs.average_hash: Rec.601 luma -> 8x8 block means -> above-mean
    bitmap). Grouping by the hash must collapse each content class to
    ONE group of 6 spanning all 3 encodings — byte-hash dedup cannot do
    this (every payload differs) — and the oracle recomputes the exact
    64-bit hash value arithmetically in SQL, so any decode or hash bug
    (row flip, channel order, stride, threshold) breaks the match.
    Reference parity: the image analytics the reference routes through
    OpenCV capture paths (PROCESSORS.md CaptureRGBFrame area) —
    re-expressed as opaque-binary columns + Arrow-batched mapInPandas.
    100 TB shape: decode is per-row executor-side compute with no
    shuffle; only the slim (phash, id) projection aggregates."""
    import struct as st

    import pandas as pd

    from ..analytics.multimodal import extract_image_features

    configure(spark)
    w, h = 64, 48

    def gen(batches):
        import numpy as np

        def make_rgb(cid: int) -> "np.ndarray":
            x = np.arange(w, dtype=np.int64)[None, :]
            y = np.arange(h, dtype=np.int64)[:, None]
            r = (3 * x + 7 * y + (cid + 2) * x * y) % 256
            g = (5 * x + 2 * y + (cid + 1) * (x * x + y)) % 256
            b = (x + y + cid * (x + 3 * y)) % 256
            return np.stack(
                [np.broadcast_to(c, (h, w)) for c in (r, g, b)], axis=-1
            ).astype(np.uint8)

        def encode_bmp(rgb: "np.ndarray", variant: int) -> bytes:
            bgr = rgb[:, :, ::-1]
            if variant == 2:  # 32bpp, junk alpha — decode must drop it
                px = np.concatenate(
                    [bgr, np.full((h, w, 1), 0xAB, dtype=np.uint8)], axis=-1
                )
            else:
                px = bgr
            stride = (w * px.shape[2] + 3) & ~3
            rows = np.zeros((h, stride), dtype=np.uint8)
            rows[:, : w * px.shape[2]] = px.reshape(h, -1)
            hdr_height = -h if variant == 1 else h  # top-down vs bottom-up
            body = rows.tobytes() if variant == 1 else rows[::-1].tobytes()
            info = st.pack(
                "<IiiHHIIiiII", 40, w, hdr_height, 1, px.shape[2] * 8, 0,
                len(body), 2835, 2835, 0, 0,
            )
            file_hdr = b"BM" + st.pack("<IHHI", 54 + len(body), 0, 0, 54)
            return file_hdr + info + body

        for pdf in batches:
            out = {"media_id": [], "payload": []}
            for mid in pdf["mid"]:
                mid = int(mid)
                out["media_id"].append(str(mid))
                out["payload"].append(encode_bmp(make_rgb(mid % 8), mid % 3))
            yield pd.DataFrame(out)

    clips = (
        spark.range(48)
        .select(F.col("id").alias("mid"))
        .repartition(4)
        .mapInPandas(gen, "media_id string, payload binary")
    )
    feats = extract_image_features(clips)
    return (
        feats.groupBy("phash", "width", "height")
        .agg(
            F.min(F.col("media_id").cast("int")).alias("rep_media_id"),
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.countDistinct(F.col("media_id").cast("int") % 3)
            .cast("long")
            .alias("n_variants"),
        )
        .select("rep_media_id", "n_images", "n_variants", "width", "height", "phash")
    )


@_register(
    "event_type_association_rules",
    r"""
    WITH it AS (SELECT DISTINCT user_id AS b, event_type AS i FROM events),
    tot AS (SELECT count(DISTINCT b) AS nb FROM it),
    singles AS (SELECT i, count(*) AS c FROM it GROUP BY i),
    p AS (
      SELECT a.i AS ia, bb.i AS ib, count(*) AS np
      FROM it a JOIN it bb ON a.b = bb.b AND a.i < bb.i
      GROUP BY 1, 2)
    SELECT ia AS item_a, ib AS item_b, CAST(np AS BIGINT) AS n_pair,
           round(np * 1.0 / nb, 4) AS support,
           round(np * 1.0 / ca.c, 4) AS conf_a_b,
           round(np * 1.0 / cb.c, 4) AS conf_b_a,
           round((np * nb) * 1.0 / (ca.c * cb.c), 4) AS lift
    FROM p JOIN singles ca ON p.ia = ca.i
           JOIN singles cb ON p.ib = cb.i
           CROSS JOIN tot
    WHERE np >= 2
    """,
)
def event_type_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (r10): baskets = users, items =
    event types; every co-occurring type pair gets support, directional
    confidence, and lift (A-priori 2-itemsets, Agrawal & Srikant 1994).
    Distinct slim (basket, item) pairs -> per-basket HOF pair explosion
    (bounded by the basket cap) -> slim-pair groupBy; singles and
    totals broadcast. The oracle rebuilds the same rules with a
    self-join."""
    from ..analytics.mining import association_rules

    ev = _t(spark, sf_dir, "events")
    return association_rules(ev, "user_id", "event_type", min_pair_count=2)


@_register(
    "customer_entity_matches",
    r"""
    WITH base AS (
      SELECT c_custkey AS id, c_name AS n FROM customer WHERE c_custkey < 200
      UNION ALL
      SELECT c_custkey + 500000 AS id,
             substr(c_name, 1, 9 + c_custkey % 8) || 'X'
               || substr(c_name, 11 + c_custkey % 8) AS n
      FROM customer WHERE c_custkey < 150),
    keyed AS (
      SELECT id, n, substr(n, 1, 12) AS k FROM base
      UNION ALL
      SELECT id, n, '$sfx:' || substr(n, length(n) - 5) AS k FROM base),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.n AS name_a, b.n AS name_b
      FROM keyed a JOIN keyed b ON a.k = b.k AND a.id < b.id)
    SELECT id_a, id_b, name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INT) AS edit_distance
    FROM cand WHERE levenshtein(name_a, name_b) <= 1
    """,
)
def customer_entity_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity resolution (r10): 150 typo'd variants (one char
    overwritten inside the digit zone, position varying by key) are
    injected next to the first 200 customers; multi-pass blocking
    (name prefix + name suffix — a typo anywhere still lands in one
    block) generates candidates and exact Levenshtein <= 1 verifies.
    Near-identical synthetic names also legitimately match each other
    (one-digit edits) — both engines agree on the full pair set. The
    fixture subset stays under the per-block skew cap, so the oracle
    needs no cap mirror (the cap only trims degenerate hot blocks at
    fleet scale)."""
    from ..analytics.mining import entity_resolution_blocked

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 200)
    base = cust.select(F.col("c_custkey").alias("id"), F.col("c_name").alias("n"))
    pos = (F.lit(10) + F.col("c_custkey") % 8).cast("int")
    variants = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 150)
        .select(
            (F.col("c_custkey") + 500000).alias("id"),
            F.overlay(F.col("c_name"), F.lit("X"), pos).alias("n"),
        )
    )
    return entity_resolution_blocked(
        base.unionAll(variants), "id", "n", max_edit_distance=1
    )
