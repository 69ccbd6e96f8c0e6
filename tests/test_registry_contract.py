"""Driver-contract invariants for the query registry.

The driver grades exactly the first ``GRADED_WINDOW`` registrations in
``queries()`` order (observed round 1: entries 51+ got no correctness
row). These tests pin the contract so a refactor can't silently push an
operator-family or LLM-pipeline query out of the graded window, and so
the local replica stays type-strict (round 1's three hash failures were
int64-vs-float64 typing that Python ``==`` can't see).
"""

from __future__ import annotations

import ast
import builtins
import symtable
import sys
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from nifi_minifi_cpp_spark import entry_queries

# Every SURVEY §2 operator family and every LLM-pipeline operator must
# have a row in CORRECTNESS_r{N}.json — i.e. be registered in-window.
MUST_GRADE = {
    # r18 rotation: no never-graded entry is left, so the window
    # is 50 oldest-first backfill picks (the 10 remaining r10-stale
    # entries + the r11-stale cohort head) per the staleness rule.
    "domain_mixture_plan",
    "s2s_port_roundtrip",
    "param_context_resolution",
    "connection_edge_semantics",
    "document_chunks_rag",
    "ngram_census_top20",
    "oov_rate_scores",
    "boilerplate_prefix_clusters",
    "incremental_dedup_ledger",
    "source_overlap_matrix",
    "url_dedup_groups",
    "weighted_sample_ids",
    "char_entropy_scores",
    "warc_ingest_stats",
    "bigram_lm_scores",
    "token_ids_encode",
    "audio_energy_features",
    "normalize_text_dedup_keys",
    "countmin_user_frequencies",
    "training_corpus_pipeline",
    "containment_dedup_ids",
    "hll_distinct_users",
    "allpairs_jaccard_pairs",
    "bloom_decontamination_counts",
    "inverted_index_top_terms",
    "collocation_pmi_top",
    "cohort_retention_daily",
    "funnel_view_click_purchase",
    "skew_report_event_users",
    "doc_length_histogram",
    "image_phash_dedup",
    "event_type_association_rules",
    "customer_entity_matches",
    "zorder_layout_buckets",
    "embedding_gram_upper",
    "scd2_event_type_history",
    "rolling_zscore_flags",
    "window_function_pack",
    "resample_forward_fill",
    "quality_percentile_by_source",
    "pagerank_supplier_parts",
    "table_profile_orders",
    "grouping_sets_revenue",
    "streaming_dedup_counts",
    "sliding_window_counts",
    "stream_interval_join_pairs",
    "label_propagation_communities",
    "orders_reconciliation_diff",
    "salted_join_segment_revenue",
    "stream_static_enrichment_counts",
}

def test_must_grade_queries_inside_window():
    names = list(entry_queries.queries())
    window = set(names[: entry_queries.GRADED_WINDOW])
    missing = MUST_GRADE - window
    assert not missing, f"queries pushed out of the graded window: {sorted(missing)}"


def test_grade_order_is_complete_and_unique():
    order = entry_queries._GRADE_ORDER
    assert len(order) == len(set(order))
    assert len(order) <= entry_queries.GRADED_WINDOW + 1


def test_every_query_has_oracle_or_documented_rows_only():
    qs = entry_queries.queries()
    oracles = entry_queries.oracle_sql()
    rows_only = {n for n in qs if n not in oracles}
    # rows-only entries are the documented non-SQL-expressible set.
    # Round 4 converted the dedup family to invariant-backed oracles
    # and gave language_id a DuckDB mirror; only the fake-backend
    # entries (outputs defined by the stub, not by SQL semantics)
    # remain rows-only.
    allowed = set()  # round 4: every graded entry carries an oracle
    assert rows_only <= allowed, f"undocumented rows-only queries: {rows_only - allowed}"


def test_canon_is_type_strict():
    """The local replica must flag int64-vs-float64 — the exact failure
    mode of round 1's three HUGEINT-typed oracles."""
    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import check_correctness as cc

    a = pd.DataFrame({"x": pd.array([1636], dtype="int64")})
    b = pd.DataFrame({"x": pd.array([1636.0], dtype="float64")})
    assert cc.canon(a) != cc.canon(b)
    # but identical frames still match
    assert cc.canon(a) == cc.canon(a.copy())


# ---------------------------------------------------------------------------
# Rotation staleness bound (VERDICT r12 #2) — the rule is code, not memo.
# ---------------------------------------------------------------------------

_REPO = Path(__file__).resolve().parents[1]


def _driver_ledger(max_round: int | None = None) -> dict[str, int]:
    """last driver-graded round per query, from CORRECTNESS_r*.json."""
    import json
    import re

    last: dict[str, int] = {}
    for f in sorted(_REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", f.stem).group(1))
        if max_round is not None and rnd > max_round:
            continue
        for name in json.loads(f.read_text()):
            last[name] = max(rnd, last.get(name, 0))
    return last


def test_backfill_picks_are_oldest_first():
    """Starvation bound: whenever the grade window has slots beyond the
    never-driver-graded queue, those backfill slots MUST go to the
    stalest previously-graded entries — oldest driver round first,
    registration order within a round. route_relationship_counts /
    embedding_norms_by_label reached 5 rounds stale (r7 green, thrice
    deferred r10-r12) before this rule was codified; under it, an entry
    can only wait behind strictly staler entries, so unbounded deferral
    is structurally impossible."""
    eq = entry_queries
    last = _driver_ledger(eq.ROTATION_LEDGER_ROUND)
    reg = eq._REGISTRATION_ORDER
    assert len(reg) == len(set(reg))
    unknown = set(last) - set(reg)
    assert not unknown, f"ledger rows for unregistered queries: {sorted(unknown)}"
    idx = {n: i for i, n in enumerate(reg)}

    window = eq._GRADE_ORDER
    assert len(window) == min(eq.GRADED_WINDOW, len(reg))

    never = [n for n in reg if n not in last]
    # The window's never-graded entries must be a PREFIX of the
    # never-graded queue in registration order: an older never-graded
    # entry can never be skipped in favor of a newer one, while entries
    # registered AFTER the rotation (mid-round) legitimately wait for
    # the next window.
    window_never = [n for n in reg if n in set(window) and n not in last]
    assert window_never == never[: len(window_never)], (
        "window skips older never-driver-graded entries:\n"
        f"  in window = {window_never}\n"
        f"  queue     = {never[: len(window_never)]}"
    )

    slots = len(window) - len(window_never)
    backfill = [n for n in window if n in last]
    expected = sorted((n for n in reg if n in last), key=lambda n: (last[n], idx[n]))[:slots]
    assert sorted(backfill) == sorted(expected), (
        "backfill picks violate the oldest-first staleness rule:\n"
        f"  picked   = {sorted(backfill)}\n"
        f"  required = {sorted(expected)}"
    )


def test_rotation_ledger_round_is_current():
    """The window must be recomputed every driver round: the pinned
    ledger snapshot may trail the newest CORRECTNESS file by at most
    one round (the round whose grading is in flight). A skipped
    rotation therefore fails in that round's own pytest run instead of
    waiting for a judge read."""
    import re

    rounds = [
        int(re.search(r"r(\d+)", f.stem).group(1))
        for f in _REPO.glob("CORRECTNESS_r*.json")
    ]
    assert rounds, "no CORRECTNESS ledger files found"
    newest = max(rounds)
    pinned = entry_queries.ROTATION_LEDGER_ROUND
    assert pinned <= newest <= pinned + 1, (
        f"rotation not executed: window computed against r{pinned} ledger "
        f"but CORRECTNESS_r{newest:02d}.json exists — recompute _GRADE_ORDER "
        f"(never-graded queue + oldest-first backfill) and bump "
        f"ROTATION_LEDGER_ROUND"
    )


def _symtable_walk(table):
    yield table
    for child in table.get_children():
        yield from _symtable_walk(child)


def test_entry_queries_import_what_they_read():
    """The package shares code by explicit imports only: no module uses
    ``import *``; every global a family module reads is bound in that
    module or is a builtin (otherwise a missing import surfaces only
    when that query runs); and every top-level name of ``_shared`` is
    read by two or more families or is registry plumbing (a helper one
    family reads lives in that family)."""
    pkg = Path(entry_queries.__file__).parent
    sources = {p.stem: p.read_text() for p in sorted(pkg.glob("*.py"))}
    trees = {name: ast.parse(src) for name, src in sources.items()}

    star = sorted(
        {
            name
            for name, tree in trees.items()
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom) and any(a.name == "*" for a in node.names)
        }
    )
    assert not star, f"modules with import *: {star}"

    reads = {}
    for name, src in sources.items():
        if name.startswith("_"):
            continue
        top = symtable.symtable(src, name, "exec")
        bound = {
            s.get_name()
            for s in top.get_symbols()
            if s.is_assigned() or s.is_imported() or s.is_namespace()
        }
        reads[name] = {
            s.get_name()
            for table in _symtable_walk(top)
            for s in table.get_symbols()
            if s.is_referenced() and (table is top or s.is_global())
        }
        unbound = sorted(n for n in reads[name] - bound if not hasattr(builtins, n))
        assert not unbound, f"{name} reads names it never binds: {unbound}"

    plumbing = {"QueryFn", "_REGISTRY", "_REGISTRATION_ORDER", "_register"}
    shared = set()
    for node in trees["_shared"].body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            shared.add(node.name)
        elif isinstance(node, ast.Assign):
            shared.update(t.id for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign):
            shared.add(node.target.id)
    readers = {
        n: sorted(f for f, names in reads.items() if n in names)
        for n in sorted(shared - plumbing)
    }
    lonely = {n: fams for n, fams in readers.items() if len(fams) < 2}
    assert not lonely, f"_shared names read by fewer than two families: {lonely}"
