"""FlowController streaming deployment + hot-swap; scale utilities."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nifi_minifi_cpp_spark.plans import FlowController, compile_flow


def _stream_flow_cfg(src_dir: str, sink_name: str, route_value: str) -> str:
    return f"""
processors:
  - id: src
    type: FileStreamSource
    properties:
      path: {src_dir}
      schema: "event_id long, event_type string, value double"
      format: parquet
  - id: route
    type: RouteOnAttribute
    properties:
      wanted: "${{event_type:equals('{route_value}')}}"
  - id: sink
    type: MemorySink
    properties: {{name: {sink_name}}}
connections:
  - {{source: src, destination: route}}
  - {{source: route, relationship: wanted, destination: sink}}
"""


@pytest.fixture()
def events_dir(spark, tables, tmp_path):
    d = str(tmp_path / "ev")
    tables["events"].select("event_id", "event_type", "value").limit(300).write.parquet(d)
    return d


def test_flow_controller_streaming(spark, events_dir):
    """A YAML flow whose source is a STREAM: controller starts the
    writeStream, data flows, stop() ends it."""
    ctl = FlowController(spark, _stream_flow_cfg(events_dir, "ctl_out", "error"))
    ctl.start()
    try:
        ctl.await_quiesce()
        got = spark.sql("SELECT count(*) c FROM ctl_out").first()["c"]
        expected = spark.read.parquet(events_dir).filter(F.col("event_type") == "error").count()
        assert got == expected
    finally:
        ctl.stop()
    assert ctl.queries == []


def test_flow_controller_hot_swap(spark, events_dir):
    """C2 applyConfiguration: swap the route predicate live."""
    ctl = FlowController(spark, _stream_flow_cfg(events_dir, "swap_a", "error")).start()
    ctl.await_quiesce()
    n_err = spark.sql("SELECT count(*) c FROM swap_a").first()["c"]
    ctl.apply_configuration(_stream_flow_cfg(events_dir, "swap_b", "click"))
    try:
        ctl.await_quiesce()
        n_click = spark.sql("SELECT count(*) c FROM swap_b").first()["c"]
        df = spark.read.parquet(events_dir)
        assert n_err == df.filter(F.col("event_type") == "error").count()
        assert n_click == df.filter(F.col("event_type") == "click").count()
    finally:
        ctl.stop()


def test_flow_controller_bad_swap_rolls_back(spark, events_dir):
    ctl = FlowController(spark, _stream_flow_cfg(events_dir, "rb_a", "error")).start()
    with pytest.raises(Exception):
        ctl.apply_configuration("processors:\n  - {id: x, type: Nope}\nconnections: []")
    # old flow restarted
    try:
        assert len(ctl.queries) == 1
        ctl.await_quiesce()
    finally:
        ctl.stop()


def test_skew_diagnostic_flags_hot_key(spark):
    """r10 continuation: a key holding half the rows gets a salt
    suggestion ~ partitions/2; uniform keys get 1."""
    from nifi_minifi_cpp_spark.scale import skew_diagnostic

    rows = [(0,)] * 500 + [(k,) for k in range(1, 101) for _ in range(5)]
    df = spark.createDataFrame(rows, "k long")
    out = {r["key_value"]: r for r in skew_diagnostic(df, "k", top_k=5, partitions=32).collect()}
    hot = out["0"]
    assert hot["n_rows"] == 500
    assert hot["suggested_salt"] == 16  # 500 * 32 / 1000
    assert abs(hot["row_fraction"] - 0.5) < 1e-12
    cold = [r for k, r in out.items() if k != "0"]
    assert all(r["suggested_salt"] == 1 for r in cold)


def test_salted_join_matches_plain_inner(spark, tables):
    from nifi_minifi_cpp_spark.scale import salted_join

    li = tables["lineitem"].select("l_orderkey", "l_quantity")
    orders = tables["orders"].select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = {
        (r["o_orderpriority"],): (r["n"], round(r["qty"], 6))
        for r in li.join(orders, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"))
        .collect()
    }
    salted = {
        (r["o_orderpriority"],): (r["n"], round(r["qty"], 6))
        for r in salted_join(li, orders, on="l_orderkey", salt_buckets=8)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"))
        .collect()
    }
    assert salted == plain


def test_salted_join_left_preserves_unmatched(spark):
    from nifi_minifi_cpp_spark.scale import salted_join

    big = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    small = spark.createDataFrame([(1, "X")], "k long, w string")
    out = salted_join(big, small, on="k", salt_buckets=4, how="left").collect()
    assert len(out) == 3  # each unmatched big row exactly once
    by_k = {r["k"]: r["w"] for r in out}
    assert by_k == {1: "X", 2: None, 3: None}


def test_salted_join_rejects_right_full(spark):
    from nifi_minifi_cpp_spark.scale import salted_join

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, on="k", how="full")


def test_dq_report_detects_violations(spark):
    from nifi_minifi_cpp_spark.operators.dq import dq_report

    df = spark.createDataFrame(
        [(1, "O", 10.0), (2, "O", -5.0), (2, None, 3.0), (4, "Z", None)],
        "k long, status string, price double",
    )
    dim = spark.createDataFrame([(1,), (2,)], "k long")
    rep = {
        r["check"]: (r["metric"], r["passed"])
        for r in dq_report(
            df,
            completeness=["status"],
            unique=["k"],
            domain={"status": ["O", "F", "P"]},
            non_negative=["price"],
            references=[("k", dim, "k")],
        ).collect()
    }
    assert rep["completeness:status"] == (0.25, False)
    assert rep["uniqueness:k"] == (0.75, False)  # 3 distinct of 4 rows
    assert rep["domain:status"] == (2.0, False)  # NULL + 'Z'
    assert rep["non_negative:price"] == (2.0, False)  # -5.0 + NULL
    assert rep["referential:k"] == (1.0, False)  # k=4 orphan (dup k=2 joins)


def test_dq_report_all_green_single_scan(spark):
    from nifi_minifi_cpp_spark.operators.dq import dq_report

    df = spark.createDataFrame([(1, "O"), (2, "F")], "k long, status string")
    rep = dq_report(
        df, completeness=["status"], unique=["k"], domain={"status": ["O", "F"]}
    )
    assert all(r["passed"] for r in rep.collect())
    # the local checks must compile to ONE aggregation over one scan
    plan = rep._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1


def test_dq_report_empty_table_passes(spark):
    from nifi_minifi_cpp_spark.operators.dq import dq_report

    df = spark.createDataFrame([], "k long, status string")
    rep = {
        r["check"]: (r["metric"], r["passed"])
        for r in dq_report(
            df, completeness=["status"], unique=["k"], domain={"status": ["O"]}
        ).collect()
    }
    assert rep["completeness:status"] == (0.0, True)
    assert rep["uniqueness:k"] == (1.0, True)
    assert rep["domain:status"] == (0.0, True)


def test_reconcile_statuses_partition_the_key_universe(spark):
    """Property: every key from either side appears exactly once in the
    per-key diff, and the summary counts sum to the key-universe size —
    for a randomized pair of snapshots."""
    import random

    from nifi_minifi_cpp_spark.operators.reconcile import (
        reconcile_summary,
        reconcile_tables,
    )

    rng = random.Random(11)
    left_rows = [(k, rng.choice(["a", "b", None]), float(rng.randint(0, 3))) for k in range(60)]
    right_rows = [
        (k, rng.choice(["a", "b", None]), float(rng.randint(0, 3)))
        for k in range(30, 90)
    ]
    left = spark.createDataFrame(left_rows, "k long, s string, v double")
    right = spark.createDataFrame(right_rows, "k long, s string, v double")
    per_key = reconcile_tables(left, right, ["k"]).collect()
    keys = [r["k"] for r in per_key]
    assert sorted(keys) == list(range(90))  # exactly once each
    summary = {r["status"]: r["n"] for r in reconcile_summary(left, right, ["k"]).collect()}
    assert sum(summary.values()) == 90
    assert summary["only_left"] == 30 and summary["only_right"] == 30
    # statuses agree between the two APIs
    from collections import Counter

    assert Counter(r["status"] for r in per_key) == Counter(summary)


def test_referential_audit_counts_orphans_and_null_fks(spark):
    from nifi_minifi_cpp_spark.operators.dq import referential_audit

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (9,), (9,), (9,), (None,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    rows = referential_audit([("c->p", child, "fk", parent, "pk")]).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    # orphan keys: 9 and NULL; orphan rows: three 9s + one NULL
    assert r == {
        "edge": "c->p",
        "n_child": 7,
        "n_orphan_keys": 2,
        "n_orphan_rows": 4,
    }


def test_fd_profile_null_is_a_distinct_consequent(spark):
    from nifi_minifi_cpp_spark.operators.dq import fd_profile

    df = spark.createDataFrame(
        [(1, "a"), (1, None), (2, "b"), (2, "b"), (3, None)],
        "k long, v string",
    )
    rows = {
        r["fd"]: r.asDict()
        for r in fd_profile([("k->v", df, ["k"], "v")]).collect()
    }
    r = rows["k->v"]
    # group 1 has {a, NULL} = 2 consequents (violates); 2 has {b};
    # 3 has {NULL} = 1 consequent (holds)
    assert r["n_groups"] == 3
    assert r["n_violating_groups"] == 1
    assert r["max_consequents"] == 2
    assert r["holds"] is False


def test_fd_profile_composite_key_holds(spark):
    from nifi_minifi_cpp_spark.operators.dq import fd_profile

    df = spark.createDataFrame(
        [(1, 1, "x"), (1, 2, "y"), (2, 1, "x")], "a long, b long, v string"
    )
    rows = fd_profile([("ab->v", df, ["a", "b"], "v")]).collect()
    assert rows[0]["holds"] is True and rows[0]["n_violating_groups"] == 0


# ---------------------------------------------------------------------------
# DECIMAL(38) escalation for exact sufficient-statistic sums (r14)
# ---------------------------------------------------------------------------


def test_exact_sum_escalation_is_bit_equal_on_operators(spark, tables):
    """The int64 and DECIMAL(38,0) sum paths must produce IDENTICAL
    rows for every adopting operator — the escalation changes overflow
    headroom, never values (the float tails cast to double explicitly
    so decimal scale rules cannot leak in)."""
    from nifi_minifi_cpp_spark.analytics.sketches import welch_ttest_ab
    from nifi_minifi_cpp_spark.operators.temporal import acf_by_key

    ev = tables["events"]
    for op in (welch_ttest_ab, acf_by_key):
        plain = sorted(map(tuple, op(ev, escalate=False).collect()))
        escalated = sorted(map(tuple, op(ev, escalate=True).collect()))
        assert plain == escalated, op.__name__
    # the escalated plan really aggregates in decimal
    schema = {
        f.name: f.dataType.simpleString()
        for f in welch_ttest_ab(ev, escalate=True).schema.fields
    }
    assert schema["t_stat"] == "double"  # float tail unaffected


def test_exact_sum_escalation_env_switch(spark, tables, monkeypatch):
    """Entries adopt the env-driven default: SPARK_GRAFT_EXPECTED_ROWS
    above the threshold flips hourly_trend_by_type's sums to
    DECIMAL(38,0) with bit-equal output (incl. the integer DIV
    rational rounding, which Spark defines on decimals too)."""
    from nifi_minifi_cpp_spark.entry_queries import queries
    from nifi_minifi_cpp_spark.scale import (
        EXPECTED_ROWS_ENV,
        escalate_exact_sums,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    fn = queries()["hourly_trend_by_type"]
    monkeypatch.delenv(EXPECTED_ROWS_ENV, raising=False)
    assert escalate_exact_sums() is False
    plain = sorted(map(tuple, fn(spark, sf_dir).collect()))
    monkeypatch.setenv(EXPECTED_ROWS_ENV, str(10**12))
    assert escalate_exact_sums() is True
    escalated = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert plain == escalated


def test_exact_sum_decimal_survives_int64_overflow(spark):
    """The reason the escalation exists: a sum that OVERFLOWS int64 is
    exact on the decimal path. (The int64 path would wrap or raise
    depending on ANSI mode — either way, wrong.)"""
    from nifi_minifi_cpp_spark.scale import exact_sum

    big = 2**62
    df = spark.createDataFrame([(big,), (big,), (big,)], "v long")
    got = df.agg(exact_sum(F.col("v"), escalate=True).alias("s")).collect()[0]["s"]
    assert int(got) == 3 * big
