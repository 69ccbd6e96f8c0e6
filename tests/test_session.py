"""Session-level settings that no single query shows."""

from __future__ import annotations

from nifi_minifi_cpp_spark.metrics import codegen_compiles
from nifi_minifi_cpp_spark.session import CODEGEN_CACHE_ENTRIES

# more distinct generated classes than Spark's default 100-entry cache holds
N_CLASSES = 160
# another test's stream may still be running in the shared session and
# compile a class of its own between two reads of the JVM-wide counter
STRAY_COMPILES = 5


def _pass(spark) -> int:
    """Run N_CLASSES queries, each with generated classes of its own
    (the literals are inlined into the generated code); return how many
    classes the JVM compiled meanwhile."""
    before, _ = codegen_compiles(spark)
    for k in range(N_CLASSES):
        rows = spark.range(3).selectExpr(f"id * {k} + {k + 7919} AS v").collect()
        assert [r.v for r in rows] == [i * k + k + 7919 for i in range(3)]
    after, _ = codegen_compiles(spark)
    return after - before


def test_generated_classes_compile_once_per_session(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)

    first = _pass(spark)
    second = _pass(spark)
    # a cache smaller than the pass recompiles every class the second time
    # round, since each lookup misses on the entry evicted last
    assert first >= N_CLASSES - STRAY_COMPILES, first
    assert second <= STRAY_COMPILES, (first, second)


def test_codegen_compiles_reads_count_and_time(spark):
    count, total_ms = codegen_compiles(spark)
    spark.range(5).selectExpr("id * 104729 + 1299709 AS v").collect()
    count2, total_ms2 = codegen_compiles(spark)
    assert count2 >= count + 1
    assert total_ms2 > total_ms >= 0.0
