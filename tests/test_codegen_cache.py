"""The generated-class cache holds a warm working set.

``session.build_session`` raises Spark's static
``spark.sql.codegen.cache.maxEntries`` above its default of 100
classes. These six headliners generate about 150 classes together, so
under the default bound a second run recompiles most of them with
Janino (144 in a measured run). The check reads the JVM's compile
counter, so it proves the bound took effect in the JVM, not only that
the conf string is set.

A warm run is not always exactly 0: now and then AQE re-plans q241 or
q306 into a plan variant this session has not compiled yet, which
costs 4 classes per query. The bound allows a tenth of the set.
"""

from __future__ import annotations

from conftest import SF_SMALL

QUERIES = (
    "q01_pricing_summary",
    "q03_region_nation_revenue",
    "q13_orders_above_avg",
    "q125_triangle_count",
    "q241_bootstrap_mean_ci",
    "q306_run_failure_patterns",
)
MAX_WARM_COMPILES = 15


def test_warm_headliners_compile_almost_no_classes(spark):
    from aden_hive_fork_spark import suite

    queries = suite.get_queries()
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> dict[str, int]:
        out = {}
        for name in QUERIES:
            before = metrics.METRIC_COMPILATION_TIME().getCount()
            queries[name](spark, SF_SMALL).collect()
            out[name] = metrics.METRIC_COMPILATION_TIME().getCount() - before
        return out

    compiles()  # cold: compiles whatever earlier tests left uncached
    warm = compiles()
    assert sum(warm.values()) <= MAX_WARM_COMPILES, str(warm)
