"""Warm passes reuse the compiled codegen classes instead of recompiling.

Every query call and every loop round builds a fresh plan, so whole-stage
codegen classes are reused only through Spark's LRU class cache
(``spark.sql.codegen.cache.maxEntries``, set in ``session.get_spark``).
At Spark's default of 100 entries the loop queries below thrash it: each
pass recompiles ~150 of the ~160 classes the first pass compiled.
"""

from __future__ import annotations

from lab_etl_spark.queries import load_all

LOOP_QUERIES = ("q_pagerank", "q_label_propagation", "q_dedup_clusters")


def _codegen_class_cache(spark):
    """Spark's class cache (private ``CodeGenerator.cache``), via reflection."""
    field = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    ).getDeclaredField("cache")
    field.setAccessible(True)
    return field.get(None)


def test_warm_pass_reuses_compiled_classes(spark, sf_dir):
    registry = load_all()
    # Earlier tests in this session already ran some of these queries;
    # empty the cache so the first pass compiles the full working set.
    _codegen_class_cache(spark).invalidateAll()
    # Janino compiles in this JVM, planning and local-mode task threads alike.
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    per_pass = []
    for _ in range(3):
        before = compiles.getCount()
        for name in LOOP_QUERIES:
            registry[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        per_pass.append(compiles.getCount() - before)
    first, _, third = per_pass
    assert third <= 0.1 * first, f"Janino compiles per pass: {per_pass}"
