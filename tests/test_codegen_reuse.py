"""Generated-code reuse: a repeated query compiles no new classes.

Spark compiles each whole-stage plan with Janino and keeps the classes in a
JVM-wide cache of ``spark.sql.codegen.cache.maxEntries`` entries. The 12
``bench=True`` gates generate about 210 classes per round, more than
Spark's default of 100, so at the default a second round recompiled
nearly everything. ``get_spark`` sizes the cache to
``session.CODEGEN_CACHE_ENTRIES``.

Gates known to recompile on an identical rebuild, with the cause:

* ``q05_local_supplier``: three independent broadcast stages (region,
  orders, supplier) finish in a racing order. Adaptive execution re-plans
  the rest of the query after each stage and numbers whole-stage codegen
  ids (``*(n)``, part of the generated source) as it goes, so a different
  finishing order gives different source text for the same operators and
  misses the cache (6 classes, seen at sf0.1 on 4 cores). There are only
  a few orders, so the variants stop missing once each has been compiled.
"""

from __future__ import annotations

from otterbrix_spark.session import CODEGEN_CACHE_ENTRIES
from otterbrix_spark.workload import load_all


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_bench_gates_reuse_generated_classes(spark, sf_dir):
    """The 12 bench gates run twice in the same order, each on a fresh
    build: the second pass compiles at most a tenth of what the first did."""
    gates = sorted((n, s) for n, s in load_all().items() if s.bench)
    assert len(gates) == 12
    passes = []
    for _ in range(2):
        before = _compiles(spark)
        for _name, spec in gates:
            spec.spark_fn(spark, sf_dir).collect()
        passes.append(_compiles(spark) - before)
    first, second = passes
    assert first > 0
    assert second <= first / 10, passes
