"""Session factory: the generated-code cache holds the engine's working set."""

from __future__ import annotations


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_working_set_over_spark_default(spark):
    """150 projections with distinct inlined literals compile about 300
    classes (whole-stage plus result projection), three times Spark's
    default cache of 100. With the default the LRU cache thrashes and the
    second pass compiles every class again; sized by the factory, the
    second pass compiles nothing."""

    def one_pass():
        for i in range(150):
            spark.range(1).selectExpr(f"id * {i + 7} + {3 * i + 1} AS v").collect()

    c0 = _compiles(spark)
    one_pass()
    c1 = _compiles(spark)
    one_pass()
    c2 = _compiles(spark)
    assert c1 - c0 > 100  # the working set really is larger than Spark's cap
    assert c2 - c1 == 0
