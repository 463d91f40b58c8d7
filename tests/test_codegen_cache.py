"""The session's generated-code cache holds a repeated query working set.

`session.get_spark` sizes Spark's JVM-wide generated-class cache to
1000 entries. The plans below need about twice their number in
entries (each whole-stage stage is cached as the driver's copy and
the task's comment-stripped copy), more than Spark's default of 100:
with the default, the second round would miss on every lookup and
compile every class again.
"""

from __future__ import annotations

N_PLANS = 120
PLANS_PER_JOB = 40   # one UNION ALL per job: each branch is its own stage


def _compilations(spark) -> int:
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def _run_plans(spark) -> None:
    # the multiplier is inlined into the generated code, so every plan
    # compiles its own classes
    for i in range(0, N_PLANS, PLANS_PER_JOB):
        spark.sql(" UNION ALL ".join(
            f"SELECT id * {k + 2} AS x FROM range(0, 4, 1, 1)"
            for k in range(i, i + PLANS_PER_JOB))
        ).write.format("noop").mode("overwrite").save()


def test_second_round_of_plans_compiles_nothing(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    before = _compilations(spark)
    _run_plans(spark)
    first = _compilations(spark) - before
    assert first >= N_PLANS   # the plans were new: they compiled
    _run_plans(spark)
    assert _compilations(spark) - before == first
