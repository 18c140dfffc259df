"""A plan shape seen earlier in the session is not compiled again: the
codegen cache holds more classes than Spark's default of 100, and a
whole-stage class does not change with its codegen stage id."""

from __future__ import annotations

from distributed_crawler_spark.session import codegen_compile_count

FILLER = 150
FIRST = "SELECT id * 7919 - 104729 AS x FROM range(3)"


def _compile(spark, sql: str) -> int:
    """Classes compiled while planning ``sql``'s physical RDD, which
    compiles every whole-stage class on the driver without a job."""
    before = codegen_compile_count(spark)
    spark.sql(sql)._jdf.queryExecution().executedPlan().execute()
    return codegen_compile_count(spark) - before


def test_codegen_class_survives_more_than_default_cache_size(spark):
    _compile(spark, FIRST)
    # one codegen stage per union branch, each with its own literal
    filler = " UNION ALL ".join(
        f"SELECT id + {1_000_003 + i} AS x FROM range(3)" for i in range(FILLER)
    )
    assert _compile(spark, filler) >= 100
    assert _compile(spark, FIRST) == 0


def test_codegen_class_is_reused_under_another_stage_id(spark):
    _compile(spark, FIRST)
    # FIRST again, as the union's second codegen stage: only the new
    # first branch compiles
    assert _compile(spark, f"SELECT id - 104723 AS x FROM range(3) UNION ALL {FIRST}") == 1
