"""spread_input: a round-robin repartition for a frame narrower than the
session's parallelism, a no-op for a wide one."""

from st_mapmatching_spark.functions.spread import spread_input


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_narrow_frame_is_spread_round_robin(spark):
    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 200, numPartitions=1).selectExpr("id", "id * 3 AS v")
    out = spread_input(df)
    assert out.rdd.getNumPartitions() == par > 1
    assert "RoundRobinPartitioning" in _plan(out)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))


def test_wide_frame_is_returned_unchanged(spark):
    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 200, numPartitions=2 * par)
    out = spread_input(df)
    assert out is df
    assert "Exchange" not in _plan(out)
