"""sized_partitions (engine/partitioning.py): the data-sized partition
clamp for iterative arc caches."""

from __future__ import annotations

from pysparkflow.engine.partitioning import ROWS_PER_PARTITION, sized_partitions


def test_sized_partitions_clamp(spark):
    df = spark.range(1)
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # tiny input -> 1 fat partition
    assert sized_partitions(0, df) == 1
    assert sized_partitions(ROWS_PER_PARTITION - 1, df) == 1
    # grows with the data, ~rows/150k
    assert sized_partitions(ROWS_PER_PARTITION * 7, df) == min(sess, 8)
    # never exceeds the session's cluster-tuned setting
    assert sized_partitions(10**12, df) == sess


def test_sized_partitions_respects_session_conf(spark):
    df = spark.range(1)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "500")
        assert sized_partitions(10**12, df) == 500
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_state_join_side_broadcasts_under_gate(spark):
    """Under the row gate the state side ships as a broadcast: the
    per-round join over a cached arc table plans as BroadcastHashJoin
    with NO exchange of the arc side (the r13 pagerank plan fix)."""
    from pyspark.sql import functions as F

    from pysparkflow.engine.partitioning import state_join_side

    arcs = (
        spark.range(100)
        .select((F.col("id") % 10).alias("u"), F.col("id").alias("v"))
        .persist()
    )
    arcs.count()
    try:
        state = spark.range(10).select(
            F.col("id").alias("u"), F.lit(1.0).alias("rank")
        )
        joined = arcs.join(state_join_side(state, 10, 4, "u"), "u")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # results identical to the plain join
        plain = sorted(map(tuple, arcs.join(state, "u").collect()))
        gated = sorted(map(tuple, joined.collect()))
        assert gated == plain
    finally:
        arcs.unpersist()


def test_state_join_side_copartitions_above_gate(spark):
    """Above the gate the state is hash-repartitioned to the arc cache's
    partition count — the state pays its one exchange and the arcs still
    never move (cluster-scale path of the same helper)."""
    from pyspark.sql import functions as F

    from pysparkflow.engine.partitioning import state_join_side

    state = spark.range(10).select(
        F.col("id").alias("u"), F.lit(1.0).alias("rank")
    )
    side = state_join_side(state, 2_000_001, 7, "u")
    assert side.rdd.getNumPartitions() == 7
    plan = side._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(u" in plan
    # one row fewer is the last broadcast: the 16-B default cuts at 2M
    hinted = state_join_side(state, 2_000_000, 7, "u")
    assert "strategy=broadcast" in hinted._jdf.queryExecution().analyzed().toString()
