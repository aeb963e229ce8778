"""Count the Spark jobs a piece of driver code launches."""

from __future__ import annotations


def jobs_in_group(spark, group, fn) -> int:
    """Jobs ``fn`` launches, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))
