"""Task sizing for the input-side Python map stages.

AQE's ``CoalesceShufflePartitions`` sizes every Python stage that reads a
shuffle, but never one that reads the input directly: the partial build,
the chunk emitter and the broadcast probe keep one task per input split,
and Spark spreads even a small input over every core. Each Python task
pays a fixed worker start-up before its UDF runs, so at small sizes the
task count, not the data, sets the cost. :func:`sized_input` gives those
stages AQE's own target task size, with a narrow ``coalesce`` (no
Exchange, no extra job); :func:`sized_tasks` reports the task count from
the same estimate, so the sharded build and broadcast probe can finish a
one-task stage in that task. :func:`broadcastable` reads the same estimate
to pick a broadcast plan the way Spark picks a broadcast join.
"""

from __future__ import annotations

_LONG_MAX = (1 << 63) - 1  # sizeInBytes of a plan without statistics
# Spark's partition count is an int; a projection scales the unknown
# Long.MaxValue estimate down by row width, to a count far past this
_INT_MAX = (1 << 31) - 1


def plan_bytes(df) -> int:
    """The optimized plan's ``sizeInBytes`` estimate of ``df`` (at least
    Long.MaxValue when Spark does not know it)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def broadcastable(df) -> bool:
    """Whether Spark would broadcast ``df`` as a join side: its estimate is
    at most ``spark.sql.autoBroadcastJoinThreshold``. A threshold of ``-1``
    never broadcasts, and neither does an input without statistics, so a
    caller that collects only what passes never collects an unbounded
    input."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    size = plan_bytes(df)
    return size < _LONG_MAX and 0 <= size <= conf.autoBroadcastJoinThreshold()


def sized_tasks(df):
    """``(frame, tasks)``: ``df`` coalesced to ``k = ceil(estimated bytes /
    target)`` partitions, and ``k``, the most tasks a map stage over
    ``frame`` runs (exactly one when ``k`` is 1); ``tasks`` is None when
    ``df`` comes back as is.

    The estimate is the optimized plan's ``sizeInBytes``; the target is the
    one ``CoalesceShufflePartitions`` uses: ``max(coalescePartitions.
    minPartitionSize, min(advisoryPartitionSizeInBytes, ceil(estimate /
    n)))``, where ``n`` is ``coalescePartitions.minPartitionNum`` (or the
    default parallelism when that is unset) under ``parallelismFirst``,
    else 1. ``df`` comes back as is when ``spark.sql.adaptive.enabled`` or
    ``coalescePartitions.enabled`` is off, when it streams, or when its
    size is unknown (no statistics, e.g. a ``createDataFrame`` from local
    rows, or a projection of one). ``coalesce`` never adds partitions, so
    an input with fewer partitions than ``k`` keeps its own; nothing runs
    to count them (``df.rdd`` can run the input's AQE shuffles).
    """
    spark = df.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    if df.isStreaming or not (conf.adaptiveExecutionEnabled()
                              and conf.coalesceShufflePartitionsEnabled()):
        return df, None
    size = plan_bytes(df)
    if size >= _LONG_MAX:
        return df, None
    entries = spark._jvm.org.apache.spark.sql.internal.SQLConf
    n = 1
    if conf.getConf(entries.COALESCE_PARTITIONS_PARALLELISM_FIRST()):
        num = conf.getConf(entries.COALESCE_PARTITIONS_MIN_PARTITION_NUM())
        n = (num.get() if num.isDefined()
             else spark.sparkContext.defaultParallelism)
    advisory = conf.getConf(entries.ADVISORY_PARTITION_SIZE_IN_BYTES())
    floor = conf.getConf(entries.COALESCE_PARTITIONS_MIN_PARTITION_SIZE())
    target = max(floor, min(advisory, -(-size // n)))
    k = max(1, -(-size // target))  # an empty input still needs a task
    return (df.coalesce(k), k) if k < _INT_MAX else (df, None)


def sized_input(df):
    """``df`` sized for an input-side Python map stage: the frame of
    :func:`sized_tasks`."""
    return sized_tasks(df)[0]
