"""Scale-safe distributed dense ranking.

``Window.orderBy(...)`` (no partitionBy) + ``row_number()`` plans an
``Exchange SinglePartition`` + single-task sort over the WHOLE table, which
is fine at fixture scale and a 100x-scale killer. ``ranked_ids`` produces
the identical dense 0-based ranking with a range repartition, per-partition
local ranks, and cumulative partition-count offsets — every stage parallel,
no single-partition exchange in the plan (assertable via
``"SinglePartition" not in df._jdf.queryExecution()...``; see
tests/test_paths_topology.py plan-shape tests).

Join strategies are not chosen here: Spark broadcasts a side that is small
at plan time, and Adaptive Query Execution (on in ``session.get_spark``)
switches a shuffle join to a broadcast from the measured size of the
finished shuffle stage.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ranked_ids(df: DataFrame, sort_cols: list[str], id_name: str,
               num_partitions: int | None = None,
               ascending: list[bool] | None = None) -> DataFrame:
    """Add a dense 0-based long id column ordered by ``sort_cols`` without a
    global single-task window.

    Requires the sort key to be unique per row (both call sites pass a
    min-of-struct "first use" key which is unique by construction). The
    ranking is identical to ``row_number().over(Window.orderBy(*sort_cols))
    - 1`` because range partitioning maps equal/ordered keys to ordered
    partition ids, so (partition offset + local rank) reproduces the global
    rank.

    Plan shape: range exchange (sampled) -> per-partition window keyed by
    ``spark_partition_id()`` (hash exchange on a dense int key — even) ->
    cumulative offsets via a triangular join over the per-partition counts
    table (<= num_partitions rows, broadcast) -> broadcast join back. No
    ``Exchange SinglePartition`` anywhere; cost is O(data) shuffle + O(P^2)
    rows of bookkeeping for P partitions.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if ascending is None:
        ascending = [True] * len(sort_cols)
    keys = [F.col(c).asc() if up else F.col(c).desc()
            for c, up in zip(sort_cols, ascending)]
    parted = (df.repartitionByRange(num_partitions, *keys)
              .withColumn("__pid", F.spark_partition_id()))
    # persist is for CORRECTNESS, not speed: the ranks branch and the counts
    # branch below both consume `parted`. RangePartitioner samples with a
    # seed derived from the RDD id, so two independently-planned copies of
    # the exchange can pick DIFFERENT boundaries (column pruning defeats
    # exchange reuse), making offsets disagree with local ranks. Caching
    # pins both consumers to one InMemoryRelation -> one exchange instance
    # -> one boundary set. MEMORY_AND_DISK default; blocks are LRU-evictable
    # under memory pressure, and the cached table is the already-deduped key
    # set (far smaller than the input). localCheckpoint would be
    # GC-reclaimed sooner but truncates lineage — an executor loss at
    # cluster scale would fail the job instead of recomputing — so the
    # CacheManager entry lingering for the session is the cheaper cost.
    parted = parted.persist()
    w = Window.partitionBy("__pid").orderBy(*keys)
    local = parted.withColumn("__rn", F.row_number().over(w))

    counts = (parted.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt")))
    a = counts.select(F.col("__pid"), F.lit(0).alias("__z"))
    b = counts.select(F.col("__pid").alias("__bpid"), F.col("__cnt").alias("__bcnt"))
    # cumulative count of all lower-id partitions; triangular broadcast join
    # keeps this tiny table out of any single-partition exchange
    offsets = (a.join(F.broadcast(b), F.col("__bpid") < F.col("__pid"), "left")
               .groupBy("__pid")
               .agg(F.coalesce(F.sum("__bcnt"), F.lit(0)).alias("__ofs")))

    out = (local.join(F.broadcast(offsets), "__pid")
           .withColumn(id_name,
                       (F.col("__ofs") + F.col("__rn") - 1).cast("long"))
           .drop("__pid", "__rn", "__ofs"))
    return out
