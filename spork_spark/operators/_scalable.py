"""Range-partitioned exclusive prefix sum — the scale path for ordered
cumulative aggregates whose input cardinality can approach row
cardinality (rfm_segments' frequency/monetary score maps, abc_classes'
key ranking).

Same two-pass design as the engine's RANK implementation
(global_row_number below; reference analog
pig:src/org/apache/pig/backend/hadoop/executionengine/physicalLayer/
relationalOperators/POCounter.java + PORank.java): pass 1 range-
partitions the input on the sort order and collects ONE row per
partition (the per-partition sum — bounded driver traffic at any data
size); pass 2 adds the exclusive partition offset to a per-partition
running sum. No single-task global window, no billion-row broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Above this many rows, ordered-cumulative operators switch from the
#: single-task global window + broadcast map to the range-partitioned
#: two-pass prefix sum. 100k rows is comfortably inside one window
#: task AND one broadcast; overridable per-session for tests and
#: tuning via ``spark.spork.prefixSum.cardinalityFence``.
DEFAULT_CARDINALITY_FENCE = 100_000


def cardinality_fence(spark) -> int:
    try:
        return int(spark.conf.get("spark.spork.prefixSum.cardinalityFence",
                                  str(DEFAULT_CARDINALITY_FENCE)))
    except Exception:
        return DEFAULT_CARDINALITY_FENCE


def partition_offsets(staged: DataFrame, aggs: dict, pid: str = "__pid"
                      ) -> "tuple[DataFrame, int]":
    """Exclusive per-partition prefix offsets — the shared core of every
    two-pass POCounter/PORank-style operator in the engine (bare RANK's
    row numbers and RANK BY's rank/dense offsets in compiler/plan.py,
    sorted-neighborhood positions in operators/dedup.py, and
    exclusive_prefix_sum below).

    ``staged`` must already carry a pinned partition id column ``pid``
    (spark_partition_id over an eager localCheckpoint — recompute does
    not guarantee identical ids). ``aggs`` maps
    offset-column name -> per-partition aggregate Column; for each, the
    returned frame holds the running total of all LOWER partition ids
    (exclusive). Driver traffic is one row per partition at any data
    size; offsets travel back as a broadcast-joinable DataFrame keyed on
    ``pid``, never a create_map literal (O(1) expression tree at ~1e5
    partitions). Returns (offsets_df, n_partitions).
    """
    names = list(aggs)
    rows = staged.groupBy(pid).agg(
        *[c.alias(n) for n, c in aggs.items()]).collect()
    offs, acc = [], dict.fromkeys(names, 0)
    for r in sorted(rows, key=lambda r: r[pid]):
        offs.append((r[pid], *[acc[n] for n in names]))
        for n in names:
            acc[n] += (r[n] or 0)
    schema = f"{pid} int, " + ", ".join(f"{n} long" for n in names)
    offdf = staged.sparkSession.createDataFrame(
        offs or [(0,) + (0,) * len(names)], schema)
    return offdf, len(rows)


def global_row_number(df: DataFrame, out_name: str) -> DataFrame:
    """Prepend ``out_name`` = 1-based row number in ``df``'s partition
    order (partition id, then position within the partition) — bare
    RANK and sorted-neighborhood positions. Reference design
    (POCounter/PORank, SURVEY.md §2.1 #18): pass 1 counts rows per
    partition (one row per partition at the driver); pass 2 adds the
    prefix-sum offset to a per-partition row_number. No global shuffle,
    no 1-partition window.

    The eager localCheckpoint pins the staged partition id and position:
    they must be identical in the count pass and the join pass, and
    recompute (or cache eviction) does not guarantee that. Its blocks
    free via GC with the result's lineage — no CacheManager pin.
    """
    pid, mid = "__pid", "__mid"
    staged = (df.withColumn(pid, F.spark_partition_id())
                .withColumn(mid, F.monotonically_increasing_id())
                .localCheckpoint(eager=True))
    offdf, _ = partition_offsets(staged, {"__off": F.count(F.lit(1))},
                                 pid=pid)
    w = Window.partitionBy(pid).orderBy(mid)
    return (staged.join(F.broadcast(offdf), on=pid, how="left")
                  .withColumn(out_name,
                              (F.row_number().over(w)
                               + F.coalesce(F.col("__off"), F.lit(0)))
                              .cast("long"))
                  .select(out_name, *df.columns))


def exclusive_prefix_sum(df: DataFrame, order: list, value_col: str,
                         out_col: str,
                         num_partitions: int | None = None) -> DataFrame:
    """Add ``out_col`` = sum of ``value_col`` over all rows STRICTLY
    before the current row in ``order`` (exclusive prefix; first row
    gets 0). ``order`` must be a total order (include a tiebreak
    column) or the prefix is nondeterministic at partition boundaries.

    Shape: one range shuffle on the sort key, one bounded driver
    collect (a row per partition), per-partition windows at full
    parallelism. The eager localCheckpoint pins partition ids between
    the count pass and the window pass (recompute does not guarantee
    identical ids — the same discipline as global_row_number).
    """
    spark = df.sparkSession
    if num_partitions:
        n = num_partitions
    else:
        # 'spark.sql.shuffle.partitions' may be non-numeric on some
        # platforms (e.g. 'auto' under external shuffle services) —
        # same guarded parse as cardinality_fence().
        try:
            n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        except Exception:
            n = 32
    staged = (df.repartitionByRange(n, *order)
                .withColumn("__pid", F.spark_partition_id())
                .localCheckpoint(eager=True))
    offdf, _ = partition_offsets(staged, {"__off": F.sum(F.col(value_col))})
    w = (Window.partitionBy("__pid").orderBy(*order)
               .rowsBetween(Window.unboundedPreceding, -1))
    return (staged.join(F.broadcast(offdf), on="__pid", how="left")
                  .withColumn(out_col,
                              (F.coalesce(F.sum(value_col).over(w),
                                          F.lit(0))
                               + F.coalesce(F.col("__off"), F.lit(0)))
                              .cast("long"))
                  .drop("__pid", "__off"))
