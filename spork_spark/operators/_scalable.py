"""The engine's one two-pass prefix sum — bare RANK, RANK BY,
sorted-neighborhood positions and the ordered cumulative operators
(equifreq_bins, abc_classes, rfm_segments, shard_plan) all run through
``_two_pass`` below.

Reference design (SURVEY.md §2.1 #18;
pig:src/org/apache/pig/backend/hadoop/executionengine/physicalLayer/
relationalOperators/POCounter.java + PORank.java): the input is staged
with a pinned partition id; pass 1 collects ONE row per partition (the
per-partition sums — bounded driver traffic at any data size); pass 2
adds the exclusive partition offset to a per-partition running sum. No
single-task global window, no billion-row broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Above this many rows, ordered-cumulative operators switch from the
#: single-task global window + broadcast map to the range-partitioned
#: two-pass prefix sum. 100k rows is comfortably inside one window
#: task AND one broadcast.
CARDINALITY_FENCE = 100_000


def _stage(df: DataFrame) -> DataFrame:
    """Add the partition id ``__pid`` and pin it with an eager
    localCheckpoint: the ids (and positions) must be identical in the
    collect pass and the window pass, and recompute (or cache
    eviction, or a re-sampled range exchange — RangePartitioner seeds
    from the RDD id) does not guarantee that. Its blocks free via GC
    with the result's lineage — no CacheManager pin."""
    return (df.withColumn("__pid", F.spark_partition_id())
              .localCheckpoint(eager=True))


def _two_pass(staged: DataFrame, order: list, sums: dict
              ) -> "tuple[DataFrame, int]":
    """For each ``out -> value`` in ``sums``, add ``out`` = sum of
    ``value`` over all rows strictly before the current one in
    (``__pid``, ``order``) order (exclusive; the first row gets 0).
    ``staged`` comes from ``_stage``. Offsets travel back as a
    broadcast-joined DataFrame keyed on ``__pid``, never a create_map
    literal (O(1) expression tree at ~1e5 partitions). Returns the frame
    without ``__pid`` and the number of non-empty partitions."""
    offs = {n: f"__off{i}" for i, n in enumerate(sums)}
    rows = staged.groupBy("__pid").agg(
        *[F.sum(v).alias(offs[n]) for n, v in sums.items()]).collect()
    table, acc = [], dict.fromkeys(sums, 0)
    for r in sorted(rows, key=lambda r: r["__pid"]):
        table.append((r["__pid"], *acc.values()))
        for n in sums:
            acc[n] += r[offs[n]] or 0
    schema = "__pid int, " + ", ".join(f"{o} long" for o in offs.values())
    offdf = staged.sparkSession.createDataFrame(
        table or [(0,) + (0,) * len(sums)], schema)
    w = (Window.partitionBy("__pid").orderBy(*order)
               .rowsBetween(Window.unboundedPreceding, -1))
    out = staged.join(F.broadcast(offdf), on="__pid", how="left")
    for n, v in sums.items():
        out = out.withColumn(n, (F.coalesce(F.sum(v).over(w), F.lit(0))
                                 + F.coalesce(F.col(offs[n]), F.lit(0)))
                             .cast("long"))
    return out.drop("__pid", *offs.values()), len(rows)


def global_row_number(df: DataFrame, out_name: str) -> DataFrame:
    """Prepend ``out_name`` = 1-based row number in ``df``'s partition
    order (partition id, then position within the partition) — bare
    RANK and sorted-neighborhood positions. No global shuffle, no
    1-partition window."""
    mid = "__mid"
    staged = _stage(df.withColumn(mid, F.monotonically_increasing_id()))
    out, _ = _two_pass(staged, [mid], {out_name: F.lit(1)})
    return out.select((F.col(out_name) + 1).alias(out_name), *df.columns)


def exclusive_prefix_sum(df: DataFrame, order: list, sums: dict
                         ) -> "tuple[DataFrame, int]":
    """For each ``out -> value`` Column in ``sums``, add ``out`` = sum
    of ``value`` over all rows STRICTLY before the current row in
    ``order`` (exclusive prefix; first row gets 0). ``order`` must be a
    total order (include a tiebreak column) or the prefix is
    nondeterministic at partition boundaries.

    Shape: one range shuffle on the sort key (no partition count, so
    AQE may coalesce a small input to one partition), one bounded
    driver collect (a row per partition), per-partition windows at full
    parallelism. Returns (frame, number of non-empty partitions).
    """
    return _two_pass(_stage(df.repartitionByRange(*order)), order, sums)
