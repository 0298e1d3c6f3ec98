"""Distributed global row numbering — the arithmetic replacement for
``Window.orderBy(...)`` with no partition spec (VERDICT r8 task 2).

An empty-partition window funnels the whole relation through ONE task:
the classic global-sort scale-killer. The equivalent at any scale is
the ordered-export arithmetic (export.py, shards.py): range-partition
on the sort key so partition i holds keys strictly below partition
i+1's, rank LOCALLY inside each partition (parallel — the window
partitions by ``spark_partition_id()``), and add each partition's
global offset = the cumulative row count of the partitions before it.
The per-partition counts are one bounded driver-side collect
(``num_partitions`` rows, never corpus rows) broadcast back as a
literal relation, so the plan carries no SinglePartition exchange
(asserted in tests/test_plans.py for every consumer).

Correctness does not depend on where the range boundaries fall as long
as the order key is TOTAL (unique per row): ranges are disjoint and
ordered, so offset + local rank reproduces the exact global rank a
single-task ROW_NUMBER would assign — which is what the DuckDB oracles
pin. The ranged relation is CHECKPOINTED, not merely persisted
(ADVICE r9): ``repartitionByRange`` boundaries come from sampling whose
result depends on upstream row order, so a persist-only pin that lost a
cache block (executor failure) would RECOMPUTE that partition under
freshly-sampled boundaries and silently mis-number rows against the
oracle. The checkpoint truncates lineage, so there is nothing to
recompute from and a lost block fails the job loudly instead. It is a
``pins.pin_lazy`` pin, freed by the caller's ``release_shared_pins``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_spark.pins import pin_lazy

GLOBAL_ORDER_PARTITIONS = 32


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    pos_col: str,
    num_partitions: int = GLOBAL_ORDER_PARTITIONS,
) -> DataFrame:
    """``df`` + a BIGINT ``pos_col`` = 1-based global row number under
    ``ORDER BY order_cols`` — computed without a single-partition sort.
    ``order_cols`` must be a total order (unique per row); ties would
    otherwise break by physical placement, which no oracle can pin."""
    # lazy checkpoint: materialized by the counts job below, read
    # back (never recomputed — lineage is gone) by the final plan. See
    # module docstring for why persist alone is not enough here.
    ranged = (
        df.repartitionByRange(num_partitions, *order_cols)
        .withColumn("_gpid", F.spark_partition_id())
        .transform(pin_lazy)
    )
    counts = {
        r["_gpid"]: r["cnt"]
        for r in ranged.groupBy("_gpid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off = F.broadcast(
        ranged.sparkSession.createDataFrame(offsets, "_gpid int, _goff long")
    )
    w_local = Window.partitionBy("_gpid").orderBy(*order_cols)
    return (
        ranged.join(off, "_gpid")
        .withColumn(
            pos_col,
            (F.row_number().over(w_local) + F.col("_goff")).cast("bigint"),
        )
        .drop("_gpid", "_goff")
    )
