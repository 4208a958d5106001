"""Distributed global ranking — the scale path for total-order indexes.

A plain `row_number() OVER (ORDER BY ...)` is a SINGLE-partition window:
every row funnels through one task — the classic scale-killer that is
invisible at sf0.01 and fatal at 100 TB. The standard two-pass fix
(Spark's own `zipWithIndex` shape, lifted to the DataFrame layer):

  1. `repartitionByRange` on the order key — partition p holds a
     contiguous key range, ranges ordered by p;
  2. rank locally within each partition (parallel windows);
  3. collect ONE count per partition (bounded by the partition count,
     never the data — the same driver-metadata budget as a bloom
     bitset) and add the exclusive prefix-sum offset of each partition.

Correctness requires a TOTAL order (a tiebreak column): with no ties,
any contiguous range split preserves global order, so the result equals
the single-partition window's ranks exactly — asserted by test on the
real corpus (tests/test_operators.py) regardless of where the sampled
range boundaries land.

Reference scope note: the reference engine (SURVEY.md §2) never ranks;
this underpins the sorted-neighborhood dedup family (Hernandez-Stolfo
SNM), equi-depth profiling, and any ORDER-BY-layout write path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from posting_lines_spark.operators.cuts import cut


def _range_prefix(
    df: DataFrame,
    order_cols: list[str | Column],
    num_partitions: int | None,
    aggs: dict[str, Column],
    fold: Callable,
    init: int | None,
) -> tuple[DataFrame, WindowSpec, dict[str, Column]]:
    """The two-pass range-partition trick every global prefix shares:
    range-partition `df` on `order_cols` (tagging each row with `_pid`),
    collect ONE row of `aggs` per partition (bounded by the partition
    count; the sanctioned metadata collect), fold them on the driver into
    each partition's exclusive prefix (`init` for the first partition,
    then `fold(acc, value)`), and return (partitioned frame, the window
    ordering each partition, {name: the partition's prefix as a
    column}). The caller combines a local window value with its prefix
    and drops `_pid`."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    # pin: the aggregate job and the caller's window job must see the
    # SAME range boundaries (RangePartitioner re-samples per execution —
    # two runs can split ties at different boundaries and skew every
    # downstream offset)
    rp = cut(df.repartitionByRange(n, *cols).withColumn("_pid", F.spark_partition_id()))
    rows = rp.groupBy("_pid").agg(*[a.alias(k) for k, a in aggs.items()]).collect()
    offsets: dict[str, list] = {k: [] for k in aggs}
    acc = dict.fromkeys(aggs, init)
    for r in sorted(rows, key=lambda r: r._pid):
        for k in aggs:
            offsets[k] += [r._pid, acc[k]]
            acc[k] = fold(acc[k], r[k])
    prefix = {
        k: F.element_at(F.create_map(*[F.lit(v) for v in kv]), F.col("_pid"))
        for k, kv in offsets.items()
    }
    return rp, Window.partitionBy("_pid").orderBy(*cols), prefix


def _add(acc: int, v: int | None) -> int:
    return acc + (v or 0)


def _max(acc: int | None, v: int | None) -> int | None:
    return v if acc is None or (v is not None and v > acc) else acc


def global_row_number(
    df: DataFrame,
    order_cols: list[str | Column],
    out_col: str = "rnk",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global row numbers over `order_cols` without a
    single-partition window. `order_cols` must be a total order (include
    a unique tiebreak column — with ties the boundary split would be
    arbitrary). Adds `out_col`; preserves all input columns."""
    rp, w, prefix = _range_prefix(
        df, order_cols, num_partitions, {"cnt": F.count(F.lit(1))}, _add, 0
    )
    return (
        rp.withColumn(out_col, (F.row_number().over(w) + prefix["cnt"]).cast("bigint"))
        .drop("_pid")
    )


def global_running_sums(
    df: DataFrame,
    order_cols: list[str | Column],
    sum_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global cumulative sums of `sum_cols` in `order_cols` order
    without a single-partition window — the ECDF/prefix-sum shape (same
    two-pass range-partition trick as global_row_number: local window
    cumsum + per-partition exclusive-prefix offsets collected once,
    bounded by the partition count). `order_cols` must be a total order.
    Sum columns must be integral (exact, order-free addition). NULLs in
    sum columns count as 0 — both the per-partition window sum and the
    partition totals coalesce to 0, so a NULL never silently skews
    `run_<col>` (a leading-NULL window sum would otherwise be NULL while
    the driver offsets coerced NULL totals to 0, desynchronizing the
    two). Adds `run_<col>` for each sum col; preserves all input
    columns."""
    val = {c: F.coalesce(F.col(c), F.lit(0)) for c in sum_cols}
    rp, w, prefix = _range_prefix(
        df, order_cols, num_partitions,
        {c: F.sum(v).cast("bigint") for c, v in val.items()}, _add, 0,
    )
    w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return rp.withColumns(
        {f"run_{c}": (F.sum(v).over(w) + prefix[c]).cast("bigint") for c, v in val.items()}
    ).drop("_pid")


def global_running_max(
    df: DataFrame,
    order_cols: list[str | Column],
    max_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running MAX of `max_cols` in `order_cols` order
    without a single-partition window — the watermark/high-water-mark
    shape, same two-pass range-partition trick as global_running_sums:
    a per-partition window max plus per-partition exclusive PREFIX
    MAXIMA collected once (bounded by the partition count). The offset
    for the first partition is NULL and `greatest` skips NULLs, so no
    sentinel minimum is needed. `order_cols` must be a total order;
    max columns must be integral (BIGINT). NULL values never become the
    max (greatest skips them); an all-NULL prefix yields NULL, matching
    a single-partition window max. Adds `runmax_<col>` per max col."""
    rp, w, prefix = _range_prefix(
        df, order_cols, num_partitions,
        {c: F.max(F.col(c)).cast("bigint") for c in max_cols}, _max, None,
    )
    w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return rp.withColumns(
        {
            f"runmax_{c}": F.greatest(F.max(F.col(c)).over(w), prefix[c]).cast("bigint")
            for c in max_cols
        }
    ).drop("_pid")
