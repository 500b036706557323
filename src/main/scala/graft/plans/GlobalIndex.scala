package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Distributed dense global row index — the scale-safe replacement for
  * `row_number() OVER (ORDER BY …)` with no PARTITION BY, which funnels
  * every row through a single task (the one non-distributed stage the
  * round-1 plan audit flagged in the flagship pipeline, `j1_zip_join`,
  * and `w3_ntile_rank`).
  *
  * The zipWithIndex pattern, kept declarative and positional:
  *
  *  1. `repartitionByRange(n, key)` with `n` = the session's
  *     `spark.sql.shuffle.partitions`, then `sortWithinPartitions(key)`.
  *     `key` is `order` followed by every column of the input. Partitions
  *     are globally ordered and equal keys land in one partition
  *     (RangePartitioner is a pure function of the key).
  *  2. per-partition counts → cumulative offsets. This frame has ONE ROW
  *     PER PARTITION, so the cumulative-sum window over it is
  *     metadata-scale — the same driver-visible state `RDD.zipWithIndex`
  *     collects, minus the eager job.
  *  3. broadcast-join the offsets back; the row's position in its sorted
  *     partition (`monotonically_increasing_id` minus its partition-id
  *     high bits) plus the partition's offset is the global index.
  *
  * The input is shuffled once: both branches read the same range exchange
  * (ReuseExchange), and everything above it — the in-partition sort, the
  * position, the offset join and whatever the caller stacks on the result
  * — runs in `n` parallel tasks. Two things keep that one layout:
  *  - the count is explicit, which makes the exchange a REPARTITION_BY_NUM
  *    shuffle that AQE never coalesces. A coalesced read could merge range
  *    partitions differently for the offsets and for the positions,
  *    splitting the layout the two branches share;
  *  - every column is part of the key, so column pruning cannot give the
  *    offsets branch a narrower copy of the exchange than the main branch.
  *    Two exchanges would each sample their own range bounds. The extra
  *    key columns are compared only on ties of `order`, and they must be
  *    orderable types.
  *
  * Because the key covers every column, rows it ties are fully identical —
  * thus interchangeable — so the index is deterministic for any `order`;
  * it is the rank in `order` with ties broken by the columns in turn.
  */
object GlobalIndex {

  private val Pid = "__gi_pid"
  private val Pos = "__gi_pos"
  private val Cnt = "__gi_cnt"
  private val Off = "__gi_off"

  /** Adds `out` = 0-based dense rank of the row in the total order `order`. */
  def withRowIndex(df: DataFrame, order: Seq[Column], out: String): DataFrame = {
    val n = df.sparkSession.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt
    // Every column joins the key, so both branches read ONE exchange.
    val key = order ++ df.columns.map(c => df.col(s"`$c`"))
    val ranged = df.repartitionByRange(n, key: _*)
    val offsets = ranged.withColumn(Pid, spark_partition_id())
      .groupBy(Pid).agg(count(lit(1)).as(Cnt))
      .withColumn(Off,
        coalesce(sum(Cnt).over(Window.orderBy(Pid)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop(Cnt)
    ranged.sortWithinPartitions(key: _*)
      .withColumn(Pid, spark_partition_id())
      .withColumn(Pos,
        monotonically_increasing_id() - shiftleft(col(Pid).cast("long"), 33))
      .join(broadcast(offsets), Pid)
      .withColumn(out, col(Pos) + col(Off))
      .drop(Pid, Pos, Off)
  }

  /** Total row count as a 1-row frame, for broadcast into rank arithmetic. */
  def withTotalCount(df: DataFrame, out: String): DataFrame =
    df.crossJoin(broadcast(df.groupBy().agg(count(lit(1)).as(out))))
}
