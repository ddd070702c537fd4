package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Lineage, LocalTable}

/** Globally-ordered window functions WITHOUT a single-partition Exchange.
  *
  * `Window.orderBy(...)` with no partitionBy moves every row through one
  * task — a driver-of-one bottleneck at scale. This helper implements the
  * classic two-pass alternative: range-repartition on the sort keys, run
  * the window locally per partition, then add per-partition offsets
  * (row counts for row_number/rank, distinct-key counts for dense_rank)
  * collected in one tiny aggregate (≤ numShufflePartitions rows) and
  * broadcast back.
  *
  * Correctness leans on two RangePartitioner guarantees: partitions are
  * ordered, and rows with EQUAL sort keys land in the SAME partition — so
  * a rank tie-group never spans a partition boundary and local rank +
  * row offset is the global rank. The stats pass and the output pass both
  * re-execute the range exchange; RangePartitioner's sampling is
  * deterministically seeded, so both executions agree on boundaries.
  */
object GlobalOrder {

  private val PID = "__go_pid"

  /** Result of [[withRanks]]: the ranked frame plus the total row count
    * (already known from the stats pass — callers needing ntile use it
    * without a second count job). */
  final case class Ranked(df: DataFrame, totalRows: Long)

  /** Adds global `rnCol` (row_number), `rnkCol` (rank) and `drnkCol`
    * (dense_rank) over `sortExprs`. `tieCols` are the plain columns whose
    * equal tuples define rank ties (i.e. the sort-key columns). Output
    * rank columns are LongType.
    *
    * The range-partitioned frame is materialized once through
    * [[graft.Lineage.cut]]: executor-local blocks by default; durable
    * cuts come from setting `spark.checkpoint.dir` on the session. */
  def withRanks(df: DataFrame, sortExprs: Seq[Column], tieCols: Seq[Column],
      rnCol: String = "rn", rnkCol: String = "rnk",
      drnkCol: String = "drnk"): Ranked = {
    val spark = df.sparkSession
    // the stats pass and the output pass both need the range-partitioned
    // frame; materializing it once halves the exchanges
    val parts = Lineage.cut(df.repartitionByRange(sortExprs: _*)
      .withColumn(PID, spark_partition_id()))
    val stats = parts.groupBy(col(PID))
      .agg(count(lit(1)).as("cnt"),
        count_distinct(struct(tieCols: _*)).as("dcnt"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val totalRows = stats.map(_._2).sum
    var rowOff = 0L
    var denseOff = 0L
    val offRows = stats.map { case (pid, cnt, dcnt) =>
      val r = Row(pid, rowOff, denseOff)
      rowOff += cnt
      denseOff += dcnt
      r
    }
    val offDf = broadcast(LocalTable.of(spark,
      StructType(Seq(
        StructField(PID, IntegerType),
        StructField("__go_roff", LongType),
        StructField("__go_doff", LongType))),
      offRows.toIndexedSeq))
    val w = Window.partitionBy(col(PID)).orderBy(sortExprs: _*)
    val ranked = parts
      .withColumn("__go_lrn", row_number().over(w))
      .withColumn("__go_lrk", rank().over(w))
      .withColumn("__go_ldr", dense_rank().over(w))
      .join(offDf, PID)
      .withColumn(rnCol, col("__go_lrn") + col("__go_roff"))
      .withColumn(rnkCol, col("__go_lrk") + col("__go_roff"))
      .withColumn(drnkCol, col("__go_ldr") + col("__go_doff"))
      .drop(PID, "__go_lrn", "__go_lrk", "__go_ldr", "__go_roff", "__go_doff")
    Ranked(ranked, totalRows)
  }

  /** Result of [[withPrefixSum]]: the frame with the running total plus
    * the grand total (known from the stats pass — callers sizing a budget
    * against the whole corpus use it without a second pass). */
  final case class Summed(df: DataFrame, grandTotal: Long)

  /** Global running SUM of `valueCol` over `sortExprs` WITHOUT a
    * single-partition window — the same two-pass range-partition trick as
    * [[withRanks]], with per-partition VALUE sums as the offsets: range-
    * repartition on the sort keys, cumulative-sum locally per partition
    * (explicit ROWS frame), then add each partition's exclusive prefix of
    * the per-partition totals, collected in one ≤ numShufflePartitions-row
    * aggregate and broadcast back.
    *
    * `sortExprs` MUST be a total order (include a unique tiebreak column):
    * with duplicate sort keys a running sum is not well-defined row-by-row
    * (SQL's default RANGE frame would give every tie the whole tie-group's
    * sum, and a ROWS frame would be nondeterministic within ties).
    * `valueCol` must be integral (LongType accumulation — exact, no float
    * summation-order concerns at any scale). Materialization is
    * [[withRanks]]'s: durable cuts come from setting
    * `spark.checkpoint.dir` on the session. */
  def withPrefixSum(df: DataFrame, valueCol: Column, sortExprs: Seq[Column],
      outCol: String = "cumsum"): Summed = {
    val spark = df.sparkSession
    val parts = Lineage.cut(df.repartitionByRange(sortExprs: _*)
      .withColumn(PID, spark_partition_id())
      .withColumn("__go_v", valueCol.cast(LongType)))
    val stats = parts.groupBy(col(PID))
      .agg(sum(col("__go_v")).as("vsum"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val grandTotal = stats.map(_._2).sum
    var off = 0L
    val offRows = stats.map { case (pid, vsum) =>
      val r = Row(pid, off)
      off += vsum
      r
    }
    val offDf = broadcast(LocalTable.of(spark,
      StructType(Seq(
        StructField(PID, IntegerType),
        StructField("__go_voff", LongType))),
      offRows.toIndexedSeq))
    val w = Window.partitionBy(col(PID)).orderBy(sortExprs: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val summed = parts
      .withColumn("__go_lcs", sum(col("__go_v")).over(w))
      .join(offDf, PID)
      .withColumn(outCol, col("__go_lcs") + col("__go_voff"))
      .drop(PID, "__go_v", "__go_lcs", "__go_voff")
    Summed(summed, grandTotal)
  }

  /** Exact SQL NTILE(n) from a global row_number and the (driver-known)
    * total row count: the first `N mod n` tiles get `ceil(N/n)` rows, the
    * rest `floor(N/n)`. */
  def ntileFromRowNumber(rn: Column, n: Int, totalRows: Long): Column = {
    val small = totalRows / n
    val bigTiles = totalRows % n
    val bigSpan = bigTiles * (small + 1)
    when(lit(small) === 0 || rn <= bigSpan,
      floor((rn - 1) / (small + 1)) + 1)
      .otherwise(lit(bigTiles) + floor((rn - 1 - bigSpan) / lit(small)) + 1)
  }

  /** Global lead(expr, 1) given a global row_number: self-join on rn+1 —
    * one balanced shuffle on rn, no window, no partition-boundary cases. */
  def leadByRowNumber(df: DataFrame, rnCol: String, srcCol: String,
      outCol: String): DataFrame = {
    val next = df.select((col(rnCol) - 1).as("__go_rn_prev"),
      col(srcCol).as(outCol))
    df.join(next, col(rnCol) === col("__go_rn_prev"), "left")
      .drop("__go_rn_prev")
  }
}
