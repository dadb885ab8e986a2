package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contiguous global IDs (1..n in a given sort order) without a total sort.
  *
  * The naive `ROW_NUMBER() OVER (ORDER BY ...)` collapses the whole corpus
  * into ONE window partition — a single reducer sorting 100 TB. The scale
  * shape (the DataFrame form of RDD zipWithIndex-on-sorted):
  *
  *   1. `repartitionByRange` on the sort key — a balanced shuffle whose
  *      partition boundaries come from sampling, giving disjoint, ordered
  *      key ranges;
  *   2. per-partition counts (<= numPartitions rows, collected like Ivf's
  *      centroids) prefix-summed into per-partition start offsets;
  *   3. a window partitioned BY PARTITION — every partition ranks its own
  *      rows in parallel — plus the broadcast offset.
  *
  * The assigned IDs are invariant to where the sampled boundaries land
  * (any disjoint ordered ranges give the same global order), to AQE
  * coalescing, and to the input's file layout — only the sort key (which
  * must be a total order: break ties explicitly) determines the result.
  *
  * The range exchange is materialized via `localCheckpoint`, NOT
  * `persist`: both consumers (the per-partition counts and the returned
  * plan) read the same materialized blocks, no cache-manager entry is
  * created, and the enclosing [[graft.Stage.query]] scope releases the
  * blocks when the query ends — so composing these operators repeatedly
  * in one query (q173 calls assign per epoch) leaves nothing held. The
  * r10-shipped `persist` had no reachable unpersist: the caller never saw
  * the internal frame, and the returned plan was built on it, so even the
  * operator couldn't release it before the caller's action ran.
  */
object GlobalIds {

  /** Adds `idName` (LONG, 1-based, dense) numbering `df`'s rows in
    * `order`. `order` must be deterministic and total (tie-free). */
  def assign(df: DataFrame, order: Seq[Column], idName: String,
      partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val p =
      if (partitions > 0) partitions else spark.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(p, order: _*)
      // spark_partition_id is nondeterministic-tagged, so Catalyst cannot
      // push this projection below the range exchange
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val offsets = ranged.groupBy("__pid").agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val starts = offsets.scanLeft((0, 0L)) { case ((_, acc), (pid, c)) =>
      (pid, acc + c)
    }.tail.zip(offsets).map { case ((pid, cum), (_, c)) => (pid, cum - c) }
    val offDf = broadcast(starts.toSeq.toDF("__pid", "__off"))
    val w = Window.partitionBy("__pid").orderBy(order: _*)
    ranged.join(offDf, "__pid")
      .withColumn(idName, row_number().over(w).cast("long") + col("__off"))
      .drop("__pid", "__off")
  }

  /** Adds `outName` (LONG): the EXCLUSIVE running sum of `weightCol` in
    * `order` — the weight strictly before each row. Same machinery as
    * [[assign]] with per-partition weight totals for counts; `assign` is
    * this with weight 1 shifted by one. The backbone of equal-budget
    * shard planning: shard = prefix DIV budget is then one map-side
    * expression. `order` must be a total order; weights non-negative. */
  def prefixSum(df: DataFrame, order: Seq[Column], weightCol: String,
      outName: String, partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val p =
      if (partitions > 0) partitions else spark.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(p, order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val totals = ranged.groupBy("__pid")
      .agg(sum(col(weightCol).cast("long")).as("w"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val starts = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, w)) =>
      (pid, acc + w)
    }.tail.zip(totals).map { case ((pid, cum), (_, w)) => (pid, cum - w) }
    val offDf = broadcast(starts.toSeq.toDF("__pid", "__off"))
    val w = Window.partitionBy("__pid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged.join(offDf, "__pid")
      .withColumn(outName,
        coalesce(sum(col(weightCol).cast("long")).over(w), lit(0L)) + col("__off"))
      .drop("__pid", "__off")
  }
}
