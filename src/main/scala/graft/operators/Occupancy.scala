package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The occupancy-cap guard every candidate-generation stage applies before
  * a pair-expanding join: drop rows whose key group exceeds `max` members,
  * so join fan-out per group is bounded at max² no matter how skewed the
  * data (a constant-text cluster, a hot LSH bucket, a stopword-class gram).
  * One shared implementation so cap/persist semantics stay consistent
  * across the dedup/similarity family.
  */
object Occupancy {

  /** Filter out over-occupied key groups. Set `persistResult` when the
    * result feeds BOTH sides of a self-join — the window count would
    * otherwise run once per side; the caller's [[graft.Stage.query]]
    * releases the cache at query end. */
  def cap(df: DataFrame, keys: Seq[String], max: Int,
          persistResult: Boolean = false): DataFrame = {
    val out =
      if (max == Int.MaxValue) df // no window, no filter
      else df
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
        .filter(col("__n") <= max)
        .drop("__n")
    if (persistResult) out.persist() else out
  }
}
