package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge

/** The round scope every iterative operator (CC, HITS, PageRank, PPR,
  * LPA, k-core, successor doubling) and the per-batch store pipelines run
  * in: a PRIVATE session clone whose `spark.sql.shuffle.partitions` is
  * the width the measured input warrants, never above the caller's.
  *
  * Why a clone: Catalyst sizes EVERY exchange it inserts (aggregation
  * shuffles, EnsureRequirements repartitions) and every
  * `repartition(cols*)` from the session conf, so a narrow session conf
  * narrows the agg shuffles, the per-round `localCheckpoint`s and the
  * re-scan stages together, with each partial aggregate still map-side
  * (combine preserved). A 6-round CC on an 8k-edge graph schedules ~10
  * tasks per round instead of ~130. Narrowing the shared conf around the
  * rounds (r11) was racy under concurrent queries on the caller's
  * session; an in-plan `repartition(w, …)` (r12) narrowed only the
  * exchanges it spelled out and pushed the partial aggregates after them
  * (measured 1.5–2.5× slower across the iterative family at sf0.1). AQE
  * cannot do it either: `coalescePartitions.parallelismFirst` (default
  * true) refuses to coalesce below `defaultParallelism`. At 10⁹ edges
  * the width formula gives ~500 partitions, the width a cluster wants.
  *
  * `SessionBridge.cloneSession` shares the SparkContext, the CacheManager
  * and all executors, and copies the caller's runtime SQLConf, so the
  * clone inherits `GraftSession.tune`'s pins and any caller override
  * verbatim; conf changes made on it are invisible to the caller.
  *
  * Inputs cross into the clone as eager `localCheckpoint`s: a
  * checkpoint-backed LogicalRDD is a plain block scan valid in any
  * session of the context, whereas cache substitution is plan matching
  * against the shared CacheManager, which a rebound plan does not
  * reliably hit (a miss re-ran the whole upstream candidate-pair pipeline
  * 2–4× inside CC's round 0). Checkpoint blocks are not in the
  * CacheManager, so `unpersist` releases nothing; the ContextCleaner
  * frees them once unreferenced. Results leave through [[back]], so no
  * clone-bound frame reaches the caller.
  */
object Rounds {

  /** Rows per round partition behind [[width]]. */
  private val RowsPerPartition = 2000000L

  /** Round width for `rows` measured rows: ~2M rows per partition, at
    * least 1, never above `callerWidth`. */
  private[graft] def width(callerWidth: Int, rows: Long): Int =
    clamp(callerWidth, rows / RowsPerPartition + 1L)

  private def clamp(callerWidth: Int, want: Long): Int =
    math.max(1L, math.min(callerWidth.toLong, want)).toInt

  private def callerWidth(caller: SparkSession): Int =
    caller.conf.get("spark.sql.shuffle.partitions").toInt

  /** A private clone of `caller` whose shuffle width is `partitions`
    * clamped to [1, caller's width]. For pipelines that measure their
    * own input (the store width of `TextDedupPack`); row-measured rounds
    * enter through [[narrowed]]. */
  private[graft] def scope(caller: SparkSession, partitions: Long): SparkSession = {
    val s2 = SessionBridge.cloneSession(caller)
    s2.conf.set("spark.sql.shuffle.partitions",
      clamp(callerWidth(caller), partitions).toString)
    s2
  }

  /** Enter a round scope: `df` eagerly `localCheckpoint`ed at the
    * caller's width, with its row count from that same job (an
    * `Observation` rides the materialization; a `count()` would be two
    * more jobs), rebound to a fresh [[scope]] at [[width]] of that
    * count. Frames derived from the result plan in the clone. */
  private[graft] def narrowed(df: DataFrame): (DataFrame, Long) = {
    val rows = Observation()
    val chk = df.observe(rows, count(lit(1)).as("n")).localCheckpoint()
    val n = rows.get("n").asInstanceOf[Long]
    (SessionBridge.rebind(chk, scope(df.sparkSession, n / RowsPerPartition + 1L)), n)
  }

  /** Re-size the clone `round` is bound to for `rows` surviving rows —
    * the per-round step of an operator whose input contracts (CC). */
  private[graft] def resize(round: DataFrame, caller: SparkSession, rows: Long): Unit = {
    require(round.sparkSession ne caller, "resize applies to a round scope, not the caller")
    round.sparkSession.conf.set("spark.sql.shuffle.partitions",
      width(callerWidth(caller), rows).toString)
  }

  /** Leave a round scope: `result` rebound to the caller's session. */
  private[graft] def back(result: DataFrame, caller: SparkSession): DataFrame =
    SessionBridge.rebind(result, caller)
}
