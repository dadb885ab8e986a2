package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.SessionBridge

import graft.streaming.Streams.deleteRecursively

/** The one owner of graft's per-JVM staged state: replayable stream
  * sources, per-batch stores, driver-held models and scratch dirs, and of
  * the cache and checkpoint blocks each query makes ([[query]]).
  *
  * Everything on disk lives under [[root]], one temp dir created on first
  * use and deleted at JVM exit by the one shutdown hook. Staged values are
  * memoized per (name, sf dir) for the JVM's lifetime, so Bench's untimed
  * attempt 0 pays the build and the timed attempts reuse it.
  */
object Stage {

  lazy val root: Path = {
    val dir = Files.createTempDirectory("graft-stage-")
    sys.addShutdownHook(deleteRecursively(dir))
    dir
  }

  /** A fresh dir under [[root]]. */
  def scratch(prefix: String): Path = Files.createTempDirectory(root, prefix)

  // The map holds only the holder; the build runs outside computeIfAbsent,
  // so a build may stage another key (ivfLayout -> semCentroidsFor) without
  // a recursive update of the map. The holder drops `build` once it ran, so
  // the map keeps no plan or session that the build captured.
  private final class Memo(private var build: () => Any) {
    lazy val value: Any = { val v = build(); build = null; v }
  }
  private val memos = new ConcurrentHashMap[(String, String), Memo]()

  /** `build`'s value, built on the first call per (name, sf dir). A build
    * that throws is not kept; the next call builds again. */
  def once[T](name: String, sfDir: String)(build: => T): T = {
    val key = (name, sfDir)
    val memo = memos.computeIfAbsent(key, _ => new Memo(() => build))
    try memo.value.asInstanceOf[T]
    catch { case e: Throwable => memos.remove(key, memo); throw e }
  }

  /** A parquet copy of `df`, written once per (name, sf dir). */
  def parquet(name: String, sfDir: String)(df: => DataFrame): String =
    once(name, sfDir) {
      val dir = scratch(name).toString
      df.write.mode("overwrite").parquet(dir)
      dir
    }

  /** `rows` staged as `k` single-file batches, written once per (name, sf
    * dir): the replayable arrival stream [[graft.streaming.Streams.replay]]
    * reads one file per micro-batch. `rows`' integer `slot` column names
    * each row's batch (0 until k) and is not staged; a slot computed from
    * row content (a hash of the row key, or an order-sensitive source's
    * own tag) makes batch membership independent of how `rows` was
    * partitioned. Batch b is file `batchNN.parquet` with the b-th of
    * strictly increasing mtimes — the file source orders by mtime, so
    * arrival order is slot order — and an empty slot still writes its
    * empty file, so batch id equals slot. */
  def batches(name: String, sfDir: String, k: Int)(rows: => DataFrame): String =
    once(name, sfDir) {
      val dir = scratch(name)
      val tagged = rows.persist()
      try (0 until k).foreach { b =>
        val tmp = scratch(s"$name-tmp-")
        tagged.filter(col("slot") === b).drop("slot")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"Stage.batches: no part file for batch $b"))
        val target = dir.resolve(f"batch$b%02d.parquet")
        Files.move(part.toPath, target)
        // Files.setLastModifiedTime throws where File.setLastModified
        // returns false: a filesystem that rejects mtime writes fails the
        // staging loudly instead of replaying batches out of order
        Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime.fromMillis(1000000L * (b + 1)))
        deleteRecursively(tmp)
      }
      finally tagged.unpersist(blocking = false)
      dir.toString
    }

  /** The per-(name, sf dir) store dir, emptied on every call: each run
    * starts from an empty store and no run leaves a new dir behind. */
  def cleared(name: String, sfDir: String): Path = {
    val dir = once(name, sfDir)(scratch(name))
    Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .foreach(f => deleteRecursively(f.toPath))
    dir
  }

  /** The store dir an earlier [[cleared]] call made in this JVM, as it was
    * left, without creating or emptying it. */
  def existing(name: String, sfDir: String): Option[Path] =
    Option(memos.get((name, sfDir))).map(_.value).collect { case p: Path => p }

  /** Runs `action` as one query and then releases every block it made: the
    * session's cached frames (`clearCache`) and every RDD that became
    * persistent inside the scope, `localCheckpoint` blocks included,
    * unpersisted blocking. The release runs also when `action` throws.
    * Reading a released checkpoint-backed frame afterwards fails with
    * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`; it never returns wrong rows.
    *
    * Two conditions hold it sound. One query runs at a time per
    * SparkContext, as in every harness main; a concurrent query's blocks
    * would be released too. And a [[once]] value outlives the scope that
    * built it, so it is a path or a driver-side value, never a frame
    * backed by cached or checkpointed blocks.
    */
  def query[T](spark: SparkSession)(action: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try action
    finally {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before(id)) SessionBridge.unpersist(rdd)
      }
    }
  }

  /** (RDDs, bytes in memory and on disk) the context holds persistent. */
  def held(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }
}
