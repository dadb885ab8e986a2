package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame

import graft.streaming.Streams.deleteRecursively

/** The one owner of graft's per-JVM staged state: replayable stream
  * sources, per-batch stores, driver-held models and scratch dirs.
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
}
