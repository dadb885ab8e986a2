package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.ExplainMode

/** Dev harness: run one or more queries repeatedly in one session, each
  * iteration in its own [[Stage.query]] (the conditions Bench measures
  * under), and print per iteration the wall time and row count next to the
  * JVM-level counters that tell its cost apart: GC time and collections
  * (allocation), whole-stage-codegen compiles and their mean time (Spark's
  * CodegenMetrics source) and heap in use. A spike whose GC delta is close
  * to its wall delta is allocation; one with many compiles is codegen; one
  * with neither is I/O or scheduling. `held` is what stays persistent after
  * the iteration's release: a nonzero count is a query that leaks blocks.
  *
  * Usage: runMain graft.Probe <q1[,q2,...]> <sfDir> [iters] [plansDir]
  * With `plansDir`, each query's `explain("formatted")` is written to
  * `<plansDir>/<query>.txt` after its first iteration. For the
  * streaming-store queries that plan is the final read over the stores: the
  * per-batch jobs run inside `foreachBatch` while the frame is built.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: runMain graft.Probe <q1[,q2,...]> <sfDir> [iters] [plansDir]")
      sys.exit(2)
    }
    val names = args(0).split(',').toSeq
    val sfDir = args(1)
    val iters = if (args.length > 2) args(2).toInt else 3
    val plansDir = args.lift(3).map(Paths.get(_))
    plansDir.foreach(Files.createDirectories(_))
    val spark = GraftSession.local("graft-probe")
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcTimeMs: Long = gcs.map(_.getCollectionTime).sum
    def gcCount: Long = gcs.map(_.getCollectionCount).sum
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def heapMb: Long = {
      val r = Runtime.getRuntime
      (r.totalMemory - r.freeMemory) / (1024 * 1024)
    }
    try names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to iters).foreach { i =>
        val (gct0, gcc0, cgc0) = (gcTimeMs, gcCount, cg.getCount)
        val t0 = System.nanoTime()
        var dt = 0.0
        val n = Stage.query(spark) {
          val df = fn(spark, sfDir)
          val rows = df.count()
          dt = (System.nanoTime() - t0) / 1e9
          if (i == 1) plansDir.foreach { dir =>
            val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
            Files.writeString(dir.resolve(s"$name.txt"), plan)
          }
          rows
        }
        val (heldRdds, heldBytes) = Stage.held(spark)
        println(f"[probe] $name iter $i: wall=$dt%.2f s " +
          f"gc=${(gcTimeMs - gct0) / 1000.0}%.2f s (${gcCount - gcc0} colls) " +
          f"codegenCompiles=${cg.getCount - cgc0} (mean ${cg.getSnapshot.getMean}%.0f ms) " +
          f"heap=$heapMb MB ($n rows) " +
          f"held=$heldRdds RDDs, ${heldBytes / 1e6}%.1f MB")
      }
    } finally spark.stop()
  }
}
