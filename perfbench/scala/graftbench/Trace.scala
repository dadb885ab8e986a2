package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.ExecutionColumns
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so the
  * benchmark's spans and Spark's own (millisecond) event times share a time
  * axis. */
object Clock {
  private val e0 = System.currentTimeMillis()
  private val n0 = System.nanoTime()
  def now: Double = e0 + (System.nanoTime() - n0) / 1e6
}

/** Spans around each call into a graft module. `op` opens an op's root span
  * and tags every Spark job it starts with the op id as job group; `span`
  * nests a child span inside the current op. [[Trace.Off]] runs the same
  * code with nothing recorded. */
trait Trace {
  def op[T](id: String, name: String)(f: => T): T
  def span[T](name: String)(f: => T): T
  def record: Map[String, Any] = Map.empty
}

object Trace {
  object Off extends Trace {
    def op[T](id: String, name: String)(f: => T): T = f
    def span[T](name: String)(f: => T): T = f
  }

  /** Records spans plus Spark's job, stage, task, SQL-execution and
    * planning-phase events; the summariser attributes events to ops by job
    * group, streaming batch id, or the time interval they fall in. */
  final class On(spark: SparkSession) extends Trace {
    private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    private var stack = List.empty[(String, String)] // (op id, span name)
    private val events = new EventLog
    spark.sparkContext.addSparkListener(events)
    spark.listenerManager.register(events)

    def op[T](id: String, name: String)(f: => T): T = {
      val cg0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
      try run(id, name, f, cg0)
      finally spark.sparkContext.clearJobGroup()
    }

    def span[T](name: String)(f: => T): T = run(stack.head._1, name, f, null)

    private def run[T](id: String, name: String, f: => T, cg0: (Long, Long)): T = {
      val parent = stack.headOption.map(_._2).orNull
      stack = (id, name) :: stack
      val start = Clock.now
      try f
      finally {
        val end = Clock.now
        stack = stack.tail
        val codegen =
          if (cg0 == null) Map.empty
          else Map(
            "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._1),
            "codegen_ms" -> (CodeGenerator.compileTime - cg0._2) / 1e6)
        spans += Map("op" -> id, "name" -> name, "parent" -> parent,
          "start" -> start, "end" -> end) ++ codegen
      }
    }

    override def record: Map[String, Any] = {
      org.apache.spark.graftbench.BusDrain(spark.sparkContext)
      Map("spans" -> spans.toList) ++ events.record
    }
  }

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).map(_.getProperty(k)).orNull

  /** Spark-side counters, aggregated per stage so a long run stays small. */
  private final class EventLog extends SparkListener with QueryExecutionListener {
    private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
    private val sqlExecs = new ConcurrentLinkedQueue[(Long, String, Long)]()
    private val execColumns = new ConcurrentLinkedQueue[(Long, List[String])]()
    private val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val tasks = mutable.Map.empty[Int, StageTasks] // listener-bus thread only

    private final class StageTasks {
      var n, runMs, cpuNs, gcMs, deserMs, delayMs = 0L
      var shuffleWrite, shuffleRead, fetchWaitMs, spill, peakMem = 0L
      var inBytes, inRows = 0L
      val durations = mutable.ArrayBuffer.empty[Long]
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Map("job" -> e.jobId, "start" -> e.time,
        "group" -> prop(e.properties, "spark.jobGroup.id"),
        "batch" -> prop(e.properties, MicroBatchExecution.BATCH_ID_KEY),
        "stages" -> e.stageIds.toList))

    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add((e.jobId, e.time))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val s = tasks.getOrElseUpdate(e.stageId, new StageTasks)
      val d = e.taskInfo.duration
      s.n += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.deserMs += m.executorDeserializeTime
      s.delayMs += math.max(0L, d - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime)
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.inBytes += m.inputMetrics.bytesRead
      s.inRows += m.inputMetrics.recordsRead
      s.durations += d
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlExecs.add((s.executionId, "start", s.time))
      case s: SparkListenerSQLExecutionEnd =>
        sqlExecs.add((s.executionId, "end", s.time))
        // the columns its analyzed plan produces name the execution by what
        // it computes, not by when it ran
        execColumns.add((s.executionId, ExecutionColumns(s)))
      case _ =>
    }

    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases.add(qe.tracker.phases.map { case (k, p) =>
        k -> List(p.startTimeMs, p.endTimeMs) })

    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    def record: Map[String, Any] = {
      val ends = jobEnds.asScala.toMap
      val perStage = tasks.map { case (id, s) =>
        val sorted = s.durations.sorted
        Map("stage" -> id, "n" -> s.n, "run_ms" -> s.runMs, "cpu_ms" -> s.cpuNs / 1e6,
          "gc_ms" -> s.gcMs, "deser_ms" -> s.deserMs, "delay_ms" -> s.delayMs,
          "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
          "fetch_wait_ms" -> s.fetchWaitMs, "spill" -> s.spill, "peak_mem" -> s.peakMem,
          "in_bytes" -> s.inBytes, "in_rows" -> s.inRows,
          "max_ms" -> sorted.last, "median_ms" -> sorted(sorted.size / 2))
      }
      val columns = execColumns.asScala.toMap
      val execs = sqlExecs.asScala.groupBy(_._1).map { case (id, es) =>
        Map("id" -> id, "columns" -> columns.getOrElse(id, Nil)) ++ es.map(e => e._2 -> e._3)
      }
      Map(
        "jobs" -> jobs.asScala.map(j => j + ("end" -> ends.getOrElse(j("job").asInstanceOf[Int], 0L))).toList,
        "stages" -> perStage.toList,
        "sql" -> execs.toList,
        "phases" -> phases.asScala.toList)
    }
  }
}
