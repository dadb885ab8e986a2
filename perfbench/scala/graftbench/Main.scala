package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.{GraftSession, SparkEntry, Tables}
import graft.etl.Etl
import graft.sinks.Sinks
import graft.sources.KafkaWire
import graft.streaming.Streams

/** One stream event as handed to the `MemoryStream`. */
final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                    event_type: String, value: Double, props: String)

/** JVM side of one benchmark run: `Main <config.json>`.
  *
  * Reads the inputs `run.py` generated into the work directory, builds the
  * session through `GraftSession.local`, drives one workload through graft's
  * public module functions, and writes raw observations (op timings, answers
  * to check, optional trace events) to the config's `out` file. All metrics
  * and correctness verdicts are computed from that file by `run.py`.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readValue(new File(args(0)), classOf[Map[String, Any]])
    def num(k: String): Double = cfg(k).toString.toDouble
    val work = cfg("work").toString
    val cores = num("cores").toInt
    val calibStart = calibrate()
    val t0 = Clock.now
    val spark = GraftSession.local("graftbench", cores)
    val sessionBuildS = (Clock.now - t0) / 1000
    val trace: Trace = if (cfg("trace") == true) new Trace.On(spark) else Trace.Off
    val seconds = num("seconds")
    val result = cfg("workload") match {
      case "etl_ingest" => etlIngest(spark, trace, work, seconds, cores,
        num("slices").toInt, num("per_slice").toLong, num("warmup").toInt)
      case "query_mix" => queryMix(spark, trace, work, seconds,
        cfg("queries").asInstanceOf[Seq[String]])
      case "stream_ingest" => streamIngest(spark, work,
        num("period_ms"), num("warmup").toInt, num("trigger_ms").toLong)
    }
    val peakRss = rssMb("VmHWM")
    val (rssAfterGc, liveHeap) = afterFullGc()
    val calibEnd = calibrate()
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.codegen.useIdInClassName",
      "spark.sql.artifact.isolation.enabled",
      "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst")
      .map(k => k -> spark.conf.getOption(k).orNull).toMap
    val out = result ++ Map(
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_build_s" -> sessionBuildS,
      "calib_s" -> List(calibStart, calibEnd),
      "spark_version" -> spark.version,
      "confs" -> confs,
      "peak_rss_mb" -> peakRss,
      "rss_after_gc_mb" -> rssAfterGc,
      "live_heap_mb" -> liveHeap,
      "trace" -> trace.record)
    Files.writeString(Paths.get(cfg("out").toString), mapper.writeValueAsString(out))
    spark.stop()
  }

  /** Fixed CPU-only loop, timed, to show host drift between runs. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var h = 1469598103934665603L
    var i = 0
    while (i < 400000000) { h = (h ^ i) * 1099511628211L; i += 1 }
    if (h == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** A resident-memory figure of this JVM from /proc/self/status, in MB:
    * `VmHWM` (the high-water mark) or `VmRSS` (now). */
  def rssMb(field: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  /** (resident MB, heap MB in use) after full collections, once the timed
    * work is over: what the program holds, without the garbage whose
    * high-water mark depends on when the collector ran. Spark's context
    * cleaner drops unreferenced broadcast and shuffle blocks only after a
    * collection, on its own thread, so collect until the heap in use settles
    * (at most six rounds). G1 gives the freed heap back to the OS. */
  def afterFullGc(): (Double, Double) = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      Thread.sleep(200)
      bean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var used = collect()
    var rounds = 2
    while (rounds < 6 && math.abs(used - prev) > 0.01 * prev) {
      prev = used
      used = collect()
      rounds += 1
    }
    (rssMb("VmRSS"), used)
  }

  private def attempt(f: => Map[String, Any]): Map[String, Any] =
    try f catch {
      case e: Throwable => Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Closed loop, one client: `Etl.runBatch` back to back on successive
    * topic slices, with a compacted parquet sink and a read-back. */
  def etlIngest(spark: SparkSession, tr: Trace, work: String, seconds: Double,
                cores: Int, slices: Int, perSlice: Long, warmup: Int): Map[String, Any] = {
    val topic = s"$work/topic"
    val sink = s"$work/sink"
    val stageStart = Clock.now
    tr.op("setup", "wire.stage") {
      KafkaWire.surrogate(spark.read.parquet(s"$work/airports_raw.parquet"), "id", "value", "airports")
        .withColumn("slice", (col("offset") / perSlice).cast("int"))
        .repartition(cores) // `cores` files per slice: a batch scans them in parallel
        .write.mode("overwrite").partitionBy("slice").parquet(topic)
    }
    val stageS = (Clock.now - stageStart) / 1000
    // the columns each SQL execution of runBatch produces, from graft's own
    // functions: the summariser names an execution by what it computes
    val wire0 = spark.read.parquet(topic).drop("slice")
    val cleaned0 = Etl.clean(Etl.parse(wire0))
    val layers = List(List("etl.stats", Etl.stats(cleaned0).columns.toList),
      List("etl.parse_clean", cleaned0.columns.toList), List("etl.gate", wire0.columns.toList))
    def batch(i: Int, timed: Boolean): Map[String, Any] = {
      val slice = i % slices
      val id = s"etl-$i"
      val start = Clock.now
      val obs = attempt {
        tr.op(id, "etl.runBatch") {
          var readBack: org.apache.spark.sql.Row = null
          val wire = spark.read.parquet(topic).filter(col("slice") === slice).drop("slice")
          val (nClean, nStats) = Etl.runBatch(spark, wire, cleaned => {
            tr.span("sink.write") { Sinks.compactParquet(cleaned, sink, cores) }
            readBack = tr.span("sink.readback") { Etl.stats(spark.read.parquet(sink)).collect()(0) }
          })
          val files = Option(new File(sink).listFiles()).getOrElse(Array.empty[File])
            .filter(_.getName.endsWith(".parquet"))
          Map("n_clean" -> nClean, "n_stats" -> nStats,
            "stats" -> Map("n_rows" -> readBack.getLong(0), "n_ids" -> readBack.getLong(1),
              "avg_lat" -> readBack.getDouble(2), "avg_lon" -> readBack.getDouble(3),
              "min_lat" -> readBack.getDouble(4), "max_lat" -> readBack.getDouble(5)),
            "sink_files" -> files.length, "sink_bytes" -> files.map(_.length).sum)
        }
      }
      obs ++ Map("id" -> id, "slice" -> slice, "timed" -> timed,
        "start" -> start, "end" -> Clock.now)
    }
    val warm = (0 until warmup).map(batch(_, timed = false))
    val firstOp = Clock.now
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (Clock.now - firstOp < seconds * 1000) ops += batch(warmup + ops.size, timed = true)
    Map("stage_s" -> stageS, "first_op_ms" -> firstOp, "ops" -> (warm ++ ops).toList,
      "etl_layers" -> layers)
  }

  /** Closed loop, one client: ordered passes over the registered queries.
    * An untimed first pass writes every result for the DuckDB oracle check
    * and warms codegen; timed queries run `count()` and record row counts,
    * in pass order until the time is up, the first timed pass always whole.
    * Between queries only the cache is cleared: a forced full collection
    * would make G1 hand heap back to the OS for the next query to fault in
    * again. */
  def queryMix(spark: SparkSession, tr: Trace, work: String, seconds: Double,
               names: Seq[String]): Map[String, Any] = {
    val tables = s"$work/tables"
    def quiesce(): Unit = spark.catalog.clearCache()
    val warm = names.map { n =>
      quiesce()
      val start = Clock.now
      attempt {
        tr.op(s"warm-$n", "queries.dump") {
          SparkEntry.byName(n).run(spark, tables).coalesce(1)
            .write.mode("overwrite").parquet(s"$work/verify/$n")
        }
        Map("rows" -> spark.read.parquet(s"$work/verify/$n").count())
      } ++ Map("id" -> s"warm-$n", "query" -> n, "timed" -> false,
        "start" -> start, "end" -> Clock.now)
    }
    Files.writeString(Paths.get(s"$work/verify/oracle_sql.json"),
      mapper.writeValueAsString(SparkEntry.oracleSql.filter(kv => names.contains(kv._1))))
    quiesce()
    val firstOp = Clock.now
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (ops.size < names.size || Clock.now - firstOp < seconds * 1000) {
      val n = names(ops.size % names.size)
      val pass = ops.size / names.size
      quiesce()
      val id = s"p$pass-$n"
      val start = Clock.now
      val obs = attempt {
        tr.op(id, "queries.run") {
          val df = tr.span("queries.build") { SparkEntry.byName(n).run(spark, tables) }
          Map("rows" -> tr.span("queries.count") { df.count() })
        }
      }
      ops += obs ++ Map("id" -> id, "query" -> n, "pass" -> pass, "timed" -> true,
        "start" -> start, "end" -> Clock.now)
    }
    spark.catalog.clearCache()
    Map("first_op_ms" -> firstOp, "ops" -> (warm ++ ops).toList)
  }

  /** Open loop: one generator thread hands each chunk of events, at the same
    * moment, to two `MemoryStream`s on a fixed schedule. Two queries run side
    * by side on processing-time triggers, each the way graft runs it:
    * `dedupWithinWatermark` on the event id (as q44) and `hourlyCountsAppend`
    * (as q37), each started the way `Streams.runToMemory` starts its queries
    * (cloned session with 8 state partitions, memory sink in append mode,
    * explicit checkpoint). */
  def streamIngest(spark: SparkSession, work: String, periodMs: Double,
                   warmup: Int, triggerMs: Long): Map[String, Any] = {
    val events = Tables.normalizeTs(spark.read.parquet(s"$work/stream_events.parquet"))
    val chunks = events.orderBy("chunk", "event_id", "kind").collect()
      .groupBy(_.getAs[Int]("chunk")).toSeq.sortBy(_._1).map(_._2.toSeq.map(r =>
        Ev(r.getAs[Long]("event_id"), r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("user_id"),
          r.getAs[String]("event_type"), r.getAs[Double]("value"), r.getAs[String]("props"))))
    val progress = new ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.json)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val shapes = Seq[(String, DataFrame => DataFrame)](
      "bench_dedup" -> (df => Streams.dedupWithinWatermark(df, "event_id")
        .select("event_id", "user_id", "event_type")),
      "bench_hourly" -> (df => Streams.hourlyCountsAppend(df)))
    val running = shapes.map { case (name, shape) =>
      val mem = MemoryStream[Ev](Encoders.product[Ev], spark)
      val scoped = SessionBridge.cloneSession(spark)
      scoped.conf.set("spark.sql.shuffle.partitions", "8")
      scoped.streams.addListener(listener)
      val ckpt = Files.createTempDirectory(Paths.get(work), s"ckpt-$name-")
      val q = SessionBridge.rebind(shape(mem.toDF()), scoped).writeStream
        .outputMode("append").format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.ProcessingTime(triggerMs))
        .start()
      (name, mem, scoped, q)
    }
    val handoffs = new ConcurrentLinkedQueue[List[Any]]()
    // returns once every query has committed the batch holding `offset`
    // (processAllAvailable would wait for one more trigger on top)
    def committed(offset: Long): Unit = {
      val giveUp = Clock.now + 60000
      while (Clock.now < giveUp && running.exists { case (_, _, _, q) =>
        q.exception.foreach(e => throw e)
        Option(q.lastProgress).forall(p => Option(p.sources(0).endOffset).forall(_.toLong < offset))
      }) Thread.sleep(5)
    }
    // one generator thread hands chunks [from, until) off on schedule from t0
    // and returns the last chunk's offset
    def feed(from: Int, until: Int, t0: Double): Long = {
      var last = -1L
      val gen = new Thread(() => (from until until).foreach { c =>
        val due = t0 + (c - from) * periodMs
        val wait = due - Clock.now
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val handoff = Clock.now
        // both streams hold the same chunks, so they agree on every offset
        val offset = running.map(_._2.addData(chunks(c)).json().toLong).max
        handoffs.add(List(c, due, handoff, offset, chunks(c).size))
        last = offset
      }, "graftbench-generator")
      gen.start()
      gen.join()
      last
    }
    // untimed warm-up on the same schedule, committed before timing starts
    committed(feed(0, warmup, Clock.now + 100))
    val t0 = Clock.now + 100
    committed(feed(warmup, chunks.size, t0))
    // the final data batch moves the hourly query's watermark; wait for the
    // no-data batch that follows it and closes every window it allows
    val hourlyQ = running.find(_._1 == "bench_hourly").get._4
    val lastData = hourlyQ.recentProgress.filter(_.numInputRows > 0).map(_.batchId).max
    val giveUp = Clock.now + 3 * triggerMs + 2000
    while (Clock.now < giveUp && hourlyQ.lastProgress.batchId <= lastData) Thread.sleep(5)
    def rows(df: DataFrame): List[List[Any]] =
      df.collect().map(_.toSeq.toList).toList
    val hourly = (df: DataFrame) => df.select(unix_micros(col("w.start")), col("event_type"), col("n"))
    val Seq(dedupOut, hourlyOut) = running.map { case (name, _, scoped, q) =>
      val out = scoped.table(name)
      val r = if (name == "bench_hourly") rows(hourly(out)) else rows(out)
      q.stop()
      r
    }
    // the same transforms as batch jobs over the same deliveries, the late
    // ones left out of the dedup reference (the stream drops them). Spark
    // has no batch form of dropDuplicatesWithinWatermark: its batch meaning
    // is dropDuplicates.
    val deliveries = events.drop("chunk")
    Map("first_op_ms" -> t0,
      "handoffs" -> handoffs.asScala.toList,
      "progress" -> progress.asScala.map(mapper.readTree).toList,
      "emitted" -> hourlyOut, "dedup_emitted" -> dedupOut,
      "batch" -> rows(hourly(Streams.hourlyCountsAppend(deliveries.drop("kind")))),
      "dedup_batch" -> rows(deliveries.filter(col("kind") =!= 2).dropDuplicates("event_id")
        .select("event_id", "user_id", "event_type")))
  }
}
