package graft

import java.nio.file.{Files, StandardCopyOption}

import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Batch/stream duality (SURVEY.md §2.7): the same aggregates through the
  * real streaming engine (StateStore, Trigger.AvailableNow) must equal the
  * batch answers over the same parquet data.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private def batchEvents = Tables.events(spark, sf)

  /** Not graft's provider (graft runs Spark's default HDFS-backed one); a
    * deployment may pick it with `spark.sql.streaming.stateStore.providerClass`
    * at submit time, so its answers must match. */
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The provider class is present AND its JNI native library loads here
    * (the jar alone doesn't guarantee a linkable .so). */
  private lazy val rocksDbAvailable: Boolean = scala.util.Try {
    Class.forName(RocksDbProvider)
    org.rocksdb.RocksDB.loadLibrary()
  }.isSuccess

  test("complete-mode streaming global count equals batch count (A3/K2)") {
    val streamed = Streams.runCompleteToMemory(
      spark, Streams.globalCount(Streams.eventsStream(spark, sf)), "t_count")
    assert(streamed.collect()(0).getLong(0) == batchEvents.count())
  }

  test("complete-mode hourly windowed counts equal batch windows") {
    val streamed = Streams.runCompleteToMemory(
      spark, Streams.hourlyCounts(Streams.eventsStream(spark, sf)), "t_hourly")
      .select(col("w.start").as("hr"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hr"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("append-mode + watermark emits exactly the finalized windows, matching batch") {
    val delay = "1 hour"
    val streamed = Streams.runToMemory(
      spark, Streams.hourlyCountsAppend(Streams.eventsStream(spark, sf), delay),
      "t_hourly_append", mode = "append")
      .select(col("w.start").as("hr"), col("w.end").as("he"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3))).toSet

    // watermark after the final batch = max event time - delay; append mode
    // emits exactly the windows whose end is at or before that watermark
    val maxTs = batchEvents.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val batchFinalized = batchEvents
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(col("w.end") <= lit(maxTs) - expr(s"INTERVAL $delay"))
      .select(col("w.start").as("hr"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    assert(streamed.nonEmpty, "append run emitted nothing — watermark never flushed")
    assert(streamed == batchFinalized)
  }

  test("a stream stopped after batch 1 restarts from its checkpoint to the uninterrupted answer") {
    // batches 0-1 run the plain Spark calls, as a checkpoint written before
    // Streams bounded its map side, and the restart over batches 2-3 runs
    // the Streams transform on that checkpoint.
    // The events as four arrival batches by day of month (1-8, 9-16, 17-24,
    // 25-30), every third event delivered again in the next batch, where
    // only the restored dedup state drops it
    val staged = Stage.batches("restart-events", sf, 4) {
      val byDay = batchEvents.withColumn("slot", ((dayofmonth(col("ts")) - 1) / 8).cast("int"))
      byDay.unionByName(byDay.filter(col("event_id") % 3 === 0 && col("slot") < 3)
        .withColumn("slot", col("slot") + 1))
    }
    val files = new java.io.File(staged).listFiles().map(_.toPath).sortBy(_.toString).toSeq
    assert(files.size == 4)
    val delay = "10 days"
    // (name, the transform, the same Spark calls without the bound)
    val shapes = Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)](
      ("dedup", Streams.dedupWithinWatermark(_, "event_id", delay),
        _.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")),
      ("hourly", Streams.hourlyCountsAppend(_, delay),
        _.withWatermark("ts", delay)
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"))))
    shapes.foreach { case (name, shape, plain) =>
      def dir(tag: String) = Stage.scratch(s"graft-restart-$name-$tag-")
      // drains `src` into the parquet sink `out` on checkpoint `ckpt`: the
      // ids of the batches that read rows, and the last batch's state rows
      def run(shape: DataFrame => DataFrame, src: String, out: String,
              ckpt: String): (Seq[Long], Long) = {
        val q = shape(spark.readStream.schema(Tables.schemaOf(spark, staged))
            .option("maxFilesPerTrigger", 1).parquet(src))
          .writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        (q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq,
          q.lastProgress.stateOperators.head.numRowsTotal)
      }
      def rows(out: String) = spark.read.parquet(out).collect().map(_.toString).toSeq.sorted

      val (wholeOut, wholeCkpt) = (dir("whole-out").toString, dir("whole-ckpt").toString)
      val (_, wholeState) = run(shape, staged, wholeOut, wholeCkpt)

      val (src, out, ckpt) = (dir("src"), dir("out").toString, dir("ckpt").toString)
      def arrive(batches: Seq[java.nio.file.Path]): Unit = batches.foreach(f =>
        Files.copy(f, src.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES))
      arrive(files.take(2))
      val (before, _) = run(plain, src.toString, out, ckpt)
      arrive(files.drop(2))
      val (after, restartState) = run(shape, src.toString, out, ckpt)

      assert(before == Seq(0L, 1L), name)
      assert(after.size == 2 && after.min > 1L, s"$name resumed at $after")
      assert(rows(wholeOut).nonEmpty && wholeState > 0, name)
      assert(rows(out) == rows(wholeOut), name)
      assert(restartState == wholeState, name)
    }
  }

  test("each stateful transform runs one map wave per micro-batch and emits the unbounded rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    import org.apache.spark.sql.graftbridge.SessionBridge
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val slots = spark.sparkContext.defaultParallelism
    // the events in 40 arrival blocks, every fifth one delivered twice
    val events = batchEvents.select("event_id", "user_id", "event_type", "ts")
    val deliveries = events.unionByName(events.filter(col("event_id") % 5 === 0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
    val blocks = deliveries.groupBy(e => (e._1 * 7 % 40).toInt).toSeq.sortBy(_._1).map(_._2.toSeq)
    assert(blocks.size == 40)

    def side(df: DataFrame, t: String, prefix: String) =
      df.filter(col("event_type") === t).select(col("event_id").as(s"${prefix}_event_id"),
        col("user_id").as(s"${prefix}_user_id"), col("ts").as(s"${prefix}_ts"))
    def hourly(df: DataFrame) =
      df.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type")).agg(count(lit(1)).as("n"))
    def sliding(df: DataFrame) =
      df.groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    // (name, output mode, the transform, the same Spark calls unbounded)
    val shapes = Seq[(String, String, DataFrame => DataFrame, DataFrame => DataFrame)](
      ("count", "complete", Streams.globalCount, _.groupBy().count()),
      ("hourly", "complete", Streams.hourlyCounts, hourly),
      ("hourly_append", "append", Streams.hourlyCountsAppend(_),
        df => hourly(df.withWatermark("ts", "1 hour"))),
      ("sliding", "append", Streams.slidingCountsAppend(_, "1 hour", "15 minutes"),
        df => sliding(df.withWatermark("ts", "1 hour"))),
      ("dedup", "append", Streams.dedupWithinWatermark(_, "event_id"),
        _.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("event_id")),
      ("join", "append",
        df => Streams.streamStreamJoin(side(df, "purchase", "p"), side(df, "click", "c"),
          "p_user_id", "c_user_id", "p_ts", "c_ts", windowSec = 1800),
        df => side(df, "purchase", "p").withWatermark("p_ts", "1 hour")
          .join(side(df, "click", "c").withWatermark("c_ts", "1 hour"),
            col("p_user_id") === col("c_user_id") &&
              col("c_ts") >= col("p_ts") - expr("INTERVAL 1800 SECONDS") &&
              col("c_ts") <= col("p_ts"))),
      ("sessionize", "append", Streams.sessionize(_).toDF(),
        _.withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("event_id"), col("ts")).as[Streams.SessionEvent]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState[Streams.OpenSession, Streams.ClosedSession](
            OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
            Streams.sessionStep(1800000L)).toDF()))

    // (query id, batch id, tasks) of every stage a stream submits that
    // reads its source: one with no parent stage, the map side of the
    // state shuffle
    val mapStages = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Int)]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .filter(_ => e.stageInfo.parentIds.isEmpty)
          .foreach(q => mapStages.add((q, e.properties.getProperty("streaming.sql.batchId"),
            e.stageInfo.numTasks)))
    }
    // the shape's emitted rows over the 40 blocks, and its map-stage task
    // count per micro-batch
    def run(name: String, mode: String, shape: DataFrame => DataFrame)
        : (Seq[String], Map[String, Seq[Int]]) = {
      val mem = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
      blocks.foreach(b => mem.addData(b))
      SessionBridge.drainListenerBus(spark)
      mapStages.clear()
      val out = Streams.runToMemory(spark,
        shape(mem.toDF().toDF("event_id", "user_id", "event_type", "ts")), name, mode)
        .collect().map(_.toString).toSeq.sorted
      SessionBridge.drainListenerBus(spark)
      val stages = mapStages.asScala.toSeq
      assert(stages.map(_._1).distinct.size == 1, s"$name: one query's stages")
      (out, stages.groupBy(_._2).map { case (b, ss) => b -> ss.map(_._3) })
    }
    spark.sparkContext.addSparkListener(listener)
    try shapes.foreach { case (name, mode, bounded, unbounded) =>
      val (rows, waves) = run(s"t_wave_$name", mode, bounded)
      val (plainRows, plainWaves) = run(s"t_wave_plain_$name", mode, unbounded)
      assert(plainWaves.values.flatten.max == 40, s"$name: the unbounded map stage reads every block")
      assert(waves.values.flatten.nonEmpty && waves.values.flatten.forall(_ <= slots),
        s"$name: map tasks per micro-batch $waves over $slots slots")
      assert(rows.nonEmpty, name)
      assert(rows == plainRows, name)
      val batchPlan = bounded(events).queryExecution.analyzed
      assert(batchPlan.collectFirst { case r: Repartition => r }.isEmpty,
        s"$name: a batch frame must keep its AQE-sized plan")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("sessionize: a late event inside the watermark merges without rewinding session bounds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s:00")
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val sessions = Streams.sessionize(
      mem.toDF.toDF("user_id", "event_id", "ts"), gapSec = 1800, delay = "4 hours")
    val ckpt = Stage.scratch("graft-late-").toString
    val q = sessions.toDF.writeStream.outputMode("append")
      .format("memory").queryName("t_late")
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData((1L, 1L, ts("10:00")), (1L, 2L, ts("10:10")))
      q.processAllAvailable()
      mem.addData((1L, 3L, ts("09:45"))) // late but within the 4 h watermark
      q.processAllAvailable()
      // 30 min after the TRUE last event (10:10) — must still merge; a
      // rewound lastMs (09:45) would mis-split here
      mem.addData((1L, 4L, ts("10:40")))
      q.processAllAvailable()
      assert(spark.table("t_late").count() == 0, "session split prematurely after late event")
      // VERY late (> gap before the session start): cannot merge — emits
      // as its own closed singleton session at batch end
      mem.addData((1L, 6L, ts("08:00")))
      q.processAllAvailable()
      val early = spark.table("t_late")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
      assert(early == Set((1L, ts("08:00"), 1L)))
      mem.addData((1L, 5L, ts("11:30"))) // true gap > 30 min → closes the open session
      q.processAllAvailable()
      val rows = spark.table("t_late")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
      assert(rows == Set(
        (1L, ts("08:00"), 1L),
        (1L, ts("09:45"), 4L))) // start min'd to the within-gap late event
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization equals the batch session set (closed + timed-out)") {
    val gapMs = 1800000L
    val streamed = Streams.runToMemory(
      spark, Streams.sessionize(Streams.eventsStream(spark, sf)).toDF(),
      "t_sessions", mode = "append")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet

    // batch replay of the emission rule
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ms = (expr("unix_micros(ts)") / 1000).cast("long")
    val numbered = batchEvents
      .withColumn("ms", ms)
      .withColumn("new_sess",
        when(col("ms") - lag(col("ms"), 1).over(w) > gapMs
          || lag(col("ts"), 1).over(w).isNull, 1).otherwise(0))
      .withColumn("sess_no", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wmMs = numbered.agg(max(col("ms"))).collect()(0).getLong(0)
    val sess = numbered.groupBy("user_id", "sess_no")
      .agg(min(col("ts")).as("sess_start"), max(col("ms")).as("last_ms"),
        count(lit(1)).as("n_events"))
      .withColumn("is_tail",
        col("sess_no") === max(col("sess_no")).over(
          Window.partitionBy("user_id")))
    val expected = sess
      .filter(!col("is_tail") || col("last_ms") + gapMs < wmMs)
      .select("user_id", "sess_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet

    assert(streamed.nonEmpty)
    assert(streamed == expected)
    // and the state actually bounds: tail sessions within the gap of
    // stream end are withheld, so streamed is a strict subset of all
    val all = sess.count()
    assert(streamed.size < all)
  }

  test("left-outer stream-stream join: null-extends exactly the watermark-expired unmatched lefts") {
    def side(t: String, prefix: String) =
      Streams.eventsStream(spark, sf).filter(col("event_type") === t)
        .select(col("event_id").as(s"${prefix}_event_id"),
          col("user_id").as(s"${prefix}_user_id"), col("ts").as(s"${prefix}_ts"))
    val streamed = Streams.runToMemory(
      spark, Streams.streamStreamJoin(
        side("purchase", "p"), side("click", "c"),
        "p_user_id", "c_user_id", "p_ts", "c_ts", windowSec = 1800,
        joinType = "left_outer"),
      "t_outer", mode = "append")
      .select("p_event_id", "c_event_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet

    // batch replay of the rule: matched pairs always emit; an unmatched
    // purchase emits null-extended iff the final global watermark
    // (min of both sides' max ts − delay) passed its event time
    val p = batchEvents.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("pu"), col("ts").as("pts"))
    val c = batchEvents.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id").as("cu"), col("ts").as("cts"))
    val cond = col("cu") === col("pu") &&
      col("cts") >= col("pts") - expr("INTERVAL 1800 SECONDS") && col("cts") <= col("pts")
    val matched = p.join(c, cond)
      .select(col("pid"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wm = math.min(
      p.agg(max(expr("unix_micros(pts)"))).collect()(0).getLong(0),
      c.agg(max(expr("unix_micros(cts)"))).collect()(0).getLong(0)) - 3600000000L
    val expired = p.join(c, cond, "left_anti")
      .filter(expr("unix_micros(pts)") < wm)
      .select("pid").collect().map(r => (r.getLong(0), -1L)).toSet
    assert(streamed == matched ++ expired)
    // the withholding is real: some unmatched purchase is younger than the
    // watermark and therefore absent
    val allUnmatched = p.join(c, cond, "left_anti").count()
    assert(expired.size < allUnmatched)
  }

  test("stream-stream join is state-store-provider independent (HDFS vs RocksDB)") {
    assume(rocksDbAvailable, "rocksdbjni native lib unavailable")
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    def run(provider: String, tag: String): Set[(Long, Long)] = {
      val prev = spark.conf.getOption(confKey)
      spark.conf.set(confKey, provider)
      try {
        def side(t: String, prefix: String) =
          Streams.eventsStream(spark, sf).filter(col("event_type") === t)
            .select(col("event_id").as(s"${prefix}_event_id"),
              col("user_id").as(s"${prefix}_user_id"), col("ts").as(s"${prefix}_ts"))
        Streams.runToMemory(
          spark, Streams.streamStreamJoin(
            side("purchase", "p"), side("click", "c"),
            "p_user_id", "c_user_id", "p_ts", "c_ts", windowSec = 1800),
          s"t_prov_$tag", mode = "append")
          .select("p_event_id", "c_event_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
    val viaHdfs = run(
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "hdfs")
    val viaRocks = run(RocksDbProvider, "rocks")
    assert(viaRocks.nonEmpty)
    assert(viaHdfs == viaRocks)
  }
}
