package graft.streaming

import java.nio.file.Files

import graft.Stage
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (SURVEY.md §2.7).
  *
  * The reference's streaming job (`spark_kafka_direct.py:21-44`) is a Kafka
  * scan → global COUNT(*) → console sink in complete mode, bounded by a 15 s
  * `awaitTermination`. Re-expressed Spark-first and made deterministic:
  * file/`MemoryStream` sources, `Trigger.AvailableNow` (process everything
  * available, then stop — the bounded-run semantics without the wall-clock
  * race), an explicit checkpoint dir (the reference configured none and
  * leaned on the console sink tolerating that), and a memory sink so results
  * are queryable.
  *
  * Batch-over-stream duality (§2.7): the transforms here are plain DataFrame
  * functions, so the same code runs on `read` and `readStream` inputs — the
  * batch/stream equality tests assert exactly that.
  *
  * At scale: complete-mode global count keeps ONE row of state; windowed
  * counts keep one row per (window, key) and need a watermark in append mode
  * to bound state — both are StateStore-backed incremental aggs, shuffled
  * on the group key once per micro-batch.
  */
object Streams {

  /** Streaming scan over the driver's events parquet (S2-surrogate: same
    * shape as a Kafka topic replay — unbounded source API, bounded data).
    * Schema comes from [[graft.Tables.schemaOf]]; ts is normalized to a zoned
    * micros TIMESTAMP by [[graft.Tables.normalizeTs]] whichever physical
    * type the generator wrote (nanos-long legacy read or TIMESTAMP_NTZ).
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    graft.Tables.normalizeTs(spark.readStream
      .schema(graft.Tables.schemaOf(spark, s"$sfDir/events.parquet"))
      // glob, not the bare file path: FileStreamSource requires its base
      // path to be a directory, and the non-glob prefix here is $sfDir
      .parquet(s"$sfDir/events.parque[t]"))
  }

  /** Streaming scan over the driver's documents parquet — the document-
    * ingest surrogate (a Kafka topic of docs replayed through the file
    * source). No timestamp munging: documents carry no nano columns.
    */
  def documentsStream(spark: SparkSession, sfDir: String): DataFrame =
    tableStream(spark, sfDir, "documents")

  /** Streaming scan over the driver's customer parquet — the master-data
    * ingest surrogate (new/changed entity records arriving as a topic),
    * feeding the streaming record-linkage gate (q188). */
  def customerStream(spark: SparkSession, sfDir: String): DataFrame =
    tableStream(spark, sfDir, "customer")

  /** File-source replay of a fixture table (no timestamp munging — only
    * `events` carries nano columns and keeps its own reader above). The
    * glob, not the bare file path: FileStreamSource requires its base path
    * to be a directory, and the non-glob prefix here is `sfDir`. */
  private def tableStream(spark: SparkSession, sfDir: String,
                          table: String): DataFrame = {
    spark.readStream
      .schema(graft.Tables.schemaOf(spark, s"$sfDir/$table.parquet"))
      .parquet(s"$sfDir/$table.parque[t]")
  }

  /** S2: unbounded scan of a Kafka topic (`spark_kafka_direct.py:21-27`)
    * with the same options as the batch scan
    * [[graft.sources.KafkaWire.batch]]. Requires the kafka connector on
    * the classpath at runtime. */
  def kafkaStream(spark: SparkSession, bootstrap: String, topic: String,
                  startingOffsets: String = "earliest"): DataFrame =
    spark.readStream.format("kafka")
      .options(graft.sources.KafkaWire.scanOptions(bootstrap, topic, startingOffsets))
      .load()

  /** One task wave for the map side of a stateful micro-batch: a
    * streaming frame is narrowed (`coalesce`, no shuffle) to the session's
    * task slots, `defaultParallelism`; a batch frame comes back unchanged,
    * so batch plans stay AQE-sized. Streaming runs with AQE off, so without
    * this the map side runs one task per source partition whatever its
    * size: one per `MemoryStream.addData` block, one per Kafka topic
    * partition. A source with no more partitions than slots (a one-file
    * trigger, a two-stream union) is left as it is. The state side keeps
    * its shuffle to `statePartitions` stores. Every stateful transform
    * below reads its input through here, and nothing else in
    * `graft.streaming` sets a partition count. */
  private def oneWave(stream: DataFrame): DataFrame =
    if (stream.isStreaming) stream.coalesce(stream.sparkSession.sparkContext.defaultParallelism)
    else stream

  /** A3: streaming global COUNT(*) (`spark_kafka_direct.py:35-40`). */
  def globalCount(stream: DataFrame): DataFrame =
    oneWave(stream).groupBy().count()

  /** Event-time tumbling-window counts — the extension the reference's
    * complete-mode count points at. Complete mode needs no watermark (state
    * = one row per open window, re-emitted each batch). */
  def hourlyCounts(stream: DataFrame): DataFrame =
    oneWave(stream)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Append-mode variant with a watermark — the state-bounding shape for an
    * unbounded 100 TB stream: windows older than the watermark are finalized,
    * emitted once, and their state evicted. Under Trigger.AvailableNow the
    * final micro-batch advances the watermark past every drained event, so
    * all windows flush and the append result equals the batch answer for
    * on-time data (asserted in StreamingSpec).
    */
  def hourlyCountsAppend(stream: DataFrame, delay: String = "1 hour"): DataFrame =
    oneWave(stream)
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Sliding (hopping) windowed counts in append mode: every event lands
    * in size/slide overlapping windows (4 for 1h/15min), each a separate
    * state row finalized independently when the watermark passes its end.
    * State is bounded by (open windows × keys); the ×4 row fan-out happens
    * at aggregation INPUT (map-side, before partial agg), not in state.
    */
  def slidingCountsAppend(stream: DataFrame, size: String, slide: String,
                          delay: String = "1 hour"): DataFrame =
    oneWave(stream)
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), size, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Exactly-once dedup over an at-least-once stream: duplicate deliveries
    * of the same key inside the watermark are dropped, and — unlike plain
    * `dropDuplicates` — seen-key state is EVICTED once the watermark
    * passes, so state is bounded by the delivery-delay window instead of
    * growing with every key ever seen (the difference between a Kafka
    * replay surviving the night and an OOM at 100 TB).
    */
  def dedupWithinWatermark(stream: DataFrame, keyCol: String,
                           delay: String = "1 hour"): DataFrame =
    oneWave(stream).withWatermark("ts", delay).dropDuplicatesWithinWatermark(keyCol)

  /** Stream-stream inner join with an event-time range: right rows within
    * `[left.ts − windowSec, left.ts]` for the same key. Both sides carry
    * watermarks and the join condition bounds event-time distance, so each
    * side's buffered state is evicted once the other side's watermark
    * passes the reachable window — the state-bounded two-stream join
    * (billions of buffered rows otherwise). Column names: caller supplies
    * pre-renamed sides to avoid ambiguity.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       lKey: String, rKey: String, lTs: String, rTs: String,
                       windowSec: Long, delay: String = "1 hour",
                       joinType: String = "inner"): DataFrame = {
    val l = oneWave(left).withWatermark(lTs, delay)
    val r = oneWave(right).withWatermark(rTs, delay)
    l.join(r,
      col(lKey) === col(rKey) &&
        col(rTs) >= col(lTs) - expr(s"INTERVAL $windowSec SECONDS") &&
        col(rTs) <= col(lTs),
      joinType)
  }

  /** One event of the sessionization input (subset of the events table). */
  case class SessionEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp)

  /** Keyed state: the user's currently-open session. */
  case class OpenSession(start: java.sql.Timestamp, lastMs: Long, n: Long)

  /** One emitted (closed) session. */
  case class ClosedSession(user_id: Long, sess_start: java.sql.Timestamp, n_events: Long)

  /** Streaming sessionization via `flatMapGroupsWithState` — custom keyed
    * state, the §2.7 extension the windowed aggregates can't express
    * (sessions have data-driven, unaligned boundaries).
    *
    * Semantics (mirrors batch q21): per user, events sorted by (ts,
    * event_id); a gap > `gapSec` closes the open session. A closed session
    * emits (user, session start, event count). The open tail session closes
    * via event-time timeout once the watermark passes last-event + gap —
    * so with bounded input and delay d, exactly the sessions whose
    * `last_ms + gap·1000 < max_ts_ms − d` flush; the rest stay in state.
    * Deterministic under Trigger.AvailableNow: in-batch gaps close
    * everything except each user's final session, and the final no-data
    * batch fires the eligible timeouts (the oracle states both cases in
    * SQL).
    *
    * At 100 TB: state is one row per ACTIVE user (not per event), shuffled
    * once per micro-batch on user_id; the watermark bounds state lifetime —
    * idle users' sessions time out and are evicted.
    */
  def sessionize(stream: DataFrame, gapSec: Int = 1800,
                 delay: String = "0 seconds"): Dataset[ClosedSession] = {
    val spark = stream.sparkSession
    import spark.implicits._
    oneWave(stream)
      .withWatermark("ts", delay)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"), col("ts"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(sessionStep(gapSec * 1000L))
  }

  /** [[sessionize]]'s per-user state step, for a session gap of `gapMs`. */
  private[graft] def sessionStep(gapMs: Long)
      : (Long, Iterator[SessionEvent], GroupState[OpenSession]) => Iterator[ClosedSession] =
    (uid, events, state) =>
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(ClosedSession(uid, s.start, s.n))
      } else {
        // batch arrival order is arbitrary — restore event-time order
        val sorted = events.toIndexedSeq.sortBy(e =>
          (e.ts.getTime, e.ts.getNanos, e.event_id))
        var open = state.getOption
        // very-late events (> gap BEFORE the open session's start)
        // cannot belong to it; they gap-cluster among themselves and
        // their sessions emit at batch end (best-effort for extreme
        // lateness — they never reopen already-emitted history)
        var late = Option.empty[OpenSession]
        val closed = IndexedSeq.newBuilder[ClosedSession]
        sorted.foreach { e =>
          val ms = e.ts.getTime
          open match {
            case Some(s) if ms < s.start.getTime - gapMs =>
              late match {
                case Some(l) if ms - l.lastMs <= gapMs =>
                  late = Some(OpenSession(l.start, math.max(l.lastMs, ms), l.n + 1))
                case Some(l) =>
                  closed += ClosedSession(uid, l.start, l.n)
                  late = Some(OpenSession(e.ts, ms, 1))
                case None =>
                  late = Some(OpenSession(e.ts, ms, 1))
              }
            case Some(s) if ms - s.lastMs <= gapMs =>
              // merge-eligible (incl. late-but-within-gap events)
              // WITHOUT moving bounds backwards — a regressing lastMs
              // would rewind the event-time timeout and mis-split on
              // the next in-order event
              val start =
                if (e.ts.compareTo(s.start) < 0) e.ts else s.start
              open = Some(OpenSession(start, math.max(s.lastMs, ms), s.n + 1))
            case Some(s) =>
              closed += ClosedSession(uid, s.start, s.n)
              open = Some(OpenSession(e.ts, ms, 1))
            case None =>
              open = Some(OpenSession(e.ts, ms, 1))
          }
        }
        late.foreach(l => closed += ClosedSession(uid, l.start, l.n))
        open.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastMs + gapMs)
        }
        closed.result().iterator
      }

  /** Run a streaming aggregate to a memory sink with Trigger.AvailableNow
    * and an explicit checkpoint, block until done, and return the final
    * result table. Deterministic: AvailableNow drains every available input
    * split, then terminates. The checkpoint dir is deleted on completion —
    * these runs are bounded one-shots, not resumable services.
    */
  /** `statePartitions`: stateful streaming ops allocate one state store
    * per shuffle partition PER stateful operator — size it to key
    * cardinality, not batch parallelism (the session default of 32 means
    * 32 store instances to checkpoint for a 15-key stream). Pinned at
    * query start; a streaming query's partitioning is then fixed for the
    * checkpoint's lifetime.
    *
    * The override is scoped to a CLONED session (same context and shared
    * state, its own SQLConf) and the plan is rebound there, so concurrent
    * queries on the caller's session never observe the streaming-sized
    * shuffle-partition setting (r3 advice — the previous mutate-and-restore
    * leaked it for the duration of the run). The memory-sink table lives in
    * the clone; the returned DataFrame is bound to it — it is NOT registered
    * on the caller's session, so `spark.table(name)` does not resolve it and
    * a pre-existing parent temp view of the same name is left untouched. */
  def runToMemory(
      spark: SparkSession, agg: DataFrame, name: String,
      mode: String = "complete", statePartitions: Option[Int] = Some(8)): DataFrame = {
    val ckpt = Stage.scratch(s"graft-ckpt-$name-")
    // try/finally spans start() too: a bad source/checkpoint config throws
    // from start(), and the fresh checkpoint dir must not outlive it
    try {
      val scoped = org.apache.spark.sql.graftbridge.SessionBridge.cloneSession(spark)
      statePartitions.foreach(n =>
        scoped.conf.set("spark.sql.shuffle.partitions", n.toString))
      val q = org.apache.spark.sql.graftbridge.SessionBridge.rebind(agg, scoped)
        .writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      scoped.table(name)
    } finally deleteRecursively(ckpt)
  }

  def runCompleteToMemory(
      spark: SparkSession, agg: DataFrame, name: String): DataFrame =
    runToMemory(spark, agg, name, "complete")

  /** Replays a [[graft.Stage.batches]] dir through the streaming engine,
    * one file per micro-batch (`maxFilesPerTrigger` 1, Trigger.AvailableNow,
    * a scratch checkpoint), blocking until every batch has run. `f` folds a
    * driver-side value across the batches in arrival order:
    * `f(previous, batch, batchId)` runs inside `foreachBatch` and may run
    * BATCH Spark jobs — the incremental-ingest shape where each micro-batch
    * derives and persists its own artifact (a sketch, a state version, a
    * partial index) instead of the engine holding StateStore state. Returns
    * the last value, `zero` if no batch fired. No session clone: with no
    * stateful operator there is no state store to size, and the jobs inside
    * `f` see the caller's conf.
    */
  def replay[S](spark: SparkSession, dir: String, zero: S)(
      f: (S, DataFrame, Long) => S): S = {
    val state = new java.util.concurrent.atomic.AtomicReference[S](zero)
    if (Stage.hasPart(spark, dir)) {
      val step: (DataFrame, Long) => Unit =
        (batch, batchId) => state.set(f(state.get, batch, batchId))
      val ckpt = Stage.scratch("graft-ckpt-feb-")
      // try/finally spans start() too (cf. runToMemory): a config error
      // that throws from start() must still clean up the checkpoint dir
      try {
        spark.readStream.schema(graft.Tables.schemaOf(spark, dir))
          .option("maxFilesPerTrigger", 1)
          .parquet(dir)
          .writeStream
          .foreachBatch(step)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      } finally deleteRecursively(ckpt)
    }
    state.get
  }

  private[graft] def deleteRecursively(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val paths = Files.walk(root).iterator().asScala.toSeq.reverse
    paths.foreach(p => Files.deleteIfExists(p))
  }
}
