package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.SessionBridge

/** One shared local session for the whole forked test JVM — Spark startup
  * is ~5 s, so per-suite sessions would dominate test time. Suites must not
  * mutate session state beyond what GraftSession.tune pins.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("graft-test", 8)

  /** Smallest driver-generated SF — correctness, not throughput. */
  val sf = "/root/testdata/sf0.001"

  /** Counts the Spark jobs started while it is open. The listener bus is
    * drained before the listener is added, before every read and
    * before it is removed, so `jobs` holds exactly the jobs submitted in
    * between, also when read after `close()`. */
  final class JobCounter extends AutoCloseable {
    private val started = new AtomicInteger
    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    SessionBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)

    def jobs: Int = { SessionBridge.drainListenerBus(spark); started.get }

    def close(): Unit = {
      SessionBridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
