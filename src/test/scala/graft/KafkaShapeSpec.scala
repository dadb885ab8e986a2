package graft

import graft.sinks.Sinks
import graft.sources.KafkaWire
import org.scalatest.funsuite.AnyFunSuite

/** Pins the wire shape of the three broker-needing Kafka functions — the
  * only code in the repo that cannot execute in this container (no
  * `spark-sql-kafka-0-10` jar, no broker).
  *
  * Two layers:
  *   1. the option sets the builders hand to the data source are pure data
  *      ([[KafkaWire.scanOptions]] / [[Sinks.kafkaWriteOptions]]) and are
  *      asserted verbatim against the reference's usage
  *      (`spark_airports_final.py:19-24`, `spark_kafka_direct.py:21-27`,
  *      NiFi `tp.xml:849,875,853`);
  *   2. calling the builders themselves is proven to fail at exactly ONE
  *      step — Spark's data-source lookup for format "kafka" — i.e. the
  *      impossibility is the missing connector jar, not a defect in the
  *      builder code. With the jar on the classpath the same calls proceed
  *      past this step unchanged.
  */
class KafkaShapeSpec extends AnyFunSuite {
  import TestSpark.spark

  test("batch/stream scans pass exactly the reference's subscribe options") {
    val opts = KafkaWire.scanOptions("broker:9092", "airports")
    assert(opts == Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "subscribe" -> "airports",
      "startingOffsets" -> "earliest"))
    assert(KafkaWire.scanOptions("b:1", "t", "latest")("startingOffsets") == "latest")
  }

  test("producer sink passes keyed-write options with acks=all") {
    assert(Sinks.kafkaWriteOptions("broker:9092", "out") == Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "topic" -> "out",
      "kafka.acks" -> "all"))
  }

  test("without the connector jar, all three fail at the kafka data-source lookup") {
    def failsAtLookup(body: => Any): Unit = {
      val e = intercept[Throwable](body)
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      // pin the *lookup* as the failing step. Spark 4 has TWO wordings: the
      // batch path raises DATA_SOURCE_NOT_FOUND ("Failed to find the data
      // source: kafka") while the streaming path's kafka-specific hint says
      // "Failed to find data source: kafka. Please deploy the application as
      // per the deployment section of Structured Streaming + Kafka
      // Integration Guide." — match both. A mere "kafka" substring would
      // also match a broker connection error if a connector jar ever landed
      // on the test classpath — which should fail this test, not pass it.
      val lookupFailure = msgs.contains("DATA_SOURCE_NOT_FOUND") ||
        msgs.toLowerCase.contains("failed to find the data source: kafka") ||
        msgs.toLowerCase.contains("failed to find data source: kafka")
      assert(lookupFailure,
        s"expected the kafka data-source lookup to be the failing step, got: $msgs")
    }
    failsAtLookup(KafkaWire.batch(spark, "broker:9092", "t"))
    failsAtLookup(graft.streaming.Streams.kafkaStream(spark, "broker:9092", "t"))
    failsAtLookup {
      import spark.implicits._
      Sinks.kafkaWrite(Seq(("k", "v")).toDF("key", "value"), "broker:9092", "t")
    }
  }
}
