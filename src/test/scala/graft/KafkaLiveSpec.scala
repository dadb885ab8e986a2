package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Live-broker Kafka round-trip — ACTIVATES only when
  * `SPARK_GRAFT_KAFKA_BOOTSTRAP` points at a reachable broker AND the
  * `spark-sql-kafka-0-10` connector is on the classpath; otherwise every
  * test here cancels (reported as canceled, not failed — skipped-green in
  * the sandbox, exercised for free the day an environment has a broker).
  *
  * This is the S1/S2/K3 path KafkaShapeSpec can only shape-check: produce
  * through [[graft.sinks.Sinks.kafkaWrite]] (keyed, acks=all — NiFi
  * PublishKafka semantics, `tp.xml:849,875,853`), read back with
  * [[graft.sources.KafkaWire.batch]] (`spark_airports_final.py:19-24`),
  * and drive one AvailableNow streaming pass over the same topic
  * (`spark_kafka_direct.py:21-27`).
  */
class KafkaLiveSpec extends AnyFunSuite {
  import TestSpark.spark

  private def bootstrap: String = {
    val bs = sys.env.getOrElse("SPARK_GRAFT_KAFKA_BOOTSTRAP", "")
    assume(bs.nonEmpty,
      "SPARK_GRAFT_KAFKA_BOOTSTRAP not set — no broker in this environment")
    assume(
      scala.util.Try(org.apache.spark.sql.execution.datasources.DataSource
        .lookupDataSource("kafka", spark.sessionState.conf)).isSuccess,
      "kafka connector jar not on the classpath")
    bs
  }

  test("K3→S1: keyed batch write round-trips through a live topic") {
    val bs = bootstrap
    val topic = s"graft-live-${java.util.UUID.randomUUID().toString.take(8)}"
    val rows = spark.range(10)
      .select(concat(lit("k"), col("id")).as("key"),
        concat(lit("v"), col("id")).as("value"))
    graft.sinks.Sinks.kafkaWrite(rows, bs, topic)
    val back = graft.sources.KafkaWire.batch(spark, bs, topic)
      .select(col("key").cast("string"), col("value").cast("string"))
    assert(back.count() == 10)
    assert(back.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      (0 until 10).map(i => s"k$i" -> s"v$i").toMap)
    // the live schema must be exactly the one every downstream consumer
    // (Etl.parse, the surrogate) was built against
    assert(graft.sources.KafkaWire.batch(spark, bs, topic).schema ==
      graft.sources.KafkaWire.wireSchema)
  }

  test("S2: streaming scan drains the same topic under AvailableNow") {
    val bs = bootstrap
    val topic = s"graft-live-${java.util.UUID.randomUUID().toString.take(8)}"
    graft.sinks.Sinks.kafkaWrite(
      spark.range(7).select(concat(lit("k"), col("id")).as("key"),
        concat(lit("v"), col("id")).as("value")), bs, topic)
    val q = graft.streaming.Streams.kafkaStream(spark, bs, topic)
      .select(col("value").cast("string").as("value"))
      .writeStream.format("memory").queryName("kafka_live_s2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000L)
    assert(spark.table("kafka_live_s2").count() == 7)
  }
}
