package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kafka source adapters (SURVEY.md §2.1 S1/S2) + a file-backed surrogate.
  *
  * The real connectors are thin option-builders over Spark's kafka data
  * source (`spark-sql-kafka-0-10`); this container ships no Kafka jars or
  * broker, so tests run against [[surrogate]] — a DataFrame with the exact
  * fixed schema the Kafka source produces (printed by the reference at
  * `spark_kafka_direct.py:32`). Everything downstream (Etl.parse etc.)
  * consumes only that schema, so swapping surrogate → real source is a
  * one-line change at the edge.
  */
object KafkaWire {

  /** The Kafka source's fixed schema. */
  val wireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** The exact option set both scans hand to the kafka data source —
    * exposed as pure data so KafkaShapeSpec can pin the wire shape even
    * though `load()` itself cannot run here (no connector jar: the resolve
    * step `DataSource.lookupDataSource("kafka")` is the one that throws,
    * asserted in the spec). */
  def scanOptions(bootstrap: String, topic: String,
                  startingOffsets: String = "earliest"): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets)

  /** S1: batch scan of a topic from earliest
    * (`spark_airports_final.py:19-24`). Requires the kafka connector on the
    * classpath at runtime. */
  def batch(spark: SparkSession, bootstrap: String, topic: String,
            startingOffsets: String = "earliest"): DataFrame =
    spark.read.format("kafka")
      .options(scanOptions(bootstrap, topic, startingOffsets))
      .load()

  /** Surrogate wire: wrap (key, value) string columns of `df` into the
    * Kafka schema — deterministic offsets by key order within one
    * partition, epoch timestamp. For tests and oracle-checked queries.
    * Field names and types match [[wireSchema]] exactly; the literal
    * columns are statically non-nullable, which is strictly *stronger*
    * than the all-nullable schema the real source declares — every
    * consumer of the real schema accepts the surrogate's. */
  def surrogate(df: DataFrame, keyCol: String, valueCol: String,
                topic: String): DataFrame = {
    // test surrogate only: the un-partitioned global Window (deterministic
    // offsets) is a single-task bottleneck — fine on fixtures, never on a
    // real topic (the real source gets offsets from the broker per
    // partition)
    val w = Window.orderBy(col(keyCol))
    df.select(
      encode(col(keyCol).cast("string"), "UTF-8").as("key"),
      encode(col(valueCol).cast("string"), "UTF-8").as("value"),
      lit(topic).as("topic"),
      lit(0).as("partition"),
      (row_number().over(w) - 1).cast("long").as("offset"),
      timestamp_seconds(lit(0)).as("timestamp"),
      lit(0).as("timestampType"))
  }
}
