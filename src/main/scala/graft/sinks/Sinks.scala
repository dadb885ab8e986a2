package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sink adapters (SURVEY.md §2.2 K1-K4) + the S3 read-back scan.
  *
  * JDBC semantics preserved from the reference
  * (`spark_airports_final.py:77-97`): `mode("overwrite")` drops/recreates
  * the table, per-partition parallel inserts are NOT atomic across
  * partitions (documented, not "fixed" — parity). The read-back with no
  * partitionColumn is a single-task scan, exactly like the reference's
  * verification read.
  *
  * The JDBC legs run against embedded Derby (`jdbc:derby:memory:...`) in
  * EtlLifecycleSpec — the only JDBC driver in this container; the
  * URL/driver are parameters, so Postgres at deploy time is a config
  * change whose column-type mapping (TEXT/FLOAT8) is pinned against
  * Spark's own PostgresDialect in PostgresDialectSpec. [[kafkaWrite]]
  * needs a broker + connector jar and is unexercised here: requires
  * external service (KafkaShapeSpec pins its option shape).
  */
object Sinks {

  /** K1: JDBC write with overwrite (`spark_airports_final.py:77-86`). */
  def jdbcWrite(df: DataFrame, url: String, table: String, driver: String,
                mode: SaveMode = SaveMode.Overwrite,
                props: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("driver", driver)
      .mode(mode)
    props.foreach { case (k, v) => w.option(k, v) }
    w.save()
  }

  /** S3: JDBC read-back for self-verification
    * (`spark_airports_final.py:91-97`). Single partition unless
    * partitionColumn options are supplied — matching the reference. */
  def jdbcRead(spark: SparkSession, url: String, table: String,
               driver: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("driver", driver)
      .load()

  /** The exact option set [[kafkaWrite]] hands to the kafka sink — pure
    * data so KafkaShapeSpec pins the wire shape without the connector jar
    * (the `save()` format-resolve step is what throws here; the spec
    * asserts that exact failure). */
  def kafkaWriteOptions(bootstrap: String, topic: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "topic" -> topic,
      "kafka.acks" -> "all")

  /** K3: Kafka producer sink (NiFi PublishKafka semantics: keyed writes,
    * acks=all — `tp.xml:849,875,853`). Input must have key/value columns.
    * Requires the kafka connector at runtime. */
  def kafkaWrite(df: DataFrame, bootstrap: String, topic: String): Unit =
    df.select(col("key").cast("string"), col("value").cast("string"))
      .write.format("kafka")
      .options(kafkaWriteOptions(bootstrap, topic))
      .save()

  /** K3-surrogate: durable keyed wire write for test round-trips. */
  def wireParquet(df: DataFrame, path: String): Unit =
    df.select(col("key").cast("string"), col("value").cast("string"))
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Compacted parquet write: bounds BOTH file-count and rows-per-file —
    * the two ends of the small-files/giant-files problem that kills
    * 100 TB table maintenance (a files.maxPartitionBytes-sized scan task
    * per tiny file; unsplittable memory spikes per huge one). `numFiles`
    * should track data volume / target file size (~128 MB-1 GB each). */
  def compactParquet(df: DataFrame, path: String, numFiles: Int,
                     maxRecordsPerFile: Long = 5000000L): Unit =
    df.repartition(numFiles)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)

  /** Bucketed managed-table write: rows are hash-bucketed (and sorted)
    * on `key` at write time, so every later equi-join or aggregation on
    * that key reads co-located buckets with NO exchange — the
    * pre-shuffled layout a 100 TB fact table wants (PlanSpec asserts the
    * shuffle-free join). Bucket count should match downstream
    * parallelism, not file-size targets. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
}
