package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated test tables (TESTDATA.md / FIXTURES.md §2).
  *
  * All loads are plain parquet scans — column pruning and predicate pushdown
  * reach the scan via Catalyst, so callers should `select`/`filter` early and
  * let the optimizer prune (verified via `.explain("formatted")`:
  * `PushedFilters` / `ReadSchema`).
  *
  * A bare `spark.read.parquet` starts one Spark job to infer the schema from
  * the footers, before the query's own jobs. Each load here instead reads
  * with the schema [[schemaOf]] resolved once per path, so a load starts no
  * job; it still builds a fresh relation with fresh expression IDs, so
  * self-joins and plans are as before.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The session confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
    SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.PARQUET_BINARY_AS_STRING,
    SQLConf.PARQUET_INT96_AS_TIMESTAMP,
    SQLConf.PARQUET_SCHEMA_MERGING_ENABLED).map(_.key)

  /** The schema `spark.read.parquet(path)` infers, inferred once and kept
    * in [[Stage.once]]. The key is the path, every file under it (path,
    * size and mtime, listed by [[Stage.files]]) and the session's values
    * of the confs that change inference, so a rewritten file or a flipped
    * conf infers again. A missing path lists nothing and fails in the
    * read, as the plain read does. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val files = Stage.files(spark, path)
      .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
      .toSeq.sorted
    val confs = inferenceConfs.map(k => s"$k=${spark.conf.get(k)}")
    Stage.once((confs ++ files).mkString("schema|", "|", ""), path) {
      spark.read.parquet(path).schema
    }
  }

  /** The parquet at `path`, read with its [[schemaOf]] schema. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** Normalize an events-style `ts` column to a session-zoned TIMESTAMP
    * (micros) no matter which physical type the driver's generator produced:
    *
    *   - TIMESTAMP(NANOS): Spark can't read it natively, so
    *     [[GraftSession.tune]] pins `legacy.parquet.nanosAsLong` and the
    *     column arrives as a nanos LONG — truncate ns→µs exactly like
    *     DuckDB's ns→µs TIMESTAMP conversion does.
    *   - TIMESTAMP_NTZ (µs, no zone): reinterpret the wall-clock as a UTC
    *     instant (session TZ is pinned to UTC, so the cast is value-exact
    *     and matches DuckDB's naive read of the same column).
    *   - already-zoned TIMESTAMP: pass through.
    *
    * Works on batch and streaming frames alike (pure projection).
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(colName).dataType match {
      case LongType =>
        // The ns→µs division is only valid when the LONG is a nanosAsLong
        // read of TIMESTAMP(NANOS) — require the flag that causes that
        // read, so a generator that someday writes plain epoch-micros as
        // un-annotated INT64 fails loudly here instead of silently
        // producing timestamps 1000× too small (ADVICE r10).
        require(df.sparkSession.conf
            .getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"),
          s"'$colName' arrived as LONG but legacy.parquet.nanosAsLong is not " +
            "set — refusing to guess the epoch unit")
        // The flag alone can't close the hole: GraftSession.tune pins
        // nanosAsLong session-wide, so a plain epoch-µs INT64 column would
        // still reach this branch and come out 1000× too small. Guard the
        // VALUE: a ns→µs conversion of any plausible event time lands in
        // [1990, 2100); anything outside raises per-row instead of
        // silently shifting the timeline (ADVICE r11). Two codegen'd
        // comparisons per row, lazy — no extra action.
        locally {
          import org.apache.spark.sql.functions.{concat, lit, raise_error, when}
          val us = expr(s"$colName div 1000")
          val lo = 631152000000000L    // 1990-01-01T00:00:00Z in µs
          val hi = 4102444800000000L   // 2100-01-01T00:00:00Z in µs
          val guarded = when(col(colName).isNull,
              timestamp_micros(lit(null).cast(LongType)))
            .when(us >= lo && us < hi, timestamp_micros(us))
            .otherwise(raise_error(concat(
              lit(s"'$colName' ns->us conversion lands outside [1990, 2100): " +
                "raw value "), col(colName).cast("string"),
              lit(" — is the column really TIMESTAMP(NANOS)?"))).cast(TimestampType))
          df.withColumn(colName, guarded)
        }
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
  }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `documents`, fanned out to one partition per core BEFORE heavy per-row
    * text work (shingling, per-row signatures). The fixture is a single
    * parquet split, so without this every pre-shuffle map stage runs on one
    * core; the explicit partition count matters — an unpinned repartition
    * is AQE-coalesced back to ~one task at fixture volume. At deploy scale
    * the source has many splits and this helper is a no-op to drop (it
    * exists so the fixture-shape workaround lives in ONE place, not
    * sprinkled through operators).
    */
  def documentsSpread(s: SparkSession, d: String): DataFrame =
    documents(s, d).repartition(
      s.sparkContext.defaultParallelism,
      org.apache.spark.sql.functions.col("doc_id"))
}
