package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-contract guards in [[Tables]]: normalizeTs must convert real
  * nanos exactly and REFUSE a wrong-unit column instead of silently
  * shifting the timeline 1000× (the session pins nanosAsLong globally, so
  * the flag check alone can't tell plain epoch-µs INT64 from a nanos read
  * — only the value range can).
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private def roundTrip(values: Seq[java.lang.Long]): org.apache.spark.sql.DataFrame = {
    // write plain INT64 (no timestamp annotation) and read it back, exactly
    // what a regenerated fixture with un-annotated epoch columns would give
    val dir = Stage.scratch("graft-ts-").toString + "/t"
    spark.createDataFrame(
      java.util.Arrays.asList(values.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.LongType)))).write.parquet(dir)
    Tables.normalizeTs(spark.read.parquet(dir))
  }

  test("normalizeTs converts plausible nanos exactly (and passes null through)") {
    val ns = 1771286400L * 1000000000L + 123456789L // 2026-02-17, sub-µs tail
    val rows = roundTrip(Seq(Long.box(ns), null))
      .select(unix_micros(col("ts"))).collect()
    assert(rows.count(_.isNullAt(0)) == 1, "null ts must pass through, not raise")
    assert(rows.filterNot(_.isNullAt(0)).head.getLong(0) == ns / 1000L,
      "ns→µs truncation must match DuckDB's")
  }

  test("normalizeTs raises on a planted wrong-unit (epoch-micros) column") {
    val us = 1771286400L * 1000000L // same instant, but already micros
    val e = intercept[Exception] {
      roundTrip(Seq(us)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("outside [1990, 2100)")),
      s"expected the range guard, got: $e")
  }

  test("the real events fixture still normalizes in-range") {
    assert(Tables.events(spark, sf)
      .filter(year(col("ts")).between(1990, 2099)).count() ==
      Tables.events(spark, sf).count())
  }
}
