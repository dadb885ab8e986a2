package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-contract guards in [[Tables]]: normalizeTs must convert real
  * nanos exactly and REFUSE a wrong-unit column instead of silently
  * shifting the timeline 1000× (the session pins nanosAsLong globally, so
  * the flag check alone can't tell plain epoch-µs INT64 from a nanos read
  * — only the value range can). And the schema memo: a load after the
  * first starts no Spark job, gives the plain read's schema and rows, and
  * infers again when the files or the inference confs change.
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark.{sf, spark, JobCounter}

  private def path(name: String) = s"$sf/$name.parquet"

  /** `df` written as the one file `<dir>/t.parquet`, replacing it. */
  private def writeFile(df: org.apache.spark.sql.DataFrame, dir: Path): String = {
    val tmp = Stage.scratch("graft-schema-tmp-")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    val target = dir.resolve("t.parquet")
    Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
    target.toString
  }

  test("a second load of a fixture starts no Spark job and returns the same rows") {
    val first = Tables.orders(spark, sf).collect().toSet
    val counter = new JobCounter
    val (plainJobs, loadJobs) =
      try {
        spark.read.parquet(path("orders"))
        val plain = counter.jobs
        Tables.orders(spark, sf)
        (plain, counter.jobs - plain)
      } finally counter.close()
    assert(plainJobs >= 1, "the plain read's inference job must be visible")
    assert(loadJobs == 0)
    assert(Tables.orders(spark, sf).collect().toSet == first)
  }

  test("every table's load has the plain read's schema, nullability included") {
    Tables.names.foreach { name =>
      assert(Tables.load(spark, sf, name).schema == spark.read.parquet(path(name)).schema, name)
    }
  }

  test("a self-join of two loads resolves and returns the right rows") {
    val a = Tables.nation(spark, sf).as("a")
    val b = Tables.nation(spark, sf).as("b")
    val pairs = a.join(b, col("a.n_regionkey") === col("b.n_regionkey"))
      .select(col("a.n_nationkey"), col("b.n_nationkey"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val regionOf = spark.read.parquet(path("nation")).collect().toSeq
      .map(r => r.getAs[Int]("n_nationkey") -> r.getAs[Int]("n_regionkey"))
    val expected = for ((x, rx) <- regionOf; (y, ry) <- regionOf if rx == ry) yield (x, y)
    assert(pairs == expected.toSet)
    assert(pairs.size > regionOf.size)
  }

  test("a file rewritten at the same path with another schema infers again") {
    import spark.implicits._
    val dir = Stage.scratch("graft-schema-")
    val file = writeFile(Seq(1L, 2L).toDF("a"), dir)
    assert(Tables.schemaOf(spark, file).fieldNames.toSeq == Seq("a"))
    writeFile(Seq(("x", 3)).toDF("b", "c"), dir)
    assert(Tables.schemaOf(spark, file).fieldNames.toSeq == Seq("b", "c"))
    assert(Tables.parquet(spark, file).as[(String, Int)].collect().toSeq == Seq(("x", 3)))
  }

  test("flipping parquet.binaryAsString on a binary column gives the other schema") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a plain parquet writer: Spark's own writer stores its schema in the
    // footer, and inference takes that over the conf
    val file = Stage.scratch("graft-schema-").resolve("t.parquet").toString
    val bin = MessageTypeParser.parseMessageType("message t { required binary bin; }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(bin).withConf(spark.sparkContext.hadoopConfiguration).build()
    try writer.write(new SimpleGroupFactory(bin).newGroup().append("bin", "hi"))
    finally writer.close()
    assert(Tables.schemaOf(spark, file)("bin").dataType == BinaryType)
    val asString = org.apache.spark.sql.graftbridge.SessionBridge.cloneSession(spark)
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables.schemaOf(asString, file)("bin").dataType == StringType)
    assert(Tables.schemaOf(spark, file)("bin").dataType == BinaryType)
  }

  test("a missing path fails in schemaOf as the plain read does") {
    val missing = Stage.scratch("graft-schema-").resolve("absent.parquet").toString
    def failure(read: => Any) =
      intercept[org.apache.spark.sql.AnalysisException](read).getCondition
    assert(failure(spark.read.parquet(missing)) == "PATH_NOT_FOUND")
    assert(failure(Tables.schemaOf(spark, missing)) == "PATH_NOT_FOUND")
  }

  test("read.parquet(...).schema appears in src/main only in Tables.scala") {
    val schemaRead = """read\.parquet\((?:[^()]|\([^()]*\))*\)\s*\.schema\b""".r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val stream = Files.walk(root)
    val offenders =
      try stream.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "Tables.scala")
        .filter((p: Path) => schemaRead.findFirstIn(Files.readString(p)).isDefined)
      finally stream.close()
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

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
