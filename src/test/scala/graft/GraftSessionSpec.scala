package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The effective confs of the one session builder, read back from the
  * session the tests run on (built by `GraftSession.local`, as every graft
  * main's session is), and a source scan that keeps it the only builder.
  */
class GraftSessionSpec extends AnyFunSuite {
  import TestSpark.spark

  test("local() sets its creation-time confs") {
    val expected = Map(
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)
    expected.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("every conf tune() sets reads back") {
    val expected = Map(
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.constraintPropagation.enabled" -> "false",
      "spark.sql.codegen.useIdInClassName" -> "false")
    expected.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("the state-store provider stays at Spark's default") {
    val e = SQLConf.STATE_STORE_PROVIDER_CLASS
    assert(spark.conf.get(e.key) == e.defaultValueString, e.key)
  }

  test("SparkSession.builder appears in src/main only in GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val stream = Files.walk(root)
    val offenders =
      try stream.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "GraftSession.scala")
        .filter((p: Path) => Files.readString(p).contains("SparkSession.builder"))
      finally stream.close()
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
