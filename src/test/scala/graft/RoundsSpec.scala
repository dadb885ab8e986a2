package graft

import graft.operators.Rounds
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The round scope every iterative operator runs in: the width clamp,
  * the checkpoint-and-count on entry, the private clone and the way back
  * to the caller — and that nothing in src/main rebuilds them by hand.
  */
class RoundsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val Width = "spark.sql.shuffle.partitions"

  test("narrowed counts like count() and adds no job to the checkpoint's") {
    val grouped = spark.range(0, 1000, 1, 4).toDF("id")
      .groupBy(($"id" % 37).as("k")).count() // an exchange under the checkpoint
    val empty = grouped.filter(lit(false))
    for (df <- Seq(grouped, empty)) {
      val expected = df.count()
      val plain = new TestSpark.JobCounter
      try df.localCheckpoint() finally plain.close()
      val counted = new TestSpark.JobCounter
      val (chk, n) = try Rounds.narrowed(df) finally counted.close()
      assert(n == expected)
      assert(counted.jobs == plain.jobs)
      assert(chk.collect().length == expected)
    }
  }

  test("width clamps to [1, configured] and scales with measured rows") {
    // ~2M rows/partition, never 0, never above the session setting
    assert(Rounds.width(32, 0L) == 1)
    assert(Rounds.width(32, 1999999L) == 1)
    assert(Rounds.width(32, 2000000L) == 2)
    assert(Rounds.width(32, 10000000L) == 6)
    assert(Rounds.width(32, 1000000000L) == 32) // capped
    assert(Rounds.width(4, 1000000000L) == 4)
    assert(Rounds.width(1, 0L) == 1)
  }

  test("narrowed binds a private clone at the clamped width; the caller's conf never moves") {
    val before = spark.conf.get(Width)
    val (chk, n) = Rounds.narrowed(spark.range(0, 1000, 1, 4).toDF("id"))
    val round = chk.sparkSession
    assert(round ne spark, "the round frame is bound to the caller's session")
    assert(round.conf.get(Width).toInt == Rounds.width(before.toInt, n))
    assert(spark.conf.get(Width) == before)
    // the per-round re-size moves the clone only
    Rounds.resize(chk, spark, 1000000000L)
    assert(round.conf.get(Width).toInt == before.toInt)
    assert(spark.conf.get(Width) == before)
    // the store-measured entry clamps the same way
    assert(Rounds.scope(spark, 0L).conf.get(Width).toInt == 1)
    assert(Rounds.scope(spark, 1L << 40).conf.get(Width) == before)
    assert(spark.conf.get(Width) == before)
    val out = Rounds.back(chk, spark)
    assert(out.sparkSession eq spark)
    assert(out.count() == n)
  }

  test("the round scope is built only in Rounds.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val stream = Files.walk(root)
    val sources =
      try stream.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala"))
        .map((p: Path) => p -> Files.readString(p))
      finally stream.close()
    val preamble = Seq("narrowClone", "roundWidth", "checkpointCounted",
      "Components.rebind", "conf.get(\"spark.sql.shuffle.partitions\")")
    val clones = "cloneSession"
    // Streams.runToMemory scopes a streaming query's state width, not rounds
    def runToMemory(src: String): String = {
      val a = src.indexOf("def runToMemory(")
      val b = src.indexOf("\n  def ", a + 1)
      if (a < 0) "" else src.substring(a, if (b < 0) src.length else b)
    }
    def count(s: String, w: String): Int =
      s.split(java.util.regex.Pattern.quote(w), -1).length - 1
    val offenders = sources.flatMap { case (p, src) =>
      p.getFileName.toString match {
        case "Rounds.scala" => Nil
        case "SessionBridge.scala" => preamble.filter(src.contains).map(w => s"$p: $w")
        case name =>
          val allowed = if (name == "Streams.scala") count(runToMemory(src), clones) else 0
          (preamble.filter(src.contains) ++
            Seq(clones).filter(count(src, _) > allowed)).map(w => s"$p: $w")
      }
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
