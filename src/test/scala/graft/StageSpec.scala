package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Stage]] is the one owner of staged inputs, per-batch stores and
  * driver-held models: memoized per (name, sf dir), nestable, retried after
  * a failed build, and all on disk under one root.
  */
class StageSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  test("a staged copy is built once and the same dir comes back") {
    import spark.implicits._
    var builds = 0
    def stage() = Stage.parquet("stage-spec-copy-", "spec") {
      builds += 1
      Seq(1L, 2L).toDF("x")
    }
    val first = stage()
    assert(stage() == first)
    assert(builds == 1)
    assert(spark.read.parquet(first).count() == 2)
  }

  test("a chain of 32 once calls, each nested in the previous build, returns") {
    def chain(i: Int): Int =
      if (i == 32) 0 else Stage.once(s"stage-spec-chain-$i", "spec")(chain(i + 1) + 1)
    assert(chain(0) == 32)
  }

  test("a build that throws is not kept; the next call builds") {
    var builds = 0
    intercept[IllegalStateException] {
      Stage.once[String]("stage-spec-fail", "spec") {
        builds += 1
        throw new IllegalStateException("build failed")
      }
    }
    assert(Stage.once("stage-spec-fail", "spec") { builds += 1; "built" } == "built")
    assert(Stage.once("stage-spec-fail", "spec") { builds += 1; "rebuilt" } == "built")
    assert(builds == 2)
  }

  test("cleared empties the previous contents but keeps the path") {
    assert(Stage.existing("stage-spec-store-", "spec").isEmpty)
    val store = Stage.cleared("stage-spec-store-", "spec")
    Files.createDirectories(store.resolve("batch_id=0"))
    Files.writeString(store.resolve("batch_id=0/part.txt"), "x")
    assert(Stage.existing("stage-spec-store-", "spec").contains(store))
    assert(store.toFile.list().toSeq == Seq("batch_id=0"))
    assert(Stage.cleared("stage-spec-store-", "spec") == store)
    assert(Files.isDirectory(store) && store.toFile.list().isEmpty)
  }

  test("every staged path lies under Stage.root") {
    val paths = Seq(
      Stage.scratch("stage-spec-"),
      Stage.cleared("stage-spec-root-", "spec"),
      Paths.get(Stage.parquet("stage-spec-root-copy-", "spec")(spark.range(3).toDF())),
      Paths.get(graft.queries.TextDedupPack.stagedDocBatches(spark, sf)),
      Paths.get(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")))
    paths.foreach(p => assert(p.startsWith(Stage.root), p))
  }

  test("ConcurrentHashMap, addShutdownHook and createTempDirectory appear in src/main only in Stage.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val stream = Files.walk(root)
    val offenders =
      try stream.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "Stage.scala")
        .flatMap { (p: Path) =>
          val src = Files.readString(p)
          Seq("ConcurrentHashMap", "addShutdownHook", "createTempDirectory")
            .filter(src.contains).map(w => s"$p: $w")
        }
      finally stream.close()
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
