package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Stage]] is the one owner of staged inputs, per-batch stores and
  * driver-held models: memoized per (name, sf dir), nestable, retried after
  * a failed build, and all on disk under one root. It also owns each
  * query's blocks: [[Stage.query]] releases every cache and checkpoint
  * block the query made.
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

  /** "file: word" for every `words` hit in a src/main source, the files
    * named in `exempt` skipped. */
  private def sourceHits(words: Seq[String], exempt: Set[String]): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val stream = Files.walk(root)
    try stream.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => exempt(p.getFileName.toString))
      .flatMap { (p: Path) =>
        val src = Files.readString(p)
        words.filter(src.contains).map(w => s"$p: $w")
      }
    finally stream.close()
  }

  test("ConcurrentHashMap, addShutdownHook and createTempDirectory appear in src/main only in Stage.scala") {
    val offenders = sourceHits(
      Seq("ConcurrentHashMap", "addShutdownHook", "createTempDirectory"),
      Set("Stage.scala"))
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("only Stage.scala releases blocks; CacheScope is gone") {
    val offenders =
      sourceHits(Seq("clearCache(", "getPersistentRDDs"), Set("Stage.scala")) ++
        sourceHits(Seq("CacheScope"), Set.empty)
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Bytes in memory or on disk of the persistent RDDs outside `ids`. */
  private def bytesOutside(ids: Set[Int]): Long =
    spark.sparkContext.getRDDStorageInfo
      .filterNot(i => ids(i.id)).map(i => i.memSize + i.diskSize).sum

  test("Stage.query releases every block of CC, HITS and nearDuplicates") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (6L, 4L), (7L, 8L))
      .toDF("a", "b")
    val before = persistentIds
    val (heldInside, bytesInside) = Stage.query(spark) {
      assert(graft.operators.Components.connectedComponents(edges, "a", "b")
        .select("component").distinct().count() == 3)
      val (hubs, auths) = graft.operators.Graph.hits(edges, "a", "b", iters = 3)
      assert(hubs.count() > 0 && auths.count() > 0)
      assert(graft.operators.Dedup.nearDuplicates(
        Tables.documents(spark, sf), "doc_id", "text").count() >= 0)
      (persistentIds -- before, bytesOutside(before))
    }
    assert(heldInside.size >= 3, s"the operators persisted only $heldInside")
    assert(bytesInside > 0)
    assert(persistentIds.subsetOf(before), persistentIds -- before)
    assert(bytesOutside(before) == 0)
  }

  test("a released checkpoint-backed frame fails loudly when re-read") {
    val frame = Stage.query(spark) {
      val c = spark.range(1000).repartition(4).localCheckpoint()
      assert(c.count() == 1000)
      c
    }
    val e = intercept[Exception](frame.count())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")),
      messages.mkString(" | "))
  }

  test("Stage.query releases its blocks when the action throws") {
    val before = persistentIds
    intercept[IllegalStateException] {
      Stage.query(spark) {
        val c = spark.range(100).localCheckpoint()
        c.count()
        assert(persistentIds.size > before.size)
        throw new IllegalStateException("query failed")
      }
    }
    assert(persistentIds.subsetOf(before), persistentIds -- before)
  }

  test("a Stage.once path built inside Stage.query outlives it") {
    var builds = 0
    def staged() = Stage.query(spark) {
      Stage.parquet("stage-spec-query-", "spec") {
        builds += 1
        spark.range(10).localCheckpoint().toDF()
      }
    }
    val first = staged()
    assert(staged() == first)
    assert(builds == 1)
    assert(Stage.query(spark)(spark.read.parquet(first).count()) == 10)
  }
}
