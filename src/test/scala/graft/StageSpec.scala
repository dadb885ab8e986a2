package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** [[Stage]] is the one owner of staged inputs, per-batch stores and
  * driver-held models: memoized per (name, sf dir), nestable, retried after
  * a failed build, and all on disk under one root. It owns the per-batch
  * store format: a replayed batch rewrites only its own dir, and reads
  * and sizes list through Hadoop `FileSystem`. It also owns each
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

  /** "file: word" for every `words` hit in a source under `dir`, the
    * files named in `exempt` skipped. */
  private def sourceHits(words: Seq[String], exempt: Set[String],
                         dir: String = "src/main/scala"): Seq[String] = {
    val root = Paths.get(dir)
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

  test("queries replay through Streams.replay only; readStream lives in Streams.scala") {
    val offenders =
      sourceHits(Seq("maxFilesPerTrigger", "foreachBatch", "java.util.concurrent.atomic"),
        Set.empty, "src/main/scala/graft/queries") ++
        sourceHits(Seq("readStream"), Set("Streams.scala"))
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("the per-batch store format is spelled out only in Stage.scala") {
    val offenders =
      sourceHits(Seq("batch_id=", "partitionOverwriteMode"), Set("Stage.scala")) ++
        sourceHits(Seq("java.io.File"), Set.empty, "src/main/scala/graft/queries") ++
        sourceHits(Seq("java.io.File"), Set.empty, "src/main/scala/graft/streaming")
    assert(offenders.isEmpty, offenders.mkString(", "))
    assert(Files.readString(Paths.get("src/main/scala/graft/IncrementalLedger.scala"))
      .contains("Stage.batchOf"))
  }

  test("in graft.streaming only Streams.oneWave sets a partition count") {
    val words = Seq(".coalesce(", ".repartition(")
    val streams = Paths.get("src/main/scala/graft/streaming/Streams.scala")
    val src = Files.readString(streams)
    val helper = src.indexOf("private def oneWave(")
    assert(helper >= 0, s"$streams: oneWave is gone")
    // the helper's definition runs to the first blank line after it
    val end = src.indexOf("\n\n", helper)
    val outside = src.take(helper) + src.drop(end)
    val offenders =
      sourceHits(words, Set("Streams.scala"), "src/main/scala/graft/streaming") ++
        words.filter(outside.contains).map(w => s"$streams: $w")
    assert(offenders.isEmpty, offenders.mkString(", "))
    assert(src.slice(helper, end).contains(".coalesce("), "oneWave no longer bounds its input")
  }

  /** The subdir of `store` that holds batch `b`. */
  private def batchDir(store: String, b: Long): Path =
    Files.list(Paths.get(store)).iterator().asScala
      .find(p => Stage.batchOf(p.getFileName.toString).contains(b))
      .getOrElse(fail(s"no dir for batch $b in $store"))

  test("a replayed append rewrites its batch dir, stray part files included") {
    import spark.implicits._
    val store = Stage.scratch("stage-spec-append-").toString
    Stage.append(store, 0, Seq(1L, 2L).toDF("x"))
    Stage.append(store, 1, Seq(7L).toDF("x"))
    // a killed attempt at batch 1 left one more part file in its dir
    val dir1 = batchDir(store, 1)
    val part = Files.list(dir1).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    Files.copy(part, dir1.resolve("part-99999-stray.parquet"))
    assert(Stage.read(spark, store, spark.emptyDataFrame).count() == 4)
    Stage.append(store, 1, Seq(3L, 4L).toDF("x"))
    val rows = Stage.read(spark, store, spark.emptyDataFrame)
      .select(col("x"), col("batch_id").cast("long")).as[(Long, Long)].collect()
    assert(rows.sorted.toSeq == Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)))
  }

  test("a replayed appendKinds batch keeps no kind the replay left out") {
    import spark.implicits._
    val store = Stage.scratch("stage-spec-kinds-").toString
    def batch(b: Long, as: Seq[Long], bs: Seq[Long]): Unit =
      Stage.appendKinds(store, b, Seq("a" -> as.toDF("x"), "b" -> bs.toDF("x")))
    def kind(k: String): Seq[(Long, Long)] =
      Stage.readKind(spark, store, k, spark.emptyDataFrame)
        .select(col("x"), col("batch_id").cast("long")).as[(Long, Long)]
        .collect().sorted.toSeq
    batch(0, Seq(1L), Seq(10L))
    batch(1, Seq(2L), Seq(20L))
    batch(1, Seq(3L), Seq.empty)
    assert(kind("a") == Seq((1L, 0L), (3L, 1L)))
    assert(kind("b") == Seq((10L, 0L)))
  }

  test("read and readKind return the typed empty frame when no dir holds a part file") {
    val store = Stage.scratch("stage-spec-empty-")
    Files.createDirectories(store.resolve("batch_id=0"))
    Files.writeString(store.resolve("batch_id=0/_SUCCESS"), "")
    val empty = spark.range(0).select(col("id").as("x"))
    Seq(Stage.read(spark, store.toString, empty),
      Stage.readKind(spark, store.toString, "a", empty)).foreach { df =>
      assert(df.schema == empty.schema)
      assert(df.count() == 0)
    }
    assert(Stage.read(spark, store.resolve("missing").toString, empty).count() == 0)
  }

  /** A `len`-byte file at `p` that takes no disk blocks. */
  private def sparse(p: Path, len: Long): Unit = {
    val f = new RandomAccessFile(p.toFile, "rw")
    try f.setLength(len) finally f.close()
  }

  test("width counts a 65 MiB store as 2, on a plain path and off file://") {
    val dir = Stage.scratch("stage-spec-width-")
    sparse(dir.resolve("part-00000.parquet"), 65L << 20)
    assert(Stage.width(spark, Seq(dir.toString)) == 2)
    // the same dir under a scheme other than file, where a java.io.File
    // walk of the path string finds nothing
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftother.impl", classOf[OtherSchemeFileSystem].getName)
    val other = s"graftother://$dir"
    assert(!new java.io.File(other).exists())
    assert(Stage.width(spark, Seq(other)) == 2)
    assert(Stage.hasPart(spark, other))
    assert(Stage.width(spark, Seq(s"$other-missing")) == 1)
  }

  test("width is the byte sum of every file under a local store / 64 MiB + 1") {
    import spark.implicits._
    val store = Stage.scratch("stage-spec-bytes-")
    Stage.append(store.toString, 0, Seq(1L, 2L).toDF("x"))
    def bytes(): Long = {
      val files = Files.walk(store).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      assert(files.exists(_.toString.endsWith(".crc")))
      files.map(Files.size).sum
    }
    assert(Stage.width(spark, Seq(store.toString)) == 1)
    // pad to exactly 64 MiB of files, checksum sidecars included
    sparse(store.resolve("pad"), (64L << 20) - bytes())
    assert(bytes() == (64L << 20))
    assert(Stage.width(spark, Seq(store.toString)) == bytes() / (64L << 20) + 1)
    assert(Stage.width(spark, Seq(store.toString)) == 2)
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

/** The local file system under another scheme: stands in for a store
  * that is not on `file://`. */
class OtherSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftother:///")
}
