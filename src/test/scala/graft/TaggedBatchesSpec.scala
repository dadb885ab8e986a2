package graft.queries

import graft.Stage
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.Stage.batches]] stages every replayed arrival stream and
  * [[graft.streaming.Streams.replay]] reads it. The order-SENSITIVE
  * q303/q304 warm-recurrence oracles replay batch b as "rows with
  * tag ≤ b", which is only sound if (a) batch membership equals the
  * portable pmod(a+b, 4) tag and (b) micro-batch ARRIVAL follows tag
  * order; the set-semantics streams need membership that does not move
  * between regenerations. All pinned here through the real streaming
  * engine.
  */
class TaggedBatchesSpec extends AnyFunSuite {
  import graft.TestSpark.spark

  test("tag = batchId, arrival in tag order, empty tags keep their slot") {
    import spark.implicits._
    // tags: (1+2)%4=3, (2+2)%4=0, (5+6)%4=3, (0+0)%4=0 — tags 1 and 2 EMPTY
    val pairs = Seq((1L, 2L), (2L, 2L), (5L, 6L), (0L, 0L)).toDF("a", "b")
    def stage() = Stage.batches("graft-test-tagged-", "spec", 4)(
      pairs.withColumn("slot", pmod(col("a") + col("b"), lit(4))))
    val dir = stage()
    val byBatch = Streams.replay(spark, dir, Vector.empty[(Long, Set[Long])]) {
      (seen, df, b) =>
        seen :+ (b -> df.select(pmod(col("a") + col("b"), lit(4)))
          .collect().map(_.getLong(0)).toSet)
    }
    // exactly 4 micro-batches, one per tag file, in tag order
    assert(byBatch.map(_._1) == Seq(0L, 1L, 2L, 3L))
    // every row's tag equals its batch id; empty tags arrive as empty batches
    assert(byBatch.map(_._2) == Seq(Set(0L), Set.empty[Long], Set.empty[Long], Set(3L)))
    // the slot column is not staged
    assert(spark.read.parquet(dir).columns.toSeq == Seq("a", "b"))
    // staging is memoized per (name, sf key) — same dir on re-ask
    assert(stage() == dir)
  }

  test("a hash split stages the same batches from 1 and from 7 input partitions") {
    val rows = spark.range(200).select(col("id").as("doc_id"),
      (col("id") * 7L % 13L).as("v"))
    def membership(parts: Int): Seq[Set[Long]] = {
      val dir = Stage.batches(s"graft-test-hash-$parts-", "spec", 4)(
        rows.repartition(parts)
          .withColumn("slot", pmod(xxhash64(col("doc_id")), lit(4))))
      Streams.replay(spark, dir, Vector.empty[Set[Long]]) { (seen, df, _) =>
        seen :+ df.select("doc_id").collect().map(_.getLong(0)).toSet
      }
    }
    val one = membership(1)
    assert(one.size == 4 && one.forall(_.nonEmpty))
    assert(one.reduce(_ ++ _) == (0L until 200L).toSet)
    assert(membership(7) == one)
  }

  test("Streams.replay returns the fold of every batch in slot order") {
    import spark.implicits._
    val dir = Stage.batches("graft-test-fold-", "spec", 3)(
      Seq((10L, 2), (20L, 0), (30L, 1), (40L, 2)).toDF("x", "slot"))
    // a non-commutative fold: the digits record the arrival order
    val folded = Streams.replay(spark, dir, 0L) { (acc, df, b) =>
      acc * 1000 + df.agg(sum("x")).collect().head.getLong(0) + b
    }
    assert(folded == (20L * 1000 + 31L) * 1000 + 52L)
  }

  test("Streams.replay of a dir with no batch returns zero") {
    val empty = Stage.scratch("graft-test-nobatch-").toString
    assert(Streams.replay(spark, empty, "zero") { (_, _, _) => "fired" } == "zero")
  }
}
