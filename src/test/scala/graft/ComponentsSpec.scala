package graft

import graft.operators.{Components, Graph, Rounds}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Connected components vs a driver-side union-find ground truth, across
  * graph shapes that stress different failure modes: random sparse graphs
  * (many small components), a long path (worst-case diameter — the shape
  * naive min-label propagation can't finish), cliques (dense merge), and
  * messy inputs (self-loops, duplicate + reversed edges).
  */
class ComponentsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Union-find reference: component = min node id. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def check(edges: Seq[(Long, Long)], clue: String): Unit = {
    val got = Components
      .connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = unionFind(edges.filter(e => e._1 != e._2))
    assert(got == expected, clue)
  }

  test("Rounds.resize re-plans successive rounds at the re-measured width " +
       "(multi-width path: mock 5M -> 1M edge counts)") {
    // At test SFs the round width always lands on 1-2, so the resize
    // branch the 10^9-edge claim rests on never runs organically
    // (VERDICT r13 item 8). Pin it with the widths the formula yields for
    // a 5M-row round contracting to 1M: the SAME round scope, re-sized
    // between rounds exactly as connectedComponents does, must plan the
    // next round's exchanges at the new width — and the caller session's
    // width must never move.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val configured = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val w1 = Rounds.width(configured, 5000000L)
    val w2 = Rounds.width(configured, 1000000L)
    assert(w1 == 3 && w2 == 1 && w1 != w2,
      s"mock counts must exercise distinct widths, got $w1/$w2 (configured=$configured)")
    val (e, _) = Rounds.narrowed(
      spark.range(200).selectExpr("id % 50 AS u", "id % 37 + 1 AS v"))
    def roundPlanWidths(): Seq[Int] = {
      // the shape of one star round's aggregation: keyed groupBy over the
      // round's edge list — the exchange Catalyst inserts must carry the
      // scope's CURRENT width
      val p = e.groupBy("u").count().queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other: SparkPlan => other
      }
      p.collect { case s: ShuffleExchangeExec =>
        s.outputPartitioning.numPartitions }
    }
    Rounds.resize(e, spark, 5000000L)
    val r1 = roundPlanWidths()
    assert(r1.nonEmpty && r1.forall(_ == w1), s"round-1 widths $r1 != $w1")
    // the edge set "contracted" to 1M rows: re-size the SAME scope, as the
    // CC loop does before each round
    Rounds.resize(e, spark, 1000000L)
    val r2 = roundPlanWidths()
    assert(r2.nonEmpty && r2.forall(_ == w2), s"round-2 widths $r2 != $w2")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt == configured,
      "scope re-size leaked into the caller session")
  }

  test("random sparse graph matches union-find") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter(e => e._1 != e._2)
    check(edges, "random G(300, ~400)")
  }

  test("long path converges (worst-case diameter)") {
    val edges = (0L until 63L).map(i => (i, i + 1))
    check(edges, "path of 64 nodes")
    // one component rooted at 0
    val labels = Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
    assert(labels.select("component").distinct().as[Long].collect().toSeq == Seq(0L))
    assert(labels.count() == 64)
  }

  test("two cliques joined by a bridge merge into one component") {
    val c1 = for (i <- 0L until 10L; j <- (i + 1) until 10L) yield (i, j)
    val c2 = for (i <- 100L until 110L; j <- (i + 1) until 110L) yield (i, j)
    check(c1 ++ c2, "two disjoint cliques")
    check(c1 ++ c2 :+ (9L, 100L), "bridged cliques")
  }

  test("self-loops, duplicates and reversed edges are tolerated") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (2L, 5L), (5L, 2L))
    // node 3 only has a self-loop -> no real edge -> absent from output
    val got = Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 1L))
  }

  test("every node gets exactly one label") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(500)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter(e => e._1 != e._2)
    val labels = Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
    val dup = labels.groupBy("id").count().filter(col("count") > 1).count()
    assert(dup == 0, "a node was labeled twice")
  }

  test("high-degree hub (celebrity-node skew) converges in few rounds") {
    // one hub with 10⁵ spokes — the skew a celebrity document produces in a
    // near-dup pair list. Hub-centered stars are the algorithm's fixpoint
    // shape, so this must converge almost immediately (the skew lands in
    // the groupBy(u).min aggregation, which partial-aggregates map-side) —
    // maxRounds = 2 productive rounds pins that, vs the default 25.
    val n = 100000L
    val hub = spark.range(1, n)
      .select(lit(0L).as("a"), col("id").as("b"))
    val labels = Components.connectedComponents(hub, "a", "b", maxRounds = 2)
    assert(labels.count() == n)
    assert(labels.select("component").distinct().as[Long].collect().toSeq == Seq(0L))
  }

  test("hub reached through a chain still converges under skew") {
    // same hub, but the hub itself is NOT the component min: a short chain
    // of smaller ids hangs off it, so large-star must move 10⁵ spokes to a
    // new center — the worst single-round data movement under skew.
    val n = 100000L
    val hub = spark.range(1, n).select(lit(100L).as("a"), (col("id") + 100L).as("b"))
    val chain = Seq((100L, 7L), (7L, 3L)).toDF("a", "b")
    val labels = Components.connectedComponents(hub.unionByName(chain), "a", "b")
    assert(labels.count() == n + 2)
    assert(labels.select("component").distinct().as[Long].collect().toSeq == Seq(3L))
  }

  test("empty edge set yields empty labels") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponents(empty, "a", "b").count() == 0)
  }

  test("incremental star-fold over arbitrary batch splits equals batch CC") {
    // The identity q194's streaming merge rests on: a component's star
    // edges preserve exactly its connectivity, so folding edge batches
    // through CC(state ∪ batch) — state being the previous fold's
    // (id, component) stars — must land on the SAME clustering as one
    // batch CC over everything, for ANY split of the edge list.
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400)
      .map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    val batchAnswer = Components
      .connectedComponents(edges.toDF("a", "b"), "a", "b")
      .select("id", "component").as[(Long, Long)].collect().toSet
    for (nSplits <- Seq(2, 5)) {
      var state: Option[org.apache.spark.sql.DataFrame] = None
      edges.grouped(edges.size / nSplits + 1).foreach { part =>
        val newE = part.toDF("a", "b")
        val merged = state match {
          case Some(st) => st
            .select(col("id").as("a"), col("component").as("b"))
            .unionByName(newE)
          case None => newE
        }
        state = Some(Components.connectedComponents(merged, "a", "b")
          .localCheckpoint())
      }
      val incremental = state.get
        .select("id", "component").as[(Long, Long)].collect().toSet
      assert(incremental == batchAnswer,
        s"$nSplits-way incremental fold diverged from batch CC")
    }
  }

  test("the narrow clone never leaks: caller conf untouched, result is a " +
       "caller-session frame, composable with caller frames") {
    // The rounds run inside a Rounds scope (a private session clone at
    // the measured width). Contract pinned here: the
    // CALLER's shuffle width is never read-modified (the r11 form mutated
    // it around the rounds — racy under concurrent queries), the returned
    // frame is rebound to the caller's session (a clone-bound frame would
    // poison every downstream join with session-mixing), and it composes
    // with caller-session frames.
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val edges = spark.range(300)
      .select((col("id") % 60).as("a"), (col("id") % 41 + 1).as("b"))
    val cc = Components.connectedComponents(edges, "a", "b")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "connectedComponents mutated the caller session's shuffle width")
    assert(cc.sparkSession eq spark, "result frame bound to the clone, not the caller")
    val joined = cc.join(
      edges.select(col("a").as("id")).distinct(), "id")
    assert(joined.count() > 0)
    val pr = Graph.fixedPointPageRank(edges, "a", "b", iters = 3)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    assert(pr.sparkSession eq spark)
    // no transient rebind views left behind in the global temp database
    val leftover = spark.sql("SHOW VIEWS IN global_temp").collect()
      .map(_.getString(1)).filter(_.startsWith("graft_rebind_"))
    assert(leftover.isEmpty, s"rebind views leaked: ${leftover.mkString(",")}")
  }
}
