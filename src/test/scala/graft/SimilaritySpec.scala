package graft

import graft.operators.Similarity
import graft.queries.VectorPack
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ANN / embedding-near-dup recall and correctness against exact ground
  * truth. Random gaussian corpora have no near neighbors (max pairwise
  * cos ≈ 0.5 at these sizes), so recall is measured on planted twins
  * ([[Similarity.plantTwins]]) whose cosine ≈ 0.998 is known by
  * construction.
  */
class SimilaritySpec extends AnyFunSuite {
  import TestSpark.{sf, spark}
  import spark.implicits._

  private val offset = 1000000L
  private def emb = Tables.embeddings(spark, sf)

  test("annTopK finds the planted twin as the top neighbor for every query") {
    val corpus = Similarity.plantTwins(emb, "vec_id", "embedding", offset)
    val queries = emb.filter(col("vec_id") < 50)
    val top = Similarity.annTopK(
      corpus, queries, "vec_id", "embedding", k = 5, bits = 12, tables = 8)
    val rank1 = top.filter(col("rk") === 1)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    assert(rank1.size == 50, s"queries with no candidates: ${50 - rank1.size}")
    val wrong = rank1.filter { case (q, n) => n != q + offset }
    assert(wrong.isEmpty, s"twin not at rank 1 for: $wrong")
  }

  test("annTopK cos_sim values equal the exact brute-force scores") {
    val corpus = Similarity.plantTwins(emb, "vec_id", "embedding", offset)
    val queries = emb.filter(col("vec_id") < 10)
    val ann = Similarity.annTopK(
      corpus, queries, "vec_id", "embedding", k = 5, bits = 12, tables = 8)
      .select("qid", "nid", "cos_sim")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Similarity.cosineTopK(corpus, queries, "vec_id", "embedding", k = corpus.count().toInt)
      .select("qid", "nid", "cos_sim")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ann.foreach { case (pair, c) =>
      assert(exact(pair) == c, s"score drift for $pair")  // same expression → bit-equal
    }
  }

  test("cosineNearDup returns exactly the planted pairs above threshold") {
    val corpus = Similarity.plantTwins(emb, "vec_id", "embedding", offset)
    val got = Similarity.cosineNearDup(
      corpus, "vec_id", "embedding", threshold = 0.99,
      bits = 16, tables = 12, score = VectorPack.cosineDec)
      .select("id_a", "id_b", "cos_sim")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // ground truth: score every planted pair directly with the same
    // decimal-exact expression; no LSH involved
    val expected = emb.select(col("vec_id"), col("embedding"))
      .join(Similarity.plantTwins(emb, "vec_id", "embedding", offset)
          .filter(col("vec_id") >= offset)
          .select((col("vec_id") - offset).as("vec_id"), col("embedding").as("twin")),
        "vec_id")
      .select(col("vec_id").as("id_a"), (col("vec_id") + offset).as("id_b"),
        VectorPack.cosineDec(col("embedding"), col("twin")).as("cos_sim"))
      .filter(col("cos_sim") >= 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == expected)
    assert(got.nonEmpty, "planted corpus produced no near-dup pairs")
  }

  test("IVF topK finds the planted twin at rank 1 for nearly every query") {
    val corpus = Similarity.plantTwins(emb, "vec_id", "embedding", offset)
    val top = graft.operators.Ivf.ivfTopK(
      corpus, emb, "vec_id", "embedding", k = 1, nlist = 16, nprobe = 4)
    val rank1 = top.filter(col("rk") === 1)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    val n = emb.count()
    val hits = rank1.count { case (q, nid) => nid == q + offset }
    // twins sit at cos ~0.998 — a miss means query and twin fell in
    // disjoint probe sets, which the nprobe=4 margin makes rare; the
    // corpus/seed are fixed so this is deterministic, pinned with margin
    assert(hits >= (n * 0.95).toInt, s"IVF twin recall $hits/$n")
  }

  test("partitioned IVF probe returns exactly the ad-hoc variant's rows") {
    val corpus = Similarity.plantTwins(emb, "vec_id", "embedding", offset)
    val queries = emb.filter(col("vec_id") < 10)
    val adhoc = graft.operators.Ivf.ivfTopK(
      corpus, queries, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4)
      .select("qid", "nid", "rk").as[(Long, Long, Long)].collect().toSet
    val centroids = graft.operators.Ivf.kmeansCentroids(
      corpus, "vec_id", "embedding", nlist = 16)
    val dir = Stage.scratch("graft-ivf-eq-")
    try {
      graft.operators.Ivf.writeCellPartitioned(
        corpus, "vec_id", "embedding", centroids, dir.toString)
      val part = graft.operators.Ivf.ivfTopKPartitioned(
        spark, dir.toString, queries, "vec_id", "embedding", k = 5, centroids, nprobe = 4)
        .select("qid", "nid", "rk").as[(Long, Long, Long)].collect().toSet
      assert(part == adhoc)
      assert(part.nonEmpty)
    } finally graft.streaming.Streams.deleteRecursively(dir)
  }

  test("kmeans cell assignment covers all cells and is deterministic") {
    val cents = graft.operators.Ivf.kmeansCentroids(emb, "vec_id", "embedding", nlist = 8, iters = 2)
    val cents2 = graft.operators.Ivf.kmeansCentroids(emb, "vec_id", "embedding", nlist = 8, iters = 2)
    assert(cents.map(_.toSeq).toSeq == cents2.map(_.toSeq).toSeq)
    val cells = emb.select(graft.operators.Ivf.assignCell(col("embedding"), cents).as("cid"))
      .groupBy("cid").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(cells.keySet.subsetOf((0 until 8).toSet))
    assert(cells.values.sum == emb.count())
    assert(cells.size >= 6, s"degenerate clustering: $cells") // most cells populated
  }

  test("cosineNearDup on a handcrafted corpus: only the true near-dup pair surfaces") {
    val e1 = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val e1close = Array.tabulate(64)(i => if (i == 0) 1.0f else if (i == 1) 0.01f else 0.0f)
    val e2 = Array.tabulate(64)(i => if (i == 1) 1.0f else 0.0f)
    val df = Seq((1L, e1.toSeq), (2L, e1close.toSeq), (3L, e2.toSeq))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDup(df, "vec_id", "embedding", threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("semanticDedup keeps every base and drops exactly the above-threshold twins") {
    val corpus = Similarity.plantTwins(emb, "vec_id", "embedding", offset)
    val centroids = graft.operators.Ivf.kmeansCentroids(
      corpus, "vec_id", "embedding", nlist = 16)
    val got = Similarity.semanticDedup(corpus, "vec_id", "embedding", centroids,
        threshold = 0.99, probes = 2, score = VectorPack.cosineDec)
      .select("vec_id", "kept", "dup_of")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    // ground truth: a twin is dropped (dup_of = its base) iff its
    // decimal-exact planted cosine clears the threshold; bases always keep
    val planted = emb.select(col("vec_id"),
        VectorPack.cosineDec(col("embedding"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, (x.cast("double") / 2.0d).cast("float")).otherwise(x)))
          .as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    planted.foreach { case (id, sim) =>
      assert(got(id) == (1L, -1L), s"base $id not kept")
      val expected = if (sim >= 0.99) (0L, id) else (1L, -1L)
      assert(got(id + offset) == expected, s"twin of $id: got ${got(id + offset)}, sim $sim")
    }
    assert(planted.values.count(_ >= 0.99) > 0, "no above-threshold twins in fixture")
  }

  test("PQ codes are m per-subspace argmins in range, deterministic") {
    import graft.operators.Pq
    val books = Pq.codebooks(emb, "vec_id", "embedding", dim = 64)
    assert(books.length == 8 && books.forall(_.length == 16) &&
      books.forall(_.forall(_.length == 8)))
    val codes = emb.select(col("vec_id"), Pq.encode(col("embedding"), books).as("c"))
    val bad = codes.filter(
      size(col("c")) =!= 8 ||
        exists(col("c"), x => x < 0 || x >= 16))
    assert(bad.count() == 0)
    // re-training with the same seed reproduces the codebooks exactly
    val books2 = Pq.codebooks(emb, "vec_id", "embedding", dim = 64)
    assert(books.flatten.flatten.toSeq == books2.flatten.flatten.toSeq)
  }

  test("PQ top-k with exact re-rank finds the exact-copy twin at rank 1") {
    import graft.operators.Pq
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(
      emb.select((col("vec_id") + offset).as("vec_id"), col("embedding")))
    val queries = emb.filter(col("vec_id") < 50)
    val rank1 = Pq.pqTopK(corpus, queries, "vec_id", "embedding", k = 5, dim = 64)
      .filter(col("rk") === 1)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    assert(rank1.size == 50)
    val wrong = rank1.filter { case (q, n) => n != q + offset }
    assert(wrong.isEmpty, s"twin not at rank 1 for: $wrong")
  }

  test("streaming-ingested IVF layout equals the batch-written layout") {
    import graft.operators.Ivf
    import org.apache.spark.sql.SaveMode
    val centroids = Ivf.kmeansCentroids(emb, "vec_id", "embedding", nlist = 8, iters = 1)
    val root = Stage.scratch("graft-q98-spec-")
    try {
      val batchDir = s"$root/batch"
      val streamDir = s"$root/stream"
      Ivf.writeCellPartitioned(emb, "vec_id", "embedding", centroids, batchDir)
      val srcDir = Stage.batches("graft-q98-spec-src-", "spec", 3)(
        emb.withColumn("slot", pmod(xxhash64(col("vec_id")), lit(3))))
      graft.streaming.Streams.replay(spark, srcDir, ())((_, b, _) =>
        Ivf.writeCellPartitioned(b, "vec_id", "embedding", centroids, streamDir,
          SaveMode.Append))
      def cells(dir: String) = spark.read.parquet(dir)
        .select("vec_id", "cid").as[(Long, Int)].collect().toSet
      assert(cells(streamDir) == cells(batchDir),
        "micro-batched ingest must produce the same cell assignments")
    } finally graft.streaming.Streams.deleteRecursively(root)
  }

  test("IVFADC finds the exact-copy twin at rank 1 for every query") {
    import graft.operators.{Ivf, Pq}
    val corpus = emb.select(col("vec_id"), col("embedding")).unionByName(
      emb.select((col("vec_id") + offset).as("vec_id"), col("embedding")))
    // centroids from the BASE corpus only — the coarse stage may be
    // arbitrarily mismatched to the twins without costing recall
    val centroids = Ivf.kmeansCentroids(emb, "vec_id", "embedding", nlist = 8, iters = 1)
    val rank1 = Pq.ivfAdcTopK(corpus, emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", k = 5, dim = 64, centroids, nprobe = 2)
      .filter(col("rk") === 1)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    assert(rank1.size == 50)
    val wrong = rank1.filter { case (q, n) => n != q + offset }
    assert(wrong.isEmpty, s"twin not at rank 1 for: $wrong")
  }

  test("PQ candidate recall vs exact top-5 grows with the ADC budget") {
    import graft.operators.Pq
    // the raw gaussian corpus has no true neighbors (near-tied cos ≈ 0.5,
    // see class scaladoc), so absolute recall is inherently soft here —
    // the PLANTED test above is the hard recall gate. What ADC must still
    // show on random data: a usable overlap at the default budget, and
    // monotone improvement as `cand` grows toward the full scan.
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    def recallAt(cand: Int): Double = {
      val pq = Pq.pqTopK(emb, queries, "vec_id", "embedding", k = 5, dim = 64,
          cand = cand)
        .select("qid", "nid").as[(Long, Long)].collect().toSet
      (pq & exact).size.toDouble / exact.size
    }
    val r32 = recallAt(32)
    val r200 = recallAt(200)
    assert(r32 >= 0.25, s"PQ recall@5 with cand=32 only $r32")
    assert(r200 >= r32, s"recall must not degrade with budget: $r32 -> $r200")
    assert(r200 >= 0.6, s"PQ recall@5 with cand=200 only $r200")
  }

  test("q183 diversification is sound: no surviving pair is near-duplicate") {
    // suppression rule: a candidate dies if ANY higher-ranked candidate
    // has cosine ≥ 0.95 — so the survivor set must be pairwise < 0.95
    // (if a surviving pair were ≥ 0.95, the lower-ranked member should
    // have been suppressed), and survivor order must preserve fused order
    val out = SparkEntry.byName("q183_diversified_retrieval")
      .run(spark, TestSpark.sf).collect()
    assert(out.nonEmpty)
    val ranks = out.map(_.getLong(0)).toSeq
    assert(ranks == (1L to out.length).toSeq, "rk not dense from 1")
    val fusedRks = out.map(_.getLong(3)).toSeq
    assert(fusedRks == fusedRks.sorted, "survivors reorder the fused list")
    // rebuild the twinned corpus (TWIN_OFFSET = 1e6, as the query plants)
    val emb = Tables.embeddings(spark, TestSpark.sf).select("vec_id", "embedding")
    val temb = emb.unionByName(emb.select(
      (col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val ids = out.map(_.getLong(1)).toSeq
    val vecs = temb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect().toMap
    def cos(x: Seq[Float], y: Seq[Float]): Double = {
      val dot = x.zip(y).map { case (a, b) => a.toDouble * b.toDouble }.sum
      val nx = math.sqrt(x.map(a => a.toDouble * a.toDouble).sum)
      val ny = math.sqrt(y.map(a => a.toDouble * a.toDouble).sum)
      dot / (nx * ny)
    }
    for (i <- ids.indices; j <- ids.indices if i < j)
      assert(cos(vecs(ids(i)), vecs(ids(j))) < 0.95,
        s"surviving near-dup pair ${ids(i)}, ${ids(j)}")
  }

  test("fixedPointKmeansProfile is partitioning-independent and sane") {
    def profile(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Ivf.fixedPointKmeansProfile(df, "vec_id", "embedding",
        nlist = 8, iters = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val base = profile(emb)
    // the fixed-point discipline's whole point: any repartitioning (and
    // therefore any aggregation/merge order) yields bit-identical output
    val shuffled = profile(emb.repartition(13, col("label")))
    assert(base == shuffled)
    assert(base.map(_._1) == (0L until 8L)) // all cells present, ordered
    assert(base.map(_._2).sum == emb.count()) // every vector assigned once
    assert(base.forall(_._4 >= 0L))
  }

  test("q191 SQ8: every query's exact-copy twin sits at distance 0, rank 1") {
    // identical vectors quantize to identical codes whatever the scale, so
    // the planted twin's integer distance is structurally 0 — if any query
    // misses this, the quantizer is not a function of the input vector
    val rows = SparkEntry.byName("q191_sq8_topk").run(spark, sf)
      .filter(col("rk") === 1)
      .select("qid", "nid", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (qid, nid, d2) =>
      assert(d2 == 0L, s"twin of $qid not at distance 0")
      assert(nid == qid + 1000000L, s"rank-1 neighbor of $qid is $nid, not its twin")
    }
  }

  test("q213 violation counts tie out exactly against q203's twin ranks") {
    val negs = SparkEntry.byName("q213_hard_negatives").run(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(5), r.getLong(6)))
    val ranks = SparkEntry.byName("q203_retrieval_rank_metrics").run(spark, sf)
      .select("qid", "twin_rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(negs.nonEmpty && ranks.nonEmpty)
    val k = 3L
    negs.groupBy(_._1).foreach { case (qid, g) =>
      // K rows per query, ranks 1..K, distances nondecreasing in rank
      assert(g.map(_._2).sorted.toSeq == (1L to k), s"q$qid slots")
      val byRk = g.sortBy(_._2)
      assert(byRk.map(_._4).toSeq == byRk.map(_._4).sorted.toSeq, s"q$qid order")
      g.foreach { case (_, _, nid, _, margin, viol) =>
        // never the anchor or the positive; violation ⇔ margin boundary
        assert(nid != qid && nid != qid + 1000000L)
        assert(if (margin < 0) viol == 1L else if (margin > 0) viol == 0L else true)
      }
      // candidates beating the twin are exactly the violating ones and
      // occupy the head of the non-twin ranking, so the count ties out
      val expect = math.min(ranks(qid) - 1, k)
      assert(g.count(_._6 == 1L).toLong == expect,
        s"q$qid violations vs twin_rank ${ranks(qid)}")
    }
  }

  test("q231 overlap/ranks re-derive from a plain Scala decimal replay") {
    val got = SparkEntry.byName("q231_matryoshka_audit").run(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 10)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def round20(x: Double) =
      BigDecimal(x).setScale(20, BigDecimal.RoundingMode.HALF_UP)
    def round8(x: Double) =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the engine discipline: per-term DECIMAL(38,20) rounding, exact sum,
    // one IEEE division, DECIMAL(18,8) round
    def cos(a: Array[Float], b: Array[Float], dims: Int): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        (0 until dims).map(i => round20(x(i).toDouble * y(i).toDouble)).sum
      round8(dot(a, b).toDouble /
        math.sqrt(dot(a, a).toDouble * dot(b, b).toDouble))
    }
    def top5(qid: Long, dims: Int): Seq[Long] =
      vecs.keys.filter(_ != qid).toSeq
        .map(n => (cos(vecs(qid), vecs(n), dims), n))
        .sortBy { case (c, n) => (-c, n) }.take(5).map(_._2)
    got.foreach { case (qid, ov, t1rk, t1kept) =>
      val f = top5(qid, 64); val t = top5(qid, 16)
      assert(ov == f.count(t.contains(_)).toLong, s"q$qid overlap")
      val expRk = t.indexOf(f.head) match { case -1 => -1L; case i => i + 1L }
      assert(t1rk == expRk, s"q$qid top1 rank")
      assert(t1kept == (if (expRk >= 1) 1L else 0L))
      assert(ov >= 0L && ov <= 5L)
    }
    // truncation must actually change something somewhere, or the audit
    // measures nothing at this sf
    assert(got.exists(_._2 < 5L))
  }

  test("q237 margins, best pairs and mutual flags re-derive in plain Scala") {
    val got = SparkEntry.byName("q237_bitext_margin").run(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4)))
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val srcs = vecs.keys.filter(k => k % 2 == 0 && k < 20).toSeq.sorted
    val tgts = vecs.keys.filter(_ % 2 == 1).toSeq.sorted
    assert(got.length == srcs.length && tgts.size >= 4)
    def round20(x: Double) =
      BigDecimal(x).setScale(20, BigDecimal.RoundingMode.HALF_UP)
    // cosine as exact 1e-8 integer units (the engine's c8)
    def c8(a: Array[Float], b: Array[Float]): Long = {
      def dot(x: Array[Float], y: Array[Float]) =
        (0 until 64).map(i => round20(x(i).toDouble * y(i).toDouble)).sum
      (BigDecimal(dot(a, b).toDouble /
        math.sqrt(dot(a, a).toDouble * dot(b, b).toDouble))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)
        * BigDecimal(100000000L)).toLongExact
    }
    val scored = (for (q <- srcs; n <- tgts)
      yield (q, n) -> c8(vecs(q), vecs(n))).toMap
    def sx(q: Long) = tgts.map(n => (scored((q, n)), n))
      .sortBy { case (c, n) => (-c, n) }.take(4).map(_._1).sum
    def sy(n: Long) = srcs.map(q => (scored((q, n)), q))
      .sortBy { case (c, q) => (-c, q) }.take(4).map(_._1).sum
    def margin(q: Long, n: Long): Double =
      BigDecimal((scored((q, n)) * 8).toDouble / (sx(q) + sy(n)).toDouble)
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    def best(q: Long): Long = tgts.map(n => (margin(q, n), n))
      .sortBy { case (m, n) => (-m, n) }.head._2
    def bestRev(n: Long): Long = srcs.map(q => (margin(q, n), q))
      .sortBy { case (m, q) => (-m, q) }.head._2
    got.foreach { case (q, n, cs, mg, mu) =>
      assert(n == best(q), s"q$q best target")
      assert(cs == scored((q, n)).toDouble / 100000000.0, s"q$q cos")
      assert(mg == margin(q, n), s"q$q margin")
      assert(mu == (if (bestRev(n) == q) 1L else 0L), s"q$q mutual")
      assert(mg > 0.5, s"q$q margin sane")
    }
  }

  test("dotChain is the strict left-assoc IEEE fold (q276/q279's scorer)") {
    // the cross-engine bit-exactness claim rests on BOTH engines
    // evaluating the identical left-assoc double tree — pin the Spark
    // side against a strict scala foldLeft over the same floats, with
    // RAW double equality (no tolerance): any reassociation by codegen
    // or a future refactor flips low bits and fails this
    import spark.implicits._
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding").limit(64)
    val twin = emb.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, (x.cast("double") / 2.0d).cast("float")).otherwise(x))
        .as("e2"))
    val got = emb.join(twin, "vec_id")
      .select(col("vec_id"),
        VectorPack.dotChain(col("embedding"), col("e2")).as("d"),
        col("embedding"), col("e2"))
      .as[(Long, Double, Seq[Float], Seq[Float])].collect()
    assert(got.length == 64)
    got.foreach { case (id, d, a, b) =>
      val ref = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }
        .reduceLeft(_ + _)
      assert(java.lang.Double.doubleToLongBits(d) ==
        java.lang.Double.doubleToLongBits(ref), s"vec $id chain reassociated")
    }
  }
}
