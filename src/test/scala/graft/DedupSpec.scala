package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup-family consistency: the xxhash64 native scale paths against exact
  * brute-force ground truth, and against the oracle-checked portable
  * variants in TextDedupPack.
  */
class DedupSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}
  import spark.implicits._

  private def docs = Tables.documents(spark, sf)

  test("exact dedup keeps the lowest id per duplicated text") {
    val kept = Dedup.exact(docs, Seq("text"), "doc_id")
    // every text appears exactly once
    assert(kept.groupBy("text").count().filter(col("count") > 1).count() == 0)
    // and the survivor is the min doc_id of its group
    val expected = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept.select("doc_id").as[Long].collect().toSet == expected)
  }

  test("simHashNearDup equals brute-force hamming at maxDist 3 and 8") {
    val sim = Dedup.simHash64(docs, "doc_id", "text").persist()
    val a = sim.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = sim.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
    for (maxDist <- Seq(3, 8)) {
      val expected = brute.filter(col("hamming") <= maxDist)
        .select("id_a", "id_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val got = Dedup.simHashNearDup(sim, "doc_id", maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected, s"maxDist=$maxDist")
    }
    sim.unpersist()
  }

  test("simHashNearDup blocking guarantee on adversarial synthetic hashes") {
    // pairs engineered to differ in spread-out bit positions — the worst
    // case for chunk blocking: distance d spread over d distinct chunks
    def spread(d: Int): Long =
      (0 until d).map(i => 1L << (i * (63 / math.max(d, 1)))).foldLeft(0L)(_ | _)
    val hashes = Seq(
      1L -> 0L, 2L -> spread(1), 3L -> spread(3), 4L -> spread(4),
      5L -> spread(8), 6L -> spread(9), 7L -> -1L, 8L -> Long.MaxValue,
      9L -> (spread(2) | (1L << 63)), 10L -> 0xF0F0F0F0F0F0F0F0L)
    val sim = hashes.toDF("doc_id", "simhash")
    val a = sim.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = sim.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
    for (maxDist <- Seq(0, 1, 3, 8, 15)) {
      val expected = brute.filter(col("hamming") <= maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Dedup.simHashNearDup(sim, "doc_id", maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"maxDist=$maxDist")
    }
  }

  test("native MinHash-LSH pairs (q51) superset the exact Jaccard pairs (q27)") {
    val exact = SparkEntry.byName("q27_ngram_jaccard").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val native = Dedup.nearDuplicates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val missing = exact.keySet -- native.keySet
    assert(missing.isEmpty, s"LSH missed exact pairs: $missing")
    // identical Jaccard on the shared pairs: same shingle space (word
    // 3-grams), same integer-count division
    exact.foreach { case (pair, j) =>
      assert(native(pair) == j, s"jaccard mismatch for $pair")
    }
    spark.catalog.clearCache()
  }

  test("per-row band buckets equal the aggregate-built q28 construction") {
    // portableBandBuckets computes the 16 salted-md5 minhashes WITHIN each
    // row (array functions — the streaming-legal form); the q28 pipeline
    // builds the same signatures by explode + groupBy-min. Same corpus ⇒
    // identical (id, band, bh) sets, or the stream-vs-static join would
    // silently miss true duplicates.
    val perRow = Dedup.portableBandBuckets(docs, "doc_id", "text")
      .select("doc_id", "band", "bh").as[(Long, Int, String)].collect().toSet
    val grams = docs
      .filter(size(split(col("text"), " ")) >= 3) // same guard as the operator
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(1), size(split(col("text"), " ")) - 2),
        i => concat_ws(" ",
          element_at(split(col("text"), " "), i),
          element_at(split(col("text"), " "), i + 1),
          element_at(split(col("text"), " "), i + 2))))).as("gram"))
    val mhAggs = (0 until 16).map(i =>
      min(substring(md5(concat(lit(s"${i / 4}:"), col("gram"))), (i % 4) * 8 + 1, 8)).as(s"mh$i"))
    val mh = grams.groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*)
    val agg = (0 until 4).map { b =>
      mh.select(col("doc_id"), lit(b).as("band"),
        md5(concat((b * 4 until b * 4 + 4).map(i => col(s"mh$i")): _*)).as("bh"))
    }.reduce(_ unionByName _)
      .select("doc_id", "band", "bh").as[(Long, Int, String)].collect().toSet
    assert(perRow == agg)
    assert(perRow.nonEmpty)
    // and the batch-side grams-input form (q305/q306's store builder)
    // lands on the same set — one construction, three faces
    val ofGrams = Dedup.portableBandBucketsOfGrams(grams, "doc_id")
      .select("doc_id", "band", "bh").as[(Long, Int, String)].collect().toSet
    assert(ofGrams == perRow)
  }

  test("q43 approx distinct tracks the exact distinct within the HLL error bound") {
    // the query now emits the band check as a hash-checked boolean; the spec
    // re-derives the RAW estimate and asserts the bound on the values too,
    // so a vacuously-true column can't hide a broken estimate
    val rows = SparkEntry.byName("q43_approx_distinct").run(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, exact, ok) =>
      assert(ok, s"source=$src approx_ok=false"); assert(exact > 0)
    }
    val norm = md5(trim(regexp_replace(regexp_replace(lower(col("text")),
      "[^a-z ]", ""), " +", " ")))
    Tables.documents(spark, sf).groupBy("source")
      .agg(countDistinct(norm).as("ex"),
        approx_count_distinct(norm, rsd = 0.05).as("ap"))
      .collect().foreach { r =>
        val (exact, approx) = (r.getLong(1), r.getLong(2))
        val rel = math.abs(approx - exact).toDouble / exact
        assert(rel <= 0.15, s"source=${r.getString(0)} exact=$exact approx=$approx rel=$rel") // 3× rsd
      }
  }

  test("merged per-batch HLL sketches track the exact distinct (q85)") {
    val out = SparkEntry.queries("q85_incremental_distinct")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
    assert(out.nonEmpty)
    out.foreach { case (src, exact, lossless, band) =>
      assert(exact > 0, s"source=$src n_exact=$exact")
      // batching-independence: union of per-batch sketches == one-pass sketch
      assert(lossless, s"source=$src merged estimate != single-pass estimate")
      // Datasketches HLL at the default lgK: rsd well under 3%; allow 3σ-ish
      assert(band, s"source=$src merged estimate outside the 9% band of exact")
    }
  }

  test("portable HLL (q204) tracks exact distinct; streaming merge (q205) is identical") {
    val batch = SparkEntry.byName("q204_hll_replay").run(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(batch.nonEmpty)
    batch.foreach { case (src, exact, vZero, sReg, est) =>
      // m = 256 registers: rsd = 1.04/√256 = 6.5%; linear counting is far
      // tighter in the small range — allow ~3σ plus small-count slack
      val tol = math.max(4.0, exact * 0.20)
      assert(math.abs(est - exact) <= tol, s"source=$src exact=$exact est=$est")
      assert(vZero >= 0 && vZero <= 256, s"source=$src v_zero=$vZero")
      // every register contributes a term in [2^0, 2^49]: bounds on S
      assert(sReg >= 256L && sReg <= 256L * (1L << 49), s"source=$src s_reg=$sReg")
    }
    // register max-merge is associative/commutative/idempotent, so the
    // streaming per-batch merge must reproduce the batch sketch EXACTLY —
    // same v_zero, same integer register sum, same estimate, per source
    val stream = SparkEntry.byName("q205_stream_hll_merge").run(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(stream.toSeq.sortBy(_._1) ==
      batch.toSeq.map { case (s0, _, v, sr, e) => (s0, v, sr, e) }.sortBy(_._1))
  }

  test("q208 emits exactly K draws per positive pair, every negative from the walk vocabulary") {
    val negs = SparkEntry.byName("q208_sgns_negatives").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val pairs = SparkEntry.byName("q198_skipgram_pairs").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(negs.nonEmpty && pairs.nonEmpty)
    // one row per (pair, slot): no draw is lost in the position join and
    // none duplicates (positions are unique in the expanded table)
    assert(negs.length == pairs.size * 3)
    negs.groupBy(t => (t._1, t._2)).foreach { case (p, g) =>
      assert(pairs.contains(p))
      assert(g.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L), s"pair $p slots")
    }
    val vocab = SparkEntry.byName("q195_random_walks").run(spark, sf)
      .select("node").distinct().collect().map(_.getLong(0)).toSet
    negs.foreach { case (_, _, _, neg) => assert(vocab.contains(neg)) }
  }

  test("q210 kept flag re-derives from an independent Scala md5 draw; singletons always kept") {
    val rows = SparkEntry.byName("q210_dedup_weighted_sample").run(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every document exactly once
    assert(rows.length == docs.count())
    assert(rows.map(_._1).distinct.length == rows.length)
    // independent re-derivation of the whole Bernoulli(1/size) draw
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = java.lang.Long.parseLong(
      md.digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_))
        .mkString.take(15), 16)
    rows.foreach { case (doc, _, size, kept) =>
      assert(size >= 1)
      val expect = if (h60(s"q210:$doc") % size == 0L) 1L else 0L
      assert(kept == expect, s"doc $doc size $size")
      if (size == 1L) assert(kept == 1L, s"singleton $doc dropped")
    }
    // both classes occur among clustered docs, and cluster ids agree
    // with q67's connected components on the shared membership
    val clustered = rows.filter(_._3 > 1)
    assert(clustered.exists(_._4 == 1L) && clustered.exists(_._4 == 0L))
    val cc = SparkEntry.byName("q67_dedup_clusters").run(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (doc, cid, size, _) =>
      cc.get(doc) match {
        case Some(c) => assert(cid == c && size > 1, s"doc $doc")
        case None    => assert(cid == doc && size == 1, s"doc $doc")
      }
    }
  }

  test("q214 sweep: the (4,4) row ties out with q28's shipped banding") {
    val rows = SparkEntry.byName("q214_lsh_banding_sweep").run(spark, sf)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    // one row per b*r=16 factorization
    assert(rows.keySet == Set((16L, 1L), (8L, 2L), (4L, 4L), (2L, 8L), (1L, 16L)))
    rows.foreach { case ((b, r), (nc, nt, caught, rec, prec)) =>
      assert(b * r == 16)
      assert(caught <= nc && caught <= nt, s"($b,$r)")
      assert(rec >= 0 && rec <= 10000 && prec >= 0 && prec <= 10000, s"($b,$r)")
      // exact integer basis points re-derived
      if (nt > 0) assert(rec == 10000 * caught / nt, s"($b,$r) recall")
      if (nc > 0) assert(prec == 10000 * caught / nc, s"($b,$r) precision")
    }
    // (4,4) IS q28's shipped banding with the same cap, and n_caught
    // counts its candidates at exact Jaccard >= 0.5 — i.e. exactly the
    // pair set q28 emits
    val q28n = SparkEntry.byName("q28_minhash_lsh").run(spark, sf).count()
    assert(rows((4L, 4L))._3 == q28n, s"(4,4) caught vs q28 pairs $q28n")
  }

  test("q217 finds every planted L-doc-R wedge and its ledger re-derives") {
    val rows = SparkEntry.byName("q217_link_prediction").run(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // every eligible base doc (id < 25, >= 9 tokens) contributes its
    // planted (L, R) non-edge candidate
    val eligible = docs.select("doc_id", "text").collect()
      .filter(r => r.getLong(0) < 25 && r.getString(1).split(" ").length >= 9)
      .map(_.getLong(0)).toSet
    assert(eligible.nonEmpty)
    val planted = rows.filter(r => r._1 >= 2000000L && r._2 >= 3000000L)
      .map(r => (r._1 - 2000000L, r._2 - 3000000L)).toSet
    eligible.foreach(id => assert(planted.contains((id, id)), s"wedge $id missing"))
    rows.foreach { case (a, b, cn, da, db, bp) =>
      assert(a < b && cn >= 1 && cn <= math.min(da, db))
      assert(bp == 10000L * cn / (da + db - cn), s"($a,$b) bp")
    }
  }

  test("q219 survivorship clusters agree with q67 and the ledger is internally consistent") {
    val surv = SparkEntry.byName("q219_quality_survivorship").run(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    val cc = SparkEntry.byName("q67_dedup_clusters").run(spark, sf)
      .select("cluster_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (c, g) => c -> g.map(_._2).toSet }
    assert(surv.nonEmpty && surv.map(_._1).toSet == cc.keySet)
    surv.foreach { case (cid, n, canon, clog, mlog) =>
      val members = cc(cid)
      assert(n == members.size && n >= 2, s"cluster $cid size")
      assert(members.contains(canon), s"cluster $cid survivor not a member")
      assert(clog >= mlog, s"cluster $cid logit order")
    }
    // quality survivorship must actually differ from min-id canonical
    // somewhere (else the query adds nothing over q67)
    assert(surv.exists { case (cid, _, canon, _, _) => canon != cid })
    assert(surv.exists { case (cid, _, canon, _, _) => canon == cid })
  }

  test("q220 phrase hits re-derive from a plain Scala sliding-window scan") {
    val got = SparkEntry.byName("q220_phrase_search").run(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    // independent top-trigram selection (count desc, lexicographic asc)
    val counts = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach { case (_, t) =>
      t.sliding(3).filter(_.size == 3)
        .foreach(w => counts(w.mkString(" ")) = counts.getOrElse(w.mkString(" "), 0L) + 1)
    }
    val phrase = counts.toSeq.maxBy { case (g, c) => (c, ReverseLex(g)) }._1
    assert(got.forall(_._2 == phrase), s"phrase ${got.head._2} != $phrase")
    val pw = phrase.split(" ").toSeq
    val expect = texts.flatMap { case (id, t) =>
      val occ = t.sliding(3).zipWithIndex.collect {
        case (w, i) if w == pw => i + 1
      }.toSeq
      if (occ.isEmpty) None else Some(id -> (occ.size.toLong, occ.min.toLong))
    }.toMap
    assert(got.map(_._1).toSet == expect.keySet)
    got.foreach { case (id, _, n, fp) =>
      assert((n, fp) == expect(id), s"doc $id")
    }
  }

  // orders lexicographically DESCENDING when used inside maxBy's tuple
  private case class ReverseLex(s: String) extends Ordered[ReverseLex] {
    def compare(that: ReverseLex): Int = that.s.compareTo(s)
  }

  test("q221 canonical groups re-derive from a plain Scala URL builder") {
    val got = SparkEntry.byName("q221_url_canonical_dedup").run(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.nonEmpty)
    val ids = docs.select("doc_id").as[Long].collect().toSeq
    // independent raw-URL construction (mirrors the planted variant classes)
    def raw(id: Long): String = {
      val g = id % 200
      val hb = s"example${g % 50}.com"
      val hp = if (id % 4 < 2) s"www.$hb" else hb
      val t1 = if (id % 2 == 0) Some(s"utm_source=feed&utm_campaign=c${id % 9}") else None
      val t2 = if (id % 3 == 1) Some(s"gclid=g${id % 11}") else None
      val kp = s"id=$g"; val kp2 = s"v=${g % 3}"
      val qs =
        if (id % 2 == 0) (t1.toSeq ++ Seq(kp2) ++ t2.toSeq :+ kp).mkString("&")
        else (Seq(kp) ++ t1.toSeq ++ t2.toSeq :+ kp2).mkString("&")
      (if (id % 2 == 0) "HTTPS" else "https") + "://" +
        (if (id % 2 == 0) hp.toUpperCase else hp) +
        (if (id % 7 == 0) ":443" else "") +
        s"/articles/item-$g" + (if (id % 5 == 0) "/" else "") +
        "?" + qs + (if (id % 3 == 2) s"#sec-${id % 4}" else "")
    }
    def canonical(id: Long): String = {
      val g = id % 200
      s"https://example${g % 50}.com/articles/item-$g?id=$g&v=${g % 3}"
    }
    val expect = ids.groupBy(canonical).map { case (c, members) =>
      c -> (members.size.toLong, members.min,
        members.map(raw).distinct.size.toLong)
    }
    assert(got.map(_._1).toSet == expect.keySet)
    got.foreach { case (c, nDocs, keepId, nRaw, recovered) =>
      val (en, ekeep, eraw) = expect(c)
      assert((nDocs, keepId, nRaw) == ((en, ekeep, eraw)), s"group $c")
      assert(recovered == 1L, s"group $c not recovered")
    }
    // the variant classes must actually occur: some group collapses >1 raw
    assert(got.exists(_._4 > 1), "no group with multiple raw spellings")
  }

  test("q228 blocklist hits re-derive from a plain Scala multi-phrase scan") {
    val got = SparkEntry.byName("q228_phrase_blocklist").run(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4)))
    assert(got.nonEmpty)
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val counts = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach { case (_, t) =>
      t.sliding(2).filter(_.size == 2)
        .foreach(w => counts(w.mkString(" ")) = counts.getOrElse(w.mkString(" "), 0L) + 1)
    }
    val bl = counts.toSeq.sortBy { case (g, c) => (-c, g) }.take(5).map(_._1).toSet
    val expect = texts.flatMap { case (id, t) =>
      val hits = t.sliding(2).filter(_.size == 2).map(_.mkString(" "))
        .filter(bl).toSeq
      if (hits.isEmpty) None
      else Some(id -> (hits.size.toLong, hits.distinct.size.toLong,
        hits.min, if (hits.size >= 2) 1L else 0L))
    }.toMap
    assert(got.map(_._1).toSet == expect.keySet)
    got.foreach { case (id, nh, np, tp, bk) =>
      assert((nh, np, tp, bk) == expect(id), s"doc $id")
    }
    // the multi-pattern part must be exercised: some doc matches more than
    // one distinct listed phrase, and both verdict classes occur
    assert(got.exists(_._3 > 1))
    assert(got.exists(_._5 == 1L) && got.exists(_._5 == 0L))
  }

  test("q225 streaming URL dedup is row-identical to batch q221") {
    // cnt/min_id/recovered merge by sum/min and n_raw falls out of the
    // distinct state rows, so the merged ledger must equal the one-pass
    // scan regardless of how ingest was batched
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val batch = SparkEntry.byName("q221_url_canonical_dedup").run(spark, sf)
      .collect().map(key).toSeq
    val stream = SparkEntry.byName("q225_stream_url_dedup").run(spark, sf)
      .collect().map(key).toSeq
    assert(batch.nonEmpty && batch == stream)
  }

  test("q232 quota keeps exactly the K lowest-priority docs per domain") {
    val got = SparkEntry.byName("q232_domain_quota").run(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    def md5hex(x: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val ids = docs.select("doc_id").as[Long].collect().toSeq
    def regdom(id: Long) = s"site${id % 40}." +
      ((id % 3) match { case 0 => "com"; case 1 => "co.uk"; case _ => "org" })
    def prio(id: Long) = java.lang.Long.parseLong(md5hex(s"q232:$id").take(12), 16)
    val expect = ids.groupBy(regdom).flatMap { case (rd, members) =>
      members.map(m => (prio(m), m)).sorted.take(3).zipWithIndex
        .map { case ((p, m), i) => (rd, i + 1L, m, p) }
    }.toSet
    assert(got.toSet == expect)
    // the quota must actually drop someone at this sf
    val sizes = ids.groupBy(regdom).map(_._2.size)
    assert(sizes.exists(_ > 3) && got.count(_._2 == 3L) > 0)
  }

  test("q235 streaming quota equals batch q232 row-for-row") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val batch = SparkEntry.byName("q232_domain_quota").run(spark, sf)
      .collect().map(key).toSeq
    val stream = SparkEntry.byName("q235_stream_domain_quota").run(spark, sf)
      .collect().map(key).toSeq
    assert(batch.nonEmpty && batch == stream)
  }

  test("q233 novelty re-derives from plain Scala 8-gram sets") {
    val got = SparkEntry.byName("q233_ngram_novelty").run(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val gramsOf = texts.toMap.map { case (id, t) =>
      id -> t.sliding(8).filter(_.size == 8).map(_.mkString(" ")).toSet
    }
    val dfm = gramsOf.values.flatten.groupBy(identity)
      .map { case (g, occ) => g -> occ.size }
    val expect = gramsOf.collect { case (id, gs) if gs.nonEmpty =>
      val nu = gs.count(dfm(_) == 1).toLong
      id -> (gs.size.toLong, nu, 10000L * nu / gs.size)
    }
    assert(got.map(_._1).toSet == expect.keySet)
    got.foreach { case (id, ng, nu, bp) =>
      assert((ng, nu, bp) == expect(id), s"doc $id")
    }
    // both ends of the novelty spectrum occur (the corpus plants dups)
    assert(got.exists(_._4 == 10000L) && got.exists(_._4 < 10000L))
  }

  test("q234 split ledger replays from q67 clusters + q27 pairs in plain Scala") {
    val got = SparkEntry.byName("q234_cluster_split").run(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.map(_._1).toSeq.sorted == Seq("train", "val"))
    def md5hex(x: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    def side(x: Long): String =
      if (java.lang.Long.parseLong(md5hex(s"q234:$x").take(15), 16) % 10 < 8)
        "train" else "val"
    val cl = SparkEntry.byName("q67_dedup_clusters").run(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val asg = docs.select("doc_id").as[Long].collect().toSeq
      .map(id => id -> cl.getOrElse(id, id))
    val byS = asg.groupBy { case (_, c) => side(c) }
    val pairs = SparkEntry.byName("q27_ngram_jaccard").run(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val naiveLeak = pairs.count { case (a, b) => side(a) != side(b) }.toLong
    got.foreach { case (s0, nd, nc, lk, nlk) =>
      assert(nd == byS(s0).size.toLong, s"n_docs $s0")
      assert(nc == byS(s0).map(_._2).distinct.size.toLong, s"n_clusters $s0")
      assert(lk == 0L, "cluster-level split must never straddle a pair")
      assert(nlk == naiveLeak, "naive straddle count")
    }
    // the measurement is non-vacuous at this sf: a naive split DOES leak
    assert(naiveLeak > 0L)
  }

  test("q244 truncation-sweep ledger replays in plain Scala") {
    val got = SparkEntry.byName("q244_prefix_fingerprint_sweep").run(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet == Set(32L, 64L, 128L))
    def md5hex(x: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val truth = SparkEntry.byName("q27_ngram_jaccard").run(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got.foreach { case (lvl, (nc, nt, ng, rbp, pbp)) =>
      // replay: truncate, distinct 3-grams, 16 salted minhashes, 4 bands,
      // occupancy cap, bucket self-join
      val bands = texts.flatMap { case (id, tk) =>
        val tk4 = tk.take(lvl.toInt)
        if (tk4.size < 3) Seq.empty
        else {
          val grams = tk4.sliding(3).map(_.mkString(" ")).toSet
          val mh = (0 until 16).map(i =>
            grams.map(g => md5hex(s"${i / 4}:$g")
              .substring((i % 4) * 8, (i % 4) * 8 + 8)).min)
          (0 until 4).map(b =>
            (id, b, md5hex((b * 4 until b * 4 + 4).map(mh).mkString)))
        }
      }
      val capped = bands.groupBy(x => (x._2, x._3))
        .filter(_._2.length <= 100).values.flatten.toSeq
      val cands = capped.groupBy(x => (x._2, x._3)).values.flatMap { g =>
        val ids = g.map(_._1).sorted
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }.toSet
      assert(nc == cands.size.toLong, s"lvl $lvl candidates")
      assert(nt == truth.size.toLong, s"lvl $lvl truth")
      assert(ng == cands.count(truth).toLong, s"lvl $lvl caught")
      assert(rbp == (if (nt == 0) 0L else 10000L * ng / nt), s"lvl $lvl recall")
      assert(pbp == (if (nc == 0) 0L else 10000L * ng / nc), s"lvl $lvl prec")
    }
    // non-vacuous: there is truth to catch and the 128-token pass emits
    // candidates. The three levels CAN legitimately coincide at small sf
    // (twin pairs share their prefixes, so the same buckets collide) —
    // the per-level replay equality above is the actual check.
    assert(got(128L)._2 > 0L && got(128L)._1 > 0L)
  }

  test("q242 waterfall: stage-1 and stage-3 attributions replay in plain Scala") {
    val got = SparkEntry.byName("q242_corpus_waterfall").run(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.size == texts.length)
    def md5hex(x: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    // stage 1: exact_dup iff not the min doc_id of its content-hash group
    val keepOf = texts.groupBy(t => md5hex(t._2)).toSeq
      .flatMap { case (_, g) =>
        val m = g.map(_._1).min; g.toSeq.map(t => t._1 -> m)
      }.toMap
    texts.foreach { case (id, _) =>
      assert((got(id) == "exact_dup") == (id != keepOf(id)), s"doc $id stage1")
    }
    // stage 3: within each domain, the kept docs are exactly the ≤3
    // lowest-(prio, doc_id) members of the quota's INPUT set (kept ∪
    // domain_quota — stage-2 survivors by construction)
    val s2 = got.collect {
      case (id, st) if st == "kept" || st == "domain_quota" => id
    }.toSeq
    def regdom(id: Long) = s"site${id % 40}." +
      ((id % 3) match { case 0 => "com"; case 1 => "co.uk"; case _ => "org" })
    def prio(id: Long) =
      java.lang.Long.parseLong(md5hex(s"q242q:$id").take(12), 16)
    s2.groupBy(regdom).foreach { case (rd, members) =>
      val expKept = members.map(m => (prio(m), m)).sorted.take(3)
        .map(_._2).toSet
      val gotKept = members.filter(got(_) == "kept").toSet
      assert(gotKept == expKept, s"domain $rd")
    }
    // every structurally-reachable status occurs; exact_dup only exists
    // when the fixture actually carries identical texts (it does not at
    // the smallest sf)
    val hasDup = texts.groupBy(t => md5hex(t._2)).exists(_._2.length > 1)
    val want = Set("kept", "cluster_sample", "domain_quota") ++
      (if (hasDup) Set("exact_dup") else Set.empty[String])
    assert(got.values.toSet == want)
  }

  test("q241 streaming LPA equals batch q144 row-for-row") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val batch = SparkEntry.byName("q144_label_propagation").run(spark, sf)
      .collect().map(key).toSeq
    val stream = SparkEntry.byName("q241_stream_incremental_lpa").run(spark, sf)
      .collect().map(key).toSeq
    assert(batch.nonEmpty && batch == stream)
  }

  test("q238 2-core peel replays in plain Scala from q27 pairs") {
    val got = SparkEntry.byName("q238_kcore_peel").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairs = SparkEntry.byName("q27_ngram_jaccard").run(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var edges: Seq[(Long, Long)] =
      pairs.toSeq ++ pairs.toSeq.map { case (a, b) => (b, a) }
    val nodes0 = edges.map(_._1).distinct
    var alive = nodes0.toSet
    for (_ <- 1 to 4) {
      val deg = edges.groupBy(_._1).map { case (u, es) => u -> es.size }
      alive = deg.collect { case (u, c) if c >= 2 => u }.toSet
      edges = edges.filter { case (u, v) => alive(u) && alive(v) }
    }
    val fd = edges.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val expect = nodes0.map(u =>
      (u, if (alive(u)) 1L else 0L, fd.getOrElse(u, 0L))).toSet
    assert(got.toSet == expect)
    // the peel must both drop periphery and keep a core at this sf
    assert(got.exists(_._2 == 0L) && got.exists(_._2 == 1L))
  }

  test("q239 sketch estimates and error ledger replay in plain Scala") {
    val got = SparkEntry.byName("q239_hll_overlap_calibration").run(spark, sf)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7), r.getDouble(8), r.getLong(9))))
      .toMap
    assert(got.nonEmpty)
    def md5hex(x: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val vocab = docs.select("source", "text").collect()
      .flatMap(r => r.getString(1).split(" ").map(r.getString(0) -> _))
      .distinct.groupBy(_._1).map { case (s0, ts) => s0 -> ts.map(_._2).toSet }
    def regsOf(toks: Set[String]): Map[Long, Int] =
      toks.groupBy(t => java.lang.Long.parseLong(md5hex(t).take(2), 16))
        .map { case (j, ts) =>
          j -> ts.map { t =>
            val st = md5hex(t).slice(2, 14).dropWhile(_ == '0')
            if (st.isEmpty) 49
            else {
              val idx = "0123456789abcdef".indexOf(st.head)
              (12 - st.length) * 4 +
                (if (idx >= 8) 0 else if (idx >= 4) 1 else if (idx >= 2) 2
                 else 3) + 1
            }
          }.max
        }
    def est(regs: Map[Long, Int]): Double = {
      val vz = 256L - regs.size
      val s = regs.values.map(m => math.pow(2.0, 49 - m).toLong).sum +
        vz * 562949953421312L
      val eRaw = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 *
        562949953421312.0 / s.toDouble
      val e = if (eRaw <= 640.0 && vz > 0) 256.0 * math.log(256.0 / vz.toDouble)
              else eRaw
      BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    got.foreach { case ((a, b), (na, nb, nc, ea, eb, eu, ec, err)) =>
      val (ta, tb) = (vocab(a), vocab(b))
      assert(na == ta.size.toLong && nb == tb.size.toLong &&
        nc == ta.intersect(tb).size.toLong, s"$a/$b exact")
      val (ra, rb) = (regsOf(ta), regsOf(tb))
      val ru = (ra.keySet ++ rb.keySet).map(j =>
        j -> math.max(ra.getOrElse(j, 0), rb.getOrElse(j, 0))).toMap
      assert(ea == est(ra) && eb == est(rb) && eu == est(ru), s"$a/$b ests")
      val expEc = BigDecimal((est(ra) + est(rb)) - est(ru))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(ec == expEc, s"$a/$b est_common")
      assert(err == math.floor(10000.0 * (ec - nc.toDouble) / nc.toDouble)
        .toLong, s"$a/$b err_bp")
      // the estimate is in the right ballpark (HLL at m=256 is ~6.5% rse;
      // inclusion-exclusion compounds it — a loose 10× band still catches
      // a broken register path)
      assert(math.abs(ec - nc.toDouble) < 0.65 * nc.toDouble, s"$a/$b band")
    }
  }

  test("q226 longest-suffix match beats the naive TLD split on every ccTLD host") {
    val got = SparkEntry.byName("q226_registered_domain").run(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    val suffixes = Seq("com", "org", "uk", "co.uk")
    val ids = docs.select("doc_id").as[Long].collect().toSeq
    def host(id: Long): String = {
      val sub =
        if (id % 7 < 2) "" else if (id % 7 < 4) "www."
        else if (id % 7 < 6) "cdn.assets." else "m."
      val sfx = (id % 3) match { case 0 => "com"; case 1 => "co.uk"; case _ => "org" }
      s"${sub}site${id % 40}.$sfx"
    }
    def regdom(h: String): String = {
      val s = suffixes.filter(x => h.endsWith("." + x)).maxBy(_.length)
      val base = h.dropRight(s.length + 1)
      base.split('.').last + "." + s
    }
    val expect = ids.map(host).groupBy(regdom).map { case (rd, hs) =>
      rd -> (hs.size.toLong, hs.distinct.size.toLong)
    }
    assert(got.map(_._1).toSet == expect.keySet)
    got.foreach { case (rd, sfx, nDocs, nHosts, blocked, rec) =>
      assert((nDocs, nHosts) == expect(rd), s"$rd counts")
      assert(rd.endsWith("." + sfx), s"$rd suffix $sfx")
      assert(rec == 1L, s"$rd not recovered")
      assert(blocked ==
        (if (Set("site7.com", "site13.co.uk", "site21.org")(rd)) 1L else 0L))
    }
    // the ccTLD class must exist and never resolve to the bare 'uk' suffix
    val coUk = got.filter(_._1.endsWith(".co.uk"))
    assert(coUk.nonEmpty && got.forall(r => !r._1.matches("^[^.]+\\.uk$")))
    assert(got.exists(_._5 == 1L))
    // multiple subdomain spellings collapse into one registrant
    assert(got.exists(_._4 > 1))
  }

  test("q227 streaming overlap matrix is row-identical to batch q224") {
    // distinct (source, token) pairs merge by set union, so the merged
    // increment store must reproduce the one-pass audit exactly
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
    val batch = SparkEntry.byName("q224_source_overlap_matrix").run(spark, sf)
      .collect().map(key).toSeq
    val stream = SparkEntry.byName("q227_stream_overlap_matrix").run(spark, sf)
      .collect().map(key).toSeq
    assert(batch.nonEmpty && batch == stream)
  }

  test("q224 overlap matrix re-derives from plain Scala token sets") {
    val got = SparkEntry.byName("q224_source_overlap_matrix").run(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.nonEmpty)
    val vocab: Map[String, Set[String]] = docs.select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (src, g) =>
        src -> g.flatMap(_._2.split(" ")).toSet
      }
    val srcs = vocab.keys.toSeq.sorted
    val expectPairs = for {
      i <- srcs.indices; j <- (i + 1) until srcs.size
      (a, b) = (srcs(i), srcs(j))
    } yield (a, b)
    assert(got.map(t => (t._1, t._2)).toSeq == expectPairs,
      "pair coverage/order")
    got.foreach { case (a, b, common, na, nb, jbp, cbp) =>
      val (sa, sb) = (vocab(a), vocab(b))
      val c = (sa intersect sb).size.toLong
      assert((common, na, nb) == ((c, sa.size.toLong, sb.size.toLong)),
        s"($a,$b) sizes")
      assert(jbp == 10000L * c / (sa.size + sb.size - c), s"($a,$b) jaccard")
      assert(cbp == 10000L * c / math.min(sa.size, sb.size), s"($a,$b) containment")
      assert(cbp >= jbp)
    }
  }

  test("Occupancy.cap keeps exactly the rows of groups within the cap") {
    val df = Seq.tabulate(100)(i => (s"k${i % 7}", i.toLong)).toDF("k", "v")
    // group sizes: k0..k1 → 15, k2..k6 → 14
    val capped = graft.operators.Occupancy.cap(df, Seq("k"), max = 14)
      .groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped.keySet == (2 until 7).map(i => s"k$i").toSet)
    assert(capped.values.forall(_ == 14))
    // MaxValue cap is the identity (no window, no filter)
    assert(graft.operators.Occupancy.cap(df, Seq("k"), Int.MaxValue).count() == 100)
  }

  test("verifyJaccard computes exact set Jaccard on a known fixture") {
    val docsFx = Seq(
      (1L, "a b c d e"),   // grams: abc bcd cde
      (2L, "a b c d x"),   // grams: abc bcd cdx → common 2, union 4 → 0.5
      (3L, "p q r s t")    // disjoint
    ).toDF("doc_id", "text")
    val sh = Dedup.shingles(docsFx, "doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.verifyJaccard(sh, "doc_id", cand)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) == 0.5)
    assert(got.get((1L, 3L)).isEmpty) // no common shingles → no row
  }

  test("winnowing (q100) matches brute-force selection and guarantees shared-run recall") {
    val W = 4
    def md5hex(s: String) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def winnow(tokens: Seq[String]): Seq[(Int, Long)] = {
      val h = tokens.sliding(3).map(g =>
        java.lang.Long.parseLong(md5hex(g.mkString(" ")).take(15), 16)).toVector
      val nW = math.max(h.size - W + 1, 1)
      (1 to nW).map { i =>
        val sl = h.slice(i - 1, i - 1 + W)
        val m = sl.min
        val j = i + sl.lastIndexOf(m) // rightmost tie, 1-based gram index
        (j, h(j - 1))
      }.distinct.sortBy(_._1)
    }
    // fixture: doc 2 shares an 8-token run with doc 1 (recall guarantee:
    // ≥ W+2 = 6 shared tokens ⇒ ≥ 1 shared fingerprint); doc 3 is tiny
    // (single truncated window); doc 4 is disjoint
    val run = (1 to 8).map(i => s"r$i")
    val d1 = (1 to 10).map(i => s"a$i") ++ run
    val d2 = run ++ (1 to 10).map(i => s"b$i")
    val d3 = Seq("x1", "x2", "x3", "x4")
    val d4 = (1 to 12).map(i => s"c$i")
    val in = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4))
      .map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
      .withColumn("source", lit("s")).withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft-q100-").toString
    in.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val out = SparkEntry.byName("q100_winnowing").run(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      val expected = Map(1L -> d1, 2L -> d2, 3L -> d3, 4L -> d4).map { case (id, t) =>
        val fp = winnow(t)
        id -> (t.size - 2L, fp.size.toLong,
          md5hex(fp.map { case (p, h) => s"$p:$h" }.mkString(",")))
      }
      assert(out == expected, s"\n$out\nvs\n$expected")
      // the recall guarantee: docs 1 and 2 share a fingerprint HASH
      val shared = winnow(d1).map(_._2).toSet & winnow(d2).map(_._2).toSet
      assert(shared.nonEmpty, "shared 8-token run produced no shared fingerprint")
    } finally graft.streaming.Streams.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("winnow matching (q103) pairs the shared-run docs, BM25 (q104) ranks the stuffed doc first") {
    val run = (1 to 12).map(i => s"r$i")
    val d1 = (1 to 10).map(i => s"a$i") ++ run
    val d2 = run ++ (1 to 10).map(i => s"b$i")
    val d3 = (1 to 15).map(i => s"c$i")                      // disjoint
    val d4 = Seq("the", "the", "the", "of", "la", "w1", "w2") // query-stuffed
    val d5 = Seq("the", "x1", "x2", "x3", "x4", "x5", "x6")   // one query token
    val in = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4), (5L, d5))
      .map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
      .withColumn("source", lit("s")).withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft-q103-").toString
    in.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val pairs = SparkEntry.byName("q103_winnow_matches").run(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(pairs.keySet == Set((1L, 2L)), s"unexpected match set: $pairs")
      assert(pairs((1L, 2L)) >= 2, "12-token shared run must share ≥2 fingerprints")
      val ranked = SparkEntry.byName("q104_bm25").run(spark, dir)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      // only docs containing ≥1 query token score; the stuffed doc wins
      assert(ranked.map(_._1).toSet == Set(4L, 5L), ranked.mkString(", "))
      assert(ranked.head._1 == 4L && ranked.head._3 == 1L)
      assert(ranked.forall(_._2 > 0))
    } finally graft.streaming.Streams.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("duplicate-span removal (q96) drops exactly the covered copied span") {
    // doc 2 copies a 7-token span of doc 1 mid-document: the three 5-token
    // windows fully inside the span are duplicated, covering positions
    // 11..17 of doc 2 — exactly the copied tokens, nothing else. Doc 1
    // (first occurrence) and the clean doc 3 stay intact.
    val span = (1 to 7).map(i => s"s$i")
    val doc1 = (1 to 20).map(i => s"a$i")
    val doc1s = doc1.take(5) ++ span ++ doc1.drop(5)
    val doc2 = (1 to 10).map(i => s"b$i") ++ span ++ (1 to 8).map(i => s"c$i")
    val doc3 = (1 to 15).map(i => s"d$i")
    val in = Seq((1L, doc1s), (2L, doc2), (3L, doc3))
      .map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
      .withColumn("source", lit("s")).withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft-q96-").toString
    in.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val out = SparkEntry.byName("q96_duplicate_span_removal").run(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      def m(t: Seq[String]) = {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(t.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      val kept2 = doc2.take(10) ++ doc2.drop(17) // positions 11..17 removed
      assert(out.toList == List(
        (1L, 27L, 0L, m(doc1s)),
        (2L, 25L, 7L, m(kept2)),
        (3L, 15L, 0L, m(doc3))), out.mkString(", "))
    } finally graft.streaming.Streams.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("prefix join (q131) = q27 pairs exactly, with a pruned candidate set") {
    import org.apache.spark.sql.functions._
    // at fixture df levels q27's MAX_GRAM_DF cap is inactive, so the
    // capped-heuristic and lossless-prefix answers must coincide
    val viaPrefix = SparkEntry.byName("q131_prefix_join").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaCap = SparkEntry.byName("q27_ngram_jaccard").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPrefix == viaCap)

    // the filter actually prunes: candidate pairs < all-pairs-sharing-a-gram
    val t = col("t")
    val grams = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(t) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(t) - 2),
          i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))
        ))).as("gram")).persist()
    try {
      val candidates = graft.queries.TextDedupPack.prefixJoinCandidates(grams).count()
      val bruteForce = grams.as("g1")
        .join(grams.as("g2"),
          col("g1.gram") === col("g2.gram") && col("g1.doc_id") < col("g2.doc_id"))
        .select("g1.doc_id", "g2.doc_id").distinct().count()
      assert(candidates < bruteForce,
        s"prefix filter pruned nothing: $candidates vs $bruteForce")
      assert(viaPrefix.size <= candidates)
    } finally grams.unpersist()
  }

  test("duplicateSpans finds planted repeats exactly, at multiple L") {
    // d1/d2 share the 4-token run "a b c d" (cross-doc, interior offsets);
    // d3 repeats "p q r" twice within itself with a gap; d4 is one long
    // self-overlapping repeat covering the whole doc; d5 is all-unique.
    val planted = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d z w"),
      (3L, "p q r s t u v p q r"),
      (4L, "m n o m n o m n"),
      (5L, "k1 k2 k3 k4 k5 k6 k7 k8")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    def spans(l: Int): Set[(Long, Long, Long, Long, Long)] =
      Dedup.duplicateSpans(planted, "doc_id", "t", l)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
    // L=3: "a b c d" -> dup starts {1,2} in d1 / {3,4} in d2 (2 grams, 2
    // docs); "p q r" -> starts 1 and 8 in d3, gap 7 > 3 so TWO spans, each
    // exactly 3 tokens, single-doc; d4's grams mno/nom/omn each occur
    // twice -> starts 1..6 merge into ONE whole-doc span of 8 tokens.
    assert(spans(3) == Set(
      (1L, 1L, 4L, 2L, 2L),
      (2L, 3L, 4L, 2L, 2L),
      (3L, 1L, 3L, 1L, 1L),
      (3L, 8L, 3L, 1L, 1L),
      (4L, 1L, 8L, 6L, 1L)))
    // L=4: only the cross-doc "a b c d" run and d4's period-3 self-overlap
    // ("m n o m" = positions 1..4 and 4..7) survive; d3's 3-token repeat
    // is below the threshold and must NOT appear.
    // d4 L=4: dup starts {1,2,4,5} ("m n o m"@1,4; "n o m n"@2,5 —
    // "o m n o"@3 occurs once), still merging into one whole-doc span.
    assert(spans(4) == Set(
      (1L, 1L, 4L, 1L, 2L),
      (2L, 3L, 4L, 1L, 2L),
      (4L, 1L, 8L, 4L, 1L)))
    // L=5: nothing repeats for 5 tokens except d4's "m n o m n" at
    // starts {1, 4} — gap 3 <= 5 merges them into the whole-doc span.
    assert(spans(5) == Set((4L, 1L, 8L, 2L, 1L)))
    // L=8: no 8-token repeats anywhere -> empty.
    assert(spans(8).isEmpty)
  }

  test("duplicateSpans equals an independent brute-force reference on random corpora") {
    // tiny vocab + short docs => dense collisions, every edge shape gets hit
    val rng = new scala.util.Random(20260813L)
    for (trial <- 1 to 8) {
      val l = 2 + rng.nextInt(3) // L in 2..4
      val docs = (1 to (3 + rng.nextInt(4))).map { id =>
        (id.toLong, Vector.fill(rng.nextInt(18))("abcdef".charAt(rng.nextInt(6)).toString))
      }
      // reference: multiset-count every L-gram occurrence corpus-wide, flag
      // starts whose gram occurs >= 2 times, merge start-runs with gap <= L
      val occ = docs.flatMap { case (id, t) =>
        t.sliding(l).zipWithIndex.collect { case (g, i) if g.size == l => (g.mkString(" "), id, i + 1L) }
      }
      def reference(withinDoc: Boolean): Set[(Long, Long, Long, Long, Long)] = {
        val byGram =
          if (withinDoc) occ.groupBy(o => (o._1, o._2)).map { case ((g, _), os) => os }.toSeq
          else occ.groupBy(_._1).values.toSeq
        val dupOcc = byGram.filter(_.size >= 2).flatten
        docs.flatMap { case (id, _) =>
          val starts = dupOcc.filter(_._2 == id)
            .map(o => (o._3, if (withinDoc) 1L
              else occ.filter(_._1 == o._1).map(_._2).distinct.size.toLong))
            .sortBy(_._1)
          if (starts.isEmpty) Nil
          else {
            val islands = starts.tail.foldLeft(Vector(Vector(starts.head))) {
              case (acc, s) =>
                if (s._1 - acc.last.last._1 > l) acc :+ Vector(s)
                else acc.init :+ (acc.last :+ s)
            }
            islands.map(is => (id, is.head._1, is.last._1 - is.head._1 + l,
              is.size.toLong, is.map(_._2).max))
          }
        }.toSet
      }
      for (withinDoc <- Seq(false, true)) {
        val got = Dedup.duplicateSpans(
          docs.toDF("doc_id", "t").repartition(3 + trial % 3), "doc_id", "t", l,
          withinDoc = withinDoc)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .toSet
        assert(got == reference(withinDoc),
          s"trial=$trial L=$l withinDoc=$withinDoc docs=$docs")
      }
    }
  }

  test("containment join (q161) surfaces every planted quote at exactly 10000 bp") {
    val rows = SparkEntry.byName("q161_containment_join").run(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    // every doc_id % 7 == 0 doc with >= 3 tokens plants a quote copy at
    // doc_id + 1000000; its grams are a subset of the original's, so the
    // (quote -> original) pair must appear with containment exactly 1
    val quotable = Tables.documents(spark, sf)
      .filter(col("doc_id") % 7 === 0 &&
        size(split(col("text"), " ")) >= 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(quotable.nonEmpty)
    val planted = rows.filter { case (a, b, _) => a >= 1000000L && b == a - 1000000L }
    assert(planted.map(_._2).toSet == quotable,
      s"missing planted pairs: ${quotable -- planted.map(_._2).toSet}")
    assert(planted.forall(_._3 == 10000L), "a planted quote scored below 10000 bp")
  }
}
