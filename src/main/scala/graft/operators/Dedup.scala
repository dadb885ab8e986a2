package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale document corpora.
  *
  * Two families:
  *   - portable variants (md5-salted MinHash, hex-bit SimHash) live in
  *     [[graft.queries.TextDedupPack]] so the DuckDB oracle can replay them;
  *   - the xxhash64-based variants here are the *scale path*: xxhash64 is a
  *     codegen'd Catalyst expression (no string hex round-trips), signatures
  *     stay numeric, and candidate generation is a band-bucket shuffle whose
  *     fan-out is O(docs × bands), never O(docs²).
  *
  * At 100 TB: shingling + signatures are narrow map-side work; the only
  * shuffles are (a) groupBy doc for signatures, (b) band-bucket exchange,
  * (c) the candidate-pair verify join — all keyed, all AQE-coalesced.
  * Skewed buckets (a band value shared by thousands of near-identical docs)
  * are capped via `maxBucket` before the pair blow-up.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per exact key. Hash-based
    * groupBy — one shuffle on the (hashed) key.
    */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Sub-document exact dedup, step 2 of the C4/RefinedWeb-style
    * paragraph/line dedup: given one row per (doc, position, unit-text),
    * mark each row `kept` = true iff it is the corpus-wide FIRST occurrence
    * of its exact unit (first = lowest (idCol, posCol)). The caller splits
    * docs into units (lines, paragraphs, fixed token segments) and
    * re-assembles the kept ones — so the full operator removes duplicated
    * boilerplate ACROSS documents while whole-doc dedup (q22/q53) only
    * catches identical documents.
    *
    * One keyed shuffle, partitioned on the unit text (Spark hash-partitions
    * the string; the window never materializes a group larger than that
    * unit's duplication count). The unit text must ship through the shuffle
    * anyway — the survivor's text is re-emitted — so there is nothing to
    * save by pre-hashing; a hash-only variant (group on xxhash64(unit))
    * would halve shuffle bytes for count-style outputs but risks collision
    * false-drops, the wrong trade for a lossy-by-accident dedup.
    */
  def markFirstUnits(units: DataFrame, idCol: String, posCol: String,
                     unitCol: String): DataFrame = {
    val w = Window.partitionBy(col(unitCol)).orderBy(col(idCol), col(posCol))
    units.withColumn("kept", row_number().over(w) === 1)
  }

  /** Word n-gram shingles (distinct) per document: (id, shingle_hash).
    *
    * The token array is materialized by its own projection first:
    * higher-order functions are not codegen'd, so an inline `split` would
    * re-tokenize the whole string at every `element_at` — O(tokens²) per
    * document. (CollapseProject keeps the projection: the array is
    * referenced many times and split is not cheap.)
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val t = col("__toks")
    df.select(col(idCol), split(col(textCol), " ").as("__toks"))
      .filter(size(t) >= n)
      .select(col(idCol),
        explode(array_distinct(transform(
          sequence(lit(1), size(t) - (n - 1)),
          i => xxhash64(concat_ws(" ", (0 until n).map(k => element_at(t, i + k)): _*))
        ))).as("shingle"))
  }

  /** MinHash signatures: for each of `numHashes` seeds, the min over the
    * doc's shingle set of xxhash64(shingle, seed). Columns mh0..mh{k-1},
    * plus `n_sh` (shingle-set size) — computed in the same single pass so
    * the Jaccard verify step never re-aggregates the full shingle table.
    */
  def minHashSignatures(sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val aggs = count(lit(1)).as("n_sh") +:
      (0 until numHashes).map(i =>
        min(xxhash64(col("shingle"), lit(i))).as(s"mh$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band buckets: hash `rowsPerBand` consecutive signature components
    * per band. Two docs sharing any band bucket become a candidate pair.
    */
  def lshCandidates(
      sig: DataFrame, idCol: String,
      numHashes: Int, bands: Int,
      maxBucket: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * rows until (b + 1) * rows).map(i => col(s"mh$i")): _*).as("bh"))
    }
    val buckets = sig
      .select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bh").as("bh"))
    // cap pathological buckets before the O(k²) pair expansion; persisted —
    // both sides of the self-join scan it
    val capped = Occupancy.cap(buckets, Seq("band", "bh"), maxBucket,
      persistResult = true)
    val a = capped.select(col(idCol).as("id_a"), col("band"), col("bh"))
    val b = capped.select(col(idCol).as("id_b"), col("band"), col("bh"))
    a.join(b, Seq("band", "bh")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard verification of candidate pairs against the shingle sets.
    * Joins are keyed on doc id — no quadratic blow-up; only candidates pay.
    * Pass `precomputedSizes` (idCol, n) when the caller already aggregated
    * per-doc shingle counts (nearDuplicates gets them free from the
    * signature pass).
    */
  def verifyJaccard(sh: DataFrame, idCol: String, candidates: DataFrame,
                    precomputedSizes: Option[DataFrame] = None): DataFrame = {
    val sizes = precomputedSizes.getOrElse(
      sh.groupBy(col(idCol)).agg(count(lit(1)).as("n")))
    val common = candidates
      .join(sh.select(col(idCol).as("id_a"), col("shingle")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("common") * lit(1.0) / (col("na") + col("nb") - col("common"))).as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band → verify.
    *
    * The shingle set feeds three consumers (signatures + both verify join
    * legs), so it is persisted — without it the explode lineage recomputes
    * per consumer. The caller's [[graft.Stage.query]] releases the caches
    * at query end.
    */
  def nearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val sh = shingles(df, idCol, textCol, n).persist()
    val sig = minHashSignatures(sh, idCol, numHashes).persist()
    val cand = lshCandidates(sig, idCol, numHashes, bands)
    verifyJaccard(sh, idCol, cand,
      precomputedSizes = Some(sig.select(col(idCol), col("n_sh").as("n"))))
      .filter(col("jaccard") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** Per-row MinHash-LSH band buckets (portable md5 construction, cf. the
    * q28 oracle): (id, band, bh) with 16 minhashes from 4 salted md5s and 4
    * band hashes — computed entirely WITHIN each row via array functions,
    * no groupBy. That makes it legal on a STREAMING DataFrame (stateless
    * map-side work), so a stream can flag near-dup candidates against a
    * static signature table by a plain (band, bh) equi-join: the streaming
    * face of the LSH family. Token and gram arrays are materialized in
    * their own projections (HOFs re-evaluate inline children per element —
    * the O(n²) pitfall shingles documents).
    */
  /** [[portableBandBuckets]] from an ALREADY-EXTRACTED distinct gram
    * table (id, gram) — the batch-side form the recrawl stores use
    * (q305/q306 persist the uncapped gram table anyway, for the exact
    * verify): codegen'd md5 per gram ROW folded by a map-side-combined
    * min-aggregate, instead of the per-row interpreted array HOFs the
    * streaming-legal form pays (~µs/element interpreted, never
    * whole-stage codegen — the q292 lesson). Identical salts, slices and
    * band hashes bit-for-bit (the q28 aggregate construction;
    * equivalence pinned in DedupSpec). */
  def portableBandBucketsOfGrams(grams: DataFrame, idCol: String,
                                 gramCol: String = "gram"): DataFrame = {
    val mhAggs = (0 until 16).map(i =>
      min(substring(md5(concat(lit(s"${i / 4}:"), col(gramCol))),
        (i % 4) * 8 + 1, 8)).as(s"mh$i"))
    val mh = grams.groupBy(col(idCol)).agg(mhAggs.head, mhAggs.tail: _*)
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        md5(concat((b * 4 until b * 4 + 4).map(i => col(s"mh$i")): _*)).as("bh"))
    }
    mh.select(col(idCol), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  def portableBandBuckets(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 3): DataFrame = {
    val t = col("__t")
    val g = col("__g")
    val withGrams = df
      .select(col(idCol), split(col(textCol), " ").as("__t"))
      .filter(size(t) >= n)
      .select(col(idCol),
        array_distinct(transform(
          sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(t, i + k)): _*)
        )).as("__g"))
    // materialize the 4 salted md5 arrays once — the 16 minhashes are 8-char
    // SLICES of these (min-of-slice ≠ slice-of-min, so the mins must run on
    // the slices, but the md5s themselves need computing only 4×, not 16×)
    val withMd5 = withGrams.select(col(idCol) +:
      (0 until 4).map(s =>
        transform(g, gr => md5(concat(lit(s"$s:"), gr))).as(s"__h$s")): _*)
    val mhCols = (0 until 16).map { i =>
      array_min(transform(col(s"__h${i / 4}"), h =>
        substring(h, (i % 4) * 8 + 1, 8)))
        .as(s"mh$i")
    }
    val sigs = withMd5.select(col(idCol) +: mhCols: _*)
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        md5(concat((b * 4 until b * 4 + 4).map(i => col(s"mh$i")): _*)).as("bh"))
    }
    sigs.select(col(idCol), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** 64-bit SimHash over whitespace tokens (with multiplicity), built from
    * xxhash64 token hashes — entirely numeric, codegen-friendly. Output:
    * (id, simhash). Near-dup = small hamming distance between simhashes.
    *
    * One row per token, 64 partial-aggregated SUM columns — no per-bit row
    * explosion (the previous shape exploded every token 64× before the
    * shuffle; this one ships 64 ints of map-side partial state per doc).
    */
  def simHash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(split(col(textCol), " ")).as("t"))
      .select(col(idCol), xxhash64(col("t")).as("h"))
    val voteAggs = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$j")
    }
    tok.groupBy(col(idCol))
      .agg(voteAggs.head, voteAggs.tail: _*)
      .select(col(idCol),
        (0 until 64).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** Hamming-distance near-dup pairs over simhashes, blocked by bit chunks.
    *
    * Recall guarantee (pigeonhole): with `maxDist + 1` chunks, any pair at
    * hamming distance ≤ maxDist differs in at most `maxDist` chunks, so at
    * least one chunk is identical and the pair surfaces in that block. The
    * chunks partition the 64 bits as evenly as possible (width =
    * 64 / (maxDist+1), remainder bits spread over the first chunks).
    *
    * Scale trade-off: larger `maxDist` ⇒ narrower chunks ⇒ bigger blocks.
    * At 100 TB keep maxDist small (≤ 3–8) or pre-partition by an exact key;
    * `maxBlock` caps pathological blocks (e.g. a constant-text cluster) at
    * the documented cost of recall *within the capped block only*.
    */
  def simHashNearDup(
      sim: DataFrame, idCol: String, maxDist: Int = 3,
      maxBlock: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0 && maxDist < 32, "maxDist must be in [0, 32)")
    val nChunks = maxDist + 1
    val base = 64 / nChunks
    val widths = (0 until nChunks).map(c => if (c < 64 % nChunks) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val chunks = (0 until nChunks).map { c =>
      val mask = if (widths(c) == 64) -1L else (1L << widths(c)) - 1
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), offsets(c)).bitwiseAND(mask).as("ck"))
    }
    val blocked = sim.select(col(idCol), col("simhash"), explode(array(chunks: _*)).as("b"))
      .select(col(idCol), col("simhash"), col("b.chunk").as("chunk"), col("b.ck").as("ck"))
    // persisted either way: both sides of the self-join scan the blocked set
    val capped = Occupancy.cap(blocked, Seq("chunk", "ck"), maxBlock,
      persistResult = true)
    val a = capped.select(col(idCol).as("id_a"), col("simhash").as("sh_a"), col("chunk"), col("ck"))
    val b = capped.select(col(idCol).as("id_b"), col("simhash").as("sh_b"), col("chunk"), col("ck"))
    a.join(b, Seq("chunk", "ck")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Exact minimum-length duplicate-substring mining — the guaranteed
    * semantics of suffix-array training-data dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"), on the
    * classic reduction to fixed-length grams: a token position is part of
    * a repeated substring of >= `minLen` tokens iff it is covered by a
    * `minLen`-gram that occurs at >= 2 (doc, start) locations corpus-wide
    * (cross-document or within-document — self-repetition is duplication
    * too). Every maximal run of covered positions is emitted as one span:
    *
    *   (idCol, span_start (1-based), span_len, n_grams, n_sources)
    *
    * where `n_grams` counts the duplicated gram starts merged into the
    * span and `n_sources` is the widest corpus spread (distinct docs) of
    * any gram in it. Exactness: unlike a sliding-window *sample* of
    * positions, every duplicated gram start is found — recall is 100% by
    * construction for repeats of >= minLen tokens, and nothing shorter
    * can be flagged (a flagged position is inside some duplicated
    * minLen-gram, which IS a >= minLen-token repeat).
    *
    * Scale shape: gram extraction is per-row map work (the token array
    * never shuffles); the occurrence count is ONE keyed agg on the gram
    * hash with map-side partial aggregation; the flag-back is a keyed
    * join; island detection is a per-document window (state bounded by
    * tokens-per-doc, never corpus-sized). No all-pairs stage exists —
    * cost is linear in total tokens plus the duplicated-gram join.
    *
    * Spans with uniform gram width merge iff consecutive duplicated
    * starts differ by <= minLen (touching or overlapping coverage), so a
    * single LAG beats a running-max interval sweep.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, tokCol: String,
                     minLen: Int, withinDoc: Boolean = false): DataFrame = {
    require(minLen >= 2, "minLen must be >= 2")
    val t = col(tokCol)
    val grams = docs.filter(size(t) >= minLen)
      .select(col(idCol),
        posexplode(transform(sequence(lit(1), size(t) - (minLen - 1)),
          i => md5(concat_ws(" ",
            (0 until minLen).map(k => element_at(t, i + k)): _*)))))
      .select(col(idCol), (col("pos") + 1).cast("long").as("st"),
        col("col").as("gh"))
    // withinDoc = the self-repetition (loop-detection) variant: a gram is
    // duplicated only if it occurs >= 2 times in the SAME document, so
    // spans measure internal cycling rather than corpus-wide copying. The
    // occurrence agg keys on (doc, gram) instead of gram — still one keyed
    // shuffle — and the flag-back join keys likewise.
    val (dupGrams, joinKeys) =
      if (withinDoc) (
        grams.groupBy(col(idCol), col("gh"))
          .agg(count(lit(1)).as("occ"), lit(1L).as("ndocs"))
          .filter(col("occ") >= 2)
          .drop("occ"),
        Seq("gh", idCol))
      else (
        grams.groupBy("gh")
          .agg(count(lit(1)).as("occ"), countDistinct(col(idCol)).as("ndocs"))
          .filter(col("occ") >= 2)
          .drop("occ"),
        Seq("gh"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("st"))
    grams.join(dupGrams, joinKeys)
      .withColumn("__brk",
        when(col("st") - lag(col("st"), 1).over(w) > minLen, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__brk")).over(w))
      .groupBy(col(idCol), col("__island"))
      .agg(
        min(col("st")).as("span_start"),
        (max(col("st")) - min(col("st")) + minLen).as("span_len"),
        count(lit(1)).as("n_grams"),
        max(col("ndocs")).as("n_sources"))
      .select(col(idCol), col("span_start"), col("span_len"),
        col("n_grams"), col("n_sources"))
  }
}
