package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Two paths, mirroring the Dedup design:
  *   - [[cosineTopK]]: exact brute-force — broadcast the (small) query set
  *     against the full corpus; O(|Q|·N·dim) multiply-adds, all inside
  *     whole-stage codegen (higher-order array functions, no UDFs). The
  *     baseline and the verifier for the approximate path.
  *   - [[annTopK]]: sign-random-projection LSH (SimHash for cosine space) —
  *     L independent b-bit hash tables from a seeded ±1 hyperplane matrix;
  *     candidates = same-bucket pairs in any table, then exact re-rank.
  *     Candidate generation is a keyed equi-join on (table, bucket) whose
  *     fan-out is bounded by bucket occupancy — never the N² cross join.
  *
  * At 100 TB: the corpus side stays partitioned; only the query set and the
  * hyperplane matrix (a few KB) broadcast. Bucket skew is capped the same
  * way Dedup caps LSH bands (`maxBucket`). For a trillion-vector corpus the
  * natural extension is IVF (k-means coarse quantizer) — the bucket join
  * below is exactly the IVF probe join with LSH buckets in place of
  * centroid assignments.
  */
object Similarity {

  /** Exact dot product — the native codegen'd [[graft.functions.FloatDot]]
    * expression (left-to-right double accumulation, bit-identical to the
    * HOF `aggregate(zip_with(...))` formulation it replaced, ~100× fewer
    * interpreted evals; for cross-engine determinism use the decimal
    * variant in VectorPack). */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dot(a, b)

  /** Cosine similarity between two float-array columns, computed in double. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded). `queries` and `corpus` need
    * (idCol, vecCol). Query side is broadcast — corpus never shuffles.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        cosine(col("qvec"), col("nvec")).as("cos_sim"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Deterministic ±1 hyperplane matrix: `tables × bits` hyperplanes of
    * dimension `dim`, from a seeded PRNG (build-time constant — broadcast
    * as literals, a few KB). */
  private[graft] def hyperplanes(dim: Int, bits: Int, tables: Int, seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, bits, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Sign-random-projection bucket ids: one row per (id, table, bucket).
    * bucket bit j = sign(v · h_j) — a SimHash in cosine space. All
    * `tables × bits` projections run in one fused native expression
    * ([[graft.functions.VectorExprs.srpBuckets]]); the compositional
    * per-bit form built a ~12k-node plan whose analysis/codegen dominated
    * the query. */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
                 dim: Int = 64, bits: Int = 12, tables: Int = 4,
                 seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, bits, tables, seed)
    val flat = planes.flatten // table-major: planes(t)(j) = flat(t*bits + j)
    df.select(col(idCol),
        posexplode(graft.functions.VectorExprs.srpBuckets(col(vecCol), flat, bits)))
      .select(col(idCol), col("pos").as("tbl"), col("col").as("bucket"))
  }

  /** ANN top-k: LSH-bucket candidates (any shared table bucket), exact
    * cosine re-rank, top-k per query. `maxBucket` caps pathological
    * buckets before pair expansion (cf. Dedup.lshCandidates).
    *
    * No forced broadcast on the query side: callers range from a handful
    * of probes (q55) to the WHOLE corpus self-queried (q76's recall
    * audit), so query cardinality is unknowable here — AQE broadcasts the
    * bucket/vector frames when their runtime size is small and falls back
    * to shuffled equi-joins on (tbl,bucket)/qid when it isn't, which is
    * the correct all-pairs shape at deploy scale. */
  def annTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              dim: Int = 64, bits: Int = 12, tables: Int = 4,
              seed: Long = 42L, maxBucket: Int = 2000): DataFrame = {
    val cb = Occupancy.cap(
        lshBuckets(corpus, idCol, vecCol, dim, bits, tables, seed),
        Seq("tbl", "bucket"), maxBucket)
      .select(col(idCol).as("nid"), col("tbl"), col("bucket"))
    val qb = lshBuckets(queries, idCol, vecCol, dim, bits, tables, seed)
      .select(col(idCol).as("qid"), col("tbl"), col("bucket"))
    val cand = cb.join(qb, Seq("tbl", "bucket"))
      .filter(col("nid") =!= col("qid"))
      .select("qid", "nid").distinct()
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
    val scored = cand
      .join(q, "qid")
      .join(c, "nid")
      .select(col("qid"), col("nid"), cosine(col("qvec"), col("nvec")).as("cos_sim"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Embedding near-dup pairs: cosine ≥ threshold among LSH candidates
    * (embedding-cosine near-dup family). `maxBucket` caps pathological
    * buckets before the self-join pair expansion (cf. Dedup.lshCandidates) —
    * a hot bucket (e.g. a cluster of identical vectors) would otherwise
    * pair-explode. `score` is the exact re-rank expression; the default is
    * the double-precision [[cosine]], callers needing cross-engine
    * determinism pass a decimal-exact scorer (cf. VectorPack). The LSH
    * stage only affects recall — every emitted pair is exactly scored and
    * threshold-filtered.
    */
  def cosineNearDup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double = 0.95,
                    dim: Int = 64, bits: Int = 16, tables: Int = 6,
                    seed: Long = 42L, maxBucket: Int = 10000,
                    score: (Column, Column) => Column = cosine): DataFrame = {
    // persisted: both sides of the candidate self-join scan the capped set
    val b = Occupancy.cap(
      lshBuckets(df, idCol, vecCol, dim, bits, tables, seed),
      Seq("tbl", "bucket"), maxBucket, persistResult = true)
    val a = b.select(col(idCol).as("id_a"), col("tbl"), col("bucket"))
    val bb = b.select(col(idCol).as("id_b"), col("tbl"), col("bucket"))
    val cand = a.join(bb, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val v = df.select(col(idCol), col(vecCol))
    cand
      .join(v.select(col(idCol).as("id_a"), col(vecCol).as("va")), "id_a")
      .join(v.select(col(idCol).as("id_b"), col(vecCol).as("vb")), "id_b")
      // prescreen with the cheap double cosine before the (possibly
      // expensive, e.g. decimal-exact) scorer: double and decimal-rounded
      // cosine differ by ulps, so the 0.005 margin cannot drop a pair the
      // scorer would keep — the scorer only runs on ~the output set, not
      // on every LSH candidate
      .filter(cosine(col("va"), col("vb")) >= threshold - 0.005)
      .select(col("id_a"), col("id_b"), score(col("va"), col("vb")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** SemDeDup-style semantic deduplication: k-means cells (the same coarse
    * quantizer as [[Ivf]]) bound the pair space, then every within-cell
    * pair scoring ≥ `threshold` cosine marks the HIGHER id a duplicate of
    * its lowest-id partner (keep-lowest — deterministic across runs and
    * cluster sizes, cf. Dedup's canonical-member rule). Output: one row
    * per input vector — (idCol, kept, dup_of, dup_sim), dup_of/dup_sim
    * null for kept vectors.
    *
    * At 100 TB this is the published SemDeDup recipe: pair expansion is
    * Σ cell² instead of N², and nlist is chosen ∝ N so cells stay ~10⁴-10⁵
    * vectors — the driver-held centroid model stays tiny (nlist × dim).
    * The cell self-join is a keyed equi-join on cid; the cheap double
    * cosine prescreens candidates so an expensive exact scorer (e.g. the
    * decimal cross-engine one) runs only on ~the output set. A near-dup
    * pair straddling a cell boundary is the quantizer's known miss mode;
    * `probes` > 1 applies IVF's multi-probe trick to dedup — every vector
    * joins its `probes` nearest cells, so a miss needs two near-identical
    * vectors with DISJOINT top-`probes` cell sets (measured: probes=2
    * recovers every boundary-straddling planted twin that probes=1 lost
    * at the test SFs), at a pair-space cost factor ≤ probes².
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Double]],
                    threshold: Double = 0.95,
                    probes: Int = 1,
                    score: (Column, Column) => Column = cosine): DataFrame = {
    // persisted: both sides of the candidate self-join scan the assigned
    // corpus (and assignment is an nlist-way argmin per row)
    val cells = df.select(col(idCol),
      explode(Ivf.probeCells(col(vecCol), centroids, probes)).as("cid")).persist()
    val cand = cells.select(col(idCol).as("id_a"), col("cid"))
      .join(cells.select(col(idCol).as("id_b"), col("cid")), "cid")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct() // a pair can share up to probes² cells
    val v = df.select(col(idCol), col(vecCol))
    val pairs = cand
      .join(v.select(col(idCol).as("id_a"), col(vecCol).as("va")), "id_a")
      .join(v.select(col(idCol).as("id_b"), col(vecCol).as("vb")), "id_b")
      // double-cosine prescreen (cf. cosineNearDup): the 0.005 margin is
      // far above double-vs-decimal ulp drift, so no kept pair is dropped
      .filter(cosine(col("va"), col("vb")) >= threshold - 0.005)
      .select(col("id_a"), col("id_b"), score(col("va"), col("vb")).as("s"))
      .filter(col("s") >= threshold)
    // keep-lowest: each dropped id records its smallest-id partner (struct
    // min is lexicographic — id_a first, so the score rides along)
    val dropped = pairs.groupBy("id_b")
      .agg(min(struct(col("id_a"), col("s"))).as("m"))
      .select(col("id_b").as("__did"), col("m.id_a").as("dup_of"),
        col("m.s").as("dup_sim"))
    df.select(col(idCol))
      .join(dropped, col(idCol) === col("__did"), "left")
      .select(col(idCol),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"),
        col("dup_of"), col("dup_sim"))
  }

  /** Derived corpus with one near-duplicate twin per vector: element 0
    * halved (exact in IEEE — exponent decrement), id offset by `offset`.
    * cos(v, twin) = (S - x₀²/2) / sqrt(S·(S - 3x₀²/4)) with S = ‖v‖² —
    * ≈ 0.998 for random 64-d vectors (x₀² ≈ S/64), never below 0.94.
    * Gives an ANN/near-dup corpus with *known* ground-truth neighbors;
    * random gaussian corpora have none (max pairwise cos ≈ 0.5), so recall
    * is unmeasurable on the raw table.
    */
  def plantTwins(df: DataFrame, idCol: String, vecCol: String,
                 offset: Long): DataFrame = {
    val base = df.select(col(idCol), col(vecCol))
    val twin = df.select(
      (col(idCol) + offset).as(idCol),
      transform(col(vecCol), (x, i) =>
        when(i === 0, (x.cast("double") / 2.0d).cast("float")).otherwise(x))
        .as(vecCol))
    base.unionByName(twin)
  }
}
