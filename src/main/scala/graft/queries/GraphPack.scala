package graft.queries

import graft.{QueryDef, Stage, Tables}
import graft.streaming.Streams
import graft.operators.Rounds
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.types.DecimalType

// Shared text-dedup primitives (PAIRS_SQL, jaccardPairs, winnow pairs,
// staged batch sources, stores) live in TextDedupPack and are visible
// package-wide; the graph family consumes them unqualified via this import.
import TextDedupPack._

/** Graph analytics over the near-dup match graph — the GraphPack family
  * split out of TextDedupPack along its family seam (r16, verdict item 7;
  * zero query renames): centrality (q109 PageRank, q145 personalized PR,
  * q249 TextRank, q124 canonical selection), community/structure (q143
  * triangles, q144 LPA, q147 BFS spread, q217 link prediction, q238
  * 2-core), walks + embedding-adjacent corpora (q195/q198/q201/q206/q208),
  * and the streaming-incremental members (q194 CC, q200 PageRank,
  * q241 LPA). Algorithms are public literature (Kleinberg JACM'99,
  * Mihalcea-Tarau EMNLP'04, Grover-Leskovec KDD'16, Pennington et al.
  * EMNLP'14); execution is the integer fixed-point Pregel-as-join
  * discipline in graft.operators.{Graph, Components}.
  */
object GraphPack {

  /** q144's synchronous label-propagation round count. */
  private val LPA_ROUNDS = 3

  /** q238's fixed peel-round count (the q109 fixed-point discipline: both
    * engines unroll EXACTLY this many rounds — the result is the round-4
    * peel state, converged or not, so the replay is structural). */
  private val KCORE_ROUNDS = 4

  /** q144/q241 shared oracle: LPA_ROUNDS unrolled majority-vote label
    * rounds over the symmetric Jaccard match graph — q241's streaming
    * answer must hash-match the identical batch formulation. */
  private lazy val LPA_MATCH_ORACLE: String = {
    val rounds = (1 to LPA_ROUNDS).map { r =>
      s"""l$r AS (SELECT v AS id, lab FROM (
         |    SELECT e.v, l.lab, COUNT(*) AS c,
         |      ROW_NUMBER() OVER (PARTITION BY e.v
         |        ORDER BY COUNT(*) DESC, l.lab) AS rn
         |    FROM ed e JOIN l${r - 1} l ON l.id = e.u
         |    GROUP BY e.v, l.lab) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $PAIRS_SQL,
       |ed AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
       |       UNION ALL SELECT doc_b, doc_a FROM jpairs),
       |l0 AS (SELECT DISTINCT u AS id, u AS lab FROM ed),
       |$rounds
       |SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  MIN(id) AS min_member
       |FROM l$LPA_ROUNDS
       |GROUP BY lab
       |ORDER BY community""".stripMargin
  }

  /** q144/q241 shared LPA core over a symmetric edge list `ed(u, v)`:
    * LPA_ROUNDS majority-vote rounds (ties to the smallest label) from
    * singleton labels, run in a [[Rounds]] scope at the measured width
    * (one reused narrow repartition over the edge list; the vote count's
    * partial agg runs map-side inside the join stage, the label-choice
    * groupBy plans its own narrow partial-combined exchange). Returns the
    * node-sized (id, lab) table checkpointed and rebound to `ed`'s
    * session. */
  private def lpaLabels(ed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    lpaLabelsFrom(ed, None, LPA_ROUNDS)

  /** The q144/q241 LPA core, generalized with an optional WARM initial
    * label table (the q308 production flag, sibling of
    * Graph.warmStartPageRank/warmStartHits): labels present in `prev`
    * seed their node, first-seen nodes start at their own id (LPA's
    * uniform init), then `iters` majority-vote rounds. `prev = None`
    * reproduces the cold ladder exactly (same init expression). */
  private def lpaLabelsFrom(edges: org.apache.spark.sql.DataFrame,
                            prev: Option[org.apache.spark.sql.DataFrame],
                            iters: Int)
      : org.apache.spark.sql.DataFrame = {
    val ed = Rounds.narrowed(edges)._1
    val edP = ed.repartition(col("u"))
    val nodes = edP.select(col("u").as("id")).distinct()
    var l = prev match {
      case None => nodes.select(col("id"), col("id").as("lab"))
      case Some(p) =>
        nodes.join(SessionBridge.rebind(p.localCheckpoint(), ed.sparkSession)
            .select(col("id").as("pid"), col("lab").as("plab")),
          col("id") === col("pid"), "left")
          .select(col("id"), coalesce(col("plab"), col("id")).as("lab"))
    }
    for (_ <- 1 to iters) {
      l = edP.join(l, col("u") === col("id"))
        .select(col("v"), col("lab"))
        .groupBy(col("v"), col("lab")).agg(count(lit(1)).as("c"))
        .groupBy(col("v"))
        .agg(max_by(col("lab"), struct(col("c"), lit(0L) - col("lab"))).as("lab"))
        .select(col("v").as("id"), col("lab"))
    }
    Rounds.back(l.localCheckpoint(), edges.sparkSession)
  }

  /** q308's warm-round count per ingest batch (cf. WARM_PR_ROUNDS). */
  private val WARM_LPA_ROUNDS = 2

  /** q308 oracle: FULL REPLAY of the warm-start LPA ladder — the q303/
    * q304 pattern completing the warm family across all three carried
    * iterative states (ranks / hubs / labels). Same measured grounds:
    * majority-vote labels are a fixed-round recurrence whose result
    * depends on the init, so a warm stream can never hash-match q241's
    * from-singleton oracle; the warm recurrence itself replays exactly.
    * Portable pmod(a+b,4) split in tag order; batch 0 = the cold
    * LPA_ROUNDS ladder from singleton labels, later batches =
    * WARM_LPA_ROUNDS majority-vote rounds from the carried label table,
    * first-seen nodes at their own id. MATERIALIZED chain CTEs. */
  private lazy val WARM_LPA_ORACLE: String = {
    val w = WARM_LPA_ROUNDS
    def rounds(b: Int, n: Int) = (1 to n).map { r =>
      val prev = if (r == 1) s"b${b}l0" else s"b${b}l${r - 1}"
      s"""b${b}l$r AS MATERIALIZED (SELECT v AS id, lab FROM (
         |    SELECT e.v, l.lab, COUNT(*) AS c,
         |      ROW_NUMBER() OVER (PARTITION BY e.v
         |        ORDER BY COUNT(*) DESC, l.lab) AS rn
         |    FROM e$b e JOIN $prev l ON l.id = e.u
         |    GROUP BY e.v, l.lab) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val batches = (0 to 3).map { b =>
      val n = if (b == 0) LPA_ROUNDS else w
      val prevFinal = if (b == 1) s"b0l$LPA_ROUNDS" else s"b${b - 1}l$w"
      val graph =
        s"""e$b AS MATERIALIZED (
           |  SELECT doc_a AS u, doc_b AS v FROM tagged WHERE tag <= $b
           |  UNION ALL SELECT doc_b, doc_a FROM tagged WHERE tag <= $b)""".stripMargin
      val init =
        if (b == 0)
          "b0l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS lab FROM e0)"
        else
          s"""b${b}l0 AS MATERIALIZED (SELECT du.u AS id,
             |  CAST(COALESCE(p.lab, du.u) AS BIGINT) AS lab
             |  FROM (SELECT DISTINCT u FROM e$b) du
             |  LEFT JOIN $prevFinal p ON p.id = du.u)""".stripMargin
      s"$graph,\n$init,\n${rounds(b, n)}"
    }.mkString(",\n")
    s"""WITH $PAIRS_SQL,
       |tagged AS MATERIALIZED (SELECT doc_a, doc_b,
       |  ((doc_a + doc_b) % 4 + 4) % 4 AS tag FROM jpairs),
       |$batches
       |SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  MIN(id) AS min_member
       |FROM b3l$w
       |GROUP BY lab
       |ORDER BY community""".stripMargin
  }

  /** q145's personalized-PageRank iteration count. */
  private val PPR_ITERS = 4

  /** q147's BFS hop budget (contamination blast radius). */
  private val SPREAD_HOPS = 3

  /** q195: walks per start node and steps per walk. */
  private val WALKS_PER_NODE = 2
  private val WALK_STEPS = 4

  /** q198 skip-gram context radius: pairs are (node_t, node_{t±j}) for
    * j ≤ SKIP_WINDOW within one walk — word2vec's window parameter. */
  private val SKIP_WINDOW = 2


  /** One staged parquet copy of the q195 walk corpus per sf dir — built
    * on first use by [[walkCorpus]] and then SHARED by all four
    * walk-family queries (q195 emits it, q198 pairs over it, q206
    * GloVe-weights over it, q208 draws negatives from it), so a fleet
    * run pays the WALK_STEPS checkpoint ladder ONCE instead of 4×
    * (r14 fleet: ~10 s rebuilt). The corpus is all-BIGINT (start, walk,
    * step, node), so the parquet round trip is exact and every consumer
    * stays hash-identical to its direct-build answer; cf.
    * [[stagedPairBatches]]. */
  private def stagedWalkCorpus(s: org.apache.spark.sql.SparkSession,
                               d: String): org.apache.spark.sql.DataFrame =
    Tables.parquet(s, Stage.parquet("graft-walks-", d)(walkCorpus(s, d)))


  /** q217's planted-wedge id offsets (prefix / suffix variant). Disjoint
    * from base doc ids and [[NATIVE_TWIN_OFFSET]] plants only while
    * max(doc_id) < LP_OFFSET_L − NATIVE_TWIN_OFFSET; the builder guards
    * the base ids loudly (the Linkage plant-offset lesson, r13 ADVICE). */
  private val LP_OFFSET_L = 2000000L
  private val LP_OFFSET_R = 3000000L

  /** q217's fixture: documents plus, for doc_id < 25, a prefix-2/3 and a
    * suffix-2/3 token-slice variant — each ≈2/3-Jaccard to its base
    * (above the 0.5 edge threshold), ≈1/3 to each other (below) — one
    * open L–doc–R wedge per planted doc. Pure token slicing, replayed
    * verbatim in the oracle's `pre`/`pl` CTEs. */
  private def plantedWedgeDocs(s: org.apache.spark.sql.SparkSession,
                               d: String): org.apache.spark.sql.DataFrame = {
    val guarded = when(col("doc_id") >= LP_OFFSET_L - NATIVE_TWIN_OFFSET,
      raise_error(concat(lit("q217 plant-offset collision: doc_id "),
        col("doc_id").cast("string"),
        lit(s" >= ${LP_OFFSET_L - NATIVE_TWIN_OFFSET} — raise LP_OFFSET_*"))))
      .otherwise(col("doc_id"))
    val pre = Tables.documentsSpread(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("doc_id") < 25 && col("n") >= 9)
      .withColumn("k", expr("(2 * n + 2) div 3"))
    val lVar = pre.select((col("doc_id") + LP_OFFSET_L).as("doc_id"),
      concat_ws(" ", slice(col("t"), lit(1), col("k"))).as("text"))
    val rVar = pre.select((col("doc_id") + LP_OFFSET_R).as("doc_id"),
      concat_ws(" ", slice(col("t"), col("n") - col("k") + 1, col("k"))).as("text"))
    // the guard rides the base scan (per-row when(), codegen'd away on
    // the happy path) so id-space disjointness fails loudly, never silently
    Tables.documentsSpread(s, d).select(guarded.as("doc_id"), col("text"))
      .unionByName(lVar).unionByName(rVar)
  }

  /** q109/q200 shared oracle: 5 unrolled fixed-point PageRank rounds over
    * the symmetric winnowing match graph — q200's streaming answer must
    * hash-match the identical batch formulation. */
  private lazy val PR_MATCH_ORACLE: String = {
    val iters = (1 to 5).map { k =>
      val prev = if (k == 1) "r0" else s"i${k - 1}"
      s"""i$k AS (
         |  SELECT ed.v AS id,
         |    CAST(150000 + (85 * SUM(pr.r // ed.od)) // 100 AS BIGINT) AS r
         |  FROM ed JOIN $prev pr ON pr.id = ed.u GROUP BY ed.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $WinnowPairsSqlCtes,
       |edges AS (SELECT id_a AS u, id_b AS v FROM mpairs
       |          UNION ALL SELECT id_b, id_a FROM mpairs),
       |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS od
       |        FROM edges GROUP BY u),
       |ed AS (SELECT e.u, e.v, d.od FROM edges e JOIN deg d ON d.u = e.u),
       |r0 AS (SELECT u AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
       |$iters
       |SELECT id AS doc_id, r AS pr_rank FROM i5
       |ORDER BY doc_id""".stripMargin
  }

  /** q303's warm-round count per ingest batch — the production claim:
    * a few warm rounds from the carried rank vector per batch instead of
    * the full from-uniform ladder. */
  private val WARM_PR_ROUNDS = 2

  /** q303 oracle: FULL REPLAY of the warm-start ladder (r18, verdict
    * item 3). The item asked the warm-start stream to hash-match q200's
    * 5-rounds-from-uniform oracle at the final batch; that is MEASURABLY
    * impossible on this recurrence — the integer damping iteration has no
    * reachable exact fixed point on the fixture (per-round max |Δrank|
    * decays ×0.85 per round, 443706 → 142241 over rounds 4→12, with 56 of
    * 159 nodes still moving at round 12; exact stability would need ~90+
    * rounds and may cycle below that), so a warm recurrence can never
    * land bit-exactly on the round-5 snapshot. What IS exactly replayable
    * is the warm recurrence itself: batch membership is portable
    * (slot = pmod(id_a + id_b, 4)) and arrival-ordered (Stage.batches),
    * batch 0 runs the cold 5-round ladder, every later batch runs
    * WARM_PR_ROUNDS warm rounds from the carried rank table with
    * first-seen nodes at the uniform 1e6 (Graph.warmStartPageRank's exact
    * recurrence) — all integer arithmetic, unrolled here batch by batch.
    * GraphSpec keeps the same-fixed-point CONVERGENCE evidence (warm
    * error strictly below cold error at equal rounds). */
  private lazy val WARM_PR_ORACLE: String = {
    // chain CTEs are MATERIALIZED — DuckDB inlines plain CTEs, and every
    // round CTE would re-inline the whole winnow chain through ed$b
    // (cf. the q271 pointer-doubling lesson; q304's HITS ladder is the
    // exponential case)
    val w = WARM_PR_ROUNDS
    def rounds(b: Int, n: Int) = (1 to n).map { k =>
      val prev = if (k == 1) s"b${b}r0" else s"b${b}i${k - 1}"
      s"""b${b}i$k AS MATERIALIZED (
         |  SELECT ed.v AS id,
         |    CAST(150000 + (85 * SUM(pr.r // ed.od)) // 100 AS BIGINT) AS r
         |  FROM ed$b ed JOIN $prev pr ON pr.id = ed.u GROUP BY ed.v)""".stripMargin
    }.mkString(",\n")
    val batches = (0 to 3).map { b =>
      val n = if (b == 0) 5 else w
      val prevFinal = if (b == 1) "b0i5" else s"b${b - 1}i$w"
      val graph =
        s"""e$b AS MATERIALIZED (
           |  SELECT id_a AS u, id_b AS v FROM tagged WHERE tag <= $b
           |  UNION ALL SELECT id_b, id_a FROM tagged WHERE tag <= $b),
           |deg$b AS MATERIALIZED (
           |  SELECT u, CAST(COUNT(*) AS BIGINT) AS od FROM e$b GROUP BY u),
           |ed$b AS MATERIALIZED (
           |  SELECT e.u, e.v, d.od FROM e$b e JOIN deg$b d ON d.u = e.u)""".stripMargin
      val init =
        if (b == 0)
          "b0r0 AS (SELECT u AS id, CAST(1000000 AS BIGINT) AS r FROM deg0)"
        else
          s"""b${b}r0 AS (SELECT d.u AS id,
             |  CAST(COALESCE(p.r, 1000000) AS BIGINT) AS r
             |  FROM deg$b d LEFT JOIN $prevFinal p ON p.id = d.u)""".stripMargin
      s"$graph,\n$init,\n${rounds(b, n)}"
    }.mkString(",\n")
    s"""WITH $WinnowPairsSqlCtes,
       |tagged AS MATERIALIZED (SELECT id_a, id_b,
       |  ((id_a + id_b) % 4 + 4) % 4 AS tag FROM mpairs),
       |$batches
       |SELECT id AS doc_id, r AS pr_rank FROM b3i$w
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared walk-graph oracle CTEs: the symmetric Jaccard match edges
    * with per-node degree and dense neighbor rank — `und(u, v)`,
    * `deg(u, od)`, `rnk(u, v, r)`. Used by q195/q198 (first-order walks)
    * and q201 (second-order node2vec walks). */
  private lazy val WALK_GRAPH_CTES: String =
    s"""$PAIRS_SQL,
       |und AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
       |        UNION ALL SELECT doc_b, doc_a FROM jpairs),
       |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS od FROM und GROUP BY u),
       |rnk AS (SELECT u, v,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) - 1 AS BIGINT) AS r
       |  FROM und)""".stripMargin

  private lazy val WALK_IDS_SQL: String =
    (0 until WALKS_PER_NODE).map(k => s"($k)").mkString(", ")

  /** q195/q198 shared oracle CTE chain, ending in
    * `walks(start, walk, step, node)` — the derandomized walk corpus. */
  private lazy val WALKS_SQL_CTES: String = {
    val steps = (1 to WALK_STEPS).map { t =>
      s"""w$t AS (SELECT p.start, p.walk, CAST($t AS BIGINT) AS step, r.v AS node
         |  FROM w${t - 1} p
         |  JOIN deg d ON d.u = p.node
         |  JOIN rnk r ON r.u = p.node AND r.r =
         |    ('0x' || substring(md5(CAST(p.start AS VARCHAR) || ':' ||
         |      CAST(p.walk AS VARCHAR) || ':' || CAST(p.step AS VARCHAR) || ':' ||
         |      CAST(p.node AS VARCHAR)), 1, 15))::BIGINT % d.od)""".stripMargin
    }.mkString(",\n")
    val unionAll = (0 to WALK_STEPS).map(t => s"SELECT * FROM w$t")
      .mkString(" UNION ALL ")
    s"""$WALK_GRAPH_CTES,
       |w0 AS (SELECT d.u AS start, CAST(k.k AS BIGINT) AS walk,
       |    CAST(0 AS BIGINT) AS step, d.u AS node
       |  FROM deg d CROSS JOIN (VALUES $WALK_IDS_SQL) k(k)),
       |$steps,
       |walks AS ($unionAll)""".stripMargin
  }

  /** The q195 walk corpus `(start, walk, step, node)` without final
    * ordering — shared by q195 (emits it) and q198 (skip-gram pairs over
    * it). See q195's scaladoc-comment for the derandomization scheme and
    * the 100 TB shape. */
  /** Spark-side walk graph shared by q195/q198/q201: the checkpointed
    * symmetric edge list plus its degree and dense-neighbor-rank views
    * (deg/rnk and every step join scan the checkpoint blocks instead of
    * re-running the pair pipeline per step). */
  private def walkGraph(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val jp = jaccardPairs(s, d)
    val und = jp.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(jp.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .localCheckpoint()
    val deg = und.groupBy("u").agg(count(lit(1)).cast("long").as("od"))
    val rnk = und.withColumn("r",
      (row_number().over(Window.partitionBy("u").orderBy("v")) - 1).cast("long"))
    (und, deg, rnk)
  }

  private def walkCorpus(s: org.apache.spark.sql.SparkSession,
                         d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val (_, deg, rnk) = walkGraph(s, d)
    var cur = deg.select(col("u").as("start"))
      .crossJoin((0L until WALKS_PER_NODE.toLong).toDF("walk"))
      .select(col("start"), col("walk"), lit(0L).as("step"),
        col("start").as("node"))
    val levels = scala.collection.mutable.ArrayBuffer(cur)
    for (t <- 1 to WALK_STEPS) {
      val h = conv(substring(md5(concat_ws(":",
        col("start"), col("walk"), col("step"), col("node"))), 1, 15), 16, 10)
        .cast("long")
      // per-step localCheckpoint (the Components/Graph round
      // convention): the final union reads each level's blocks, so
      // step t's join executes exactly ONCE — without it level t's
      // lazy plan re-runs all t prior joins and the union costs
      // O(steps²) join executions. The frontier is node-sized, so the
      // checkpoint is metadata-scale next to the edge list.
      cur = cur
        .join(deg, col("u") === col("node")).drop("u")
        .join(rnk, col("u") === col("node") && col("r") === h % col("od"))
        .select(col("start"), col("walk"), lit(t.toLong).as("step"),
          col("v").as("node"))
        .localCheckpoint()
      levels += cur
    }
    levels.reduce(_ unionByName _)
  }


  /** Negative draws per positive pair in q208 (word2vec's k). */
  private[queries] val K_NEG = 3

  /** Skip-gram context CTE shared by q198 (pair counts) and q208
    * (negative draws): symmetric ±SKIP_WINDOW co-occurrences within a
    * walk. Requires `walks` from [[WALKS_SQL_CTES]]. */
  private[queries] lazy val SKIPGRAM_CTX_CTE: String =
    s"""ctx AS (
       |  SELECT a.node AS center, b.node AS context
       |  FROM walks a JOIN walks b
       |    ON a.start = b.start AND a.walk = b.walk
       |   AND b.step BETWEEN a.step - $SKIP_WINDOW AND a.step + $SKIP_WINDOW
       |   AND b.step <> a.step)""".stripMargin

  /** The q198 skip-gram pair/count table (center, context, n_pairs) —
    * lead() windows per walk partition, both directions, one map-side-
    * combined count. Shared by q198 (emits it) and q208 (draws negatives
    * per distinct pair). */
  private[queries] def skipgramPairs(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame =
    skipgramPairsOf(stagedWalkCorpus(s, d))

  /** [[skipgramPairs]] over an ALREADY-BUILT walk corpus — q208 shares
    * one checkpointed walk between the pair table and the unigram
    * counts instead of re-running the step-join ladder. */
  private[queries] def skipgramPairsOf(
      wc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("start", "walk").orderBy("step")
    val fwd = wc
      .select(col("node").as("center"),
        array((1 to SKIP_WINDOW).map(j => lead(col("node"), j).over(w)): _*)
          .as("nexts"))
      .select(col("center"), explode(col("nexts")).as("context"))
      .filter(col("context").isNotNull)
    fwd
      .unionByName(fwd.select(col("context").as("center"),
        col("center").as("context")))
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Integer scale for q206's 1/d GloVe distance weights:
    * LCM(1..SKIP_WINDOW), so every scaled weight LCM/d is exact. */
  private[queries] val GLOVE_LCM = 2

  def all: Seq[QueryDef] = Seq(
    // ---- q109: graph centrality over the match graph (fixed-point PR) -----
    // Canonical-document selection for dedup clusters by link analysis:
    // 5 PageRank iterations (d = 0.85) over the symmetric q103 winnowing
    // match graph. Arithmetic is FIXED-POINT BIGINT (ranks scaled by 1e6,
    // `div` for contributions) — integer addition is associative, so the
    // result is bit-identical regardless of aggregation order or engine,
    // which is what makes an iterative float algorithm hash-checkable at
    // all. Each iteration is one keyed join + aggregation against the
    // persisted degree-annotated edge list; at unbounded iteration count
    // the lineage would need per-round localCheckpoint (cf. Components),
    // at a fixed 5 rounds the plan stays flat.
    QueryDef(
      "q109_match_pagerank", PR_MATCH_ORACLE) { (s, d) =>
      // persisted: deg and the degree-annotated edge list both scan the
      // symmetric edge set, and mp itself is a match-pair self-join.
      // fixedPointPageRank is EAGER (returns a localCheckpoint-backed
      // frame), so the cache is releasable the moment it returns — without
      // the unpersist nothing downstream ever references it again and the
      // blocks leak for the session's lifetime (ADVICE r11).
      val mp = winnowMatchPairs(s, d)
      val edges = mp.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionAll(mp.select(col("id_b").as("u"), col("id_a").as("v")))
        .persist()
      val pr =
        try graft.operators.Graph.fixedPointPageRank(edges, "u", "v", iters = 5)
        finally edges.unpersist(blocking = false)
      pr.select(col("id").as("doc_id"), col("r").as("pr_rank"))
        .orderBy("doc_id")
    },

    // ---- q124: canonical-doc selection — components × centrality -----------
    // The step dedup pipelines actually ship: group near-dup docs into
    // clusters (connected components over the q103 match graph) and pick
    // each cluster's canonical representative by CENTRALITY (the q109
    // fixed-point rank — most-connected version wins) instead of the
    // naive min-id. Composition of two individually-green iterative
    // operators; the oracle replays both (recursive-CTE closure + the 5
    // unrolled PageRank rounds) and must agree on every cluster's
    // canonical pick — ties broken by lowest doc_id on both sides.
    QueryDef(
      "q124_canonical_selection", {
        val iters = (1 to 5).map { k =>
          val prev = if (k == 1) "r0" else s"i${k - 1}"
          s"""i$k AS (
             |  SELECT ed.v AS id,
             |    CAST(150000 + (85 * SUM(pr.r // ed.od)) // 100 AS BIGINT) AS r
             |  FROM ed JOIN $prev pr ON pr.id = ed.u GROUP BY ed.v)""".stripMargin
        }.mkString(",\n")
        s"""WITH RECURSIVE $WinnowPairsSqlCtes,
           |und AS (SELECT id_a AS u, id_b AS v FROM mpairs
           |        UNION ALL SELECT id_b, id_a FROM mpairs),
           |reach(u, v) AS (
           |  SELECT u, v FROM und
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
           |comp AS (SELECT u AS doc_id, least(u, MIN(v)) AS cluster_id
           |         FROM reach GROUP BY u),
           |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS od
           |        FROM und GROUP BY u),
           |ed AS (SELECT e.u, e.v, d.od FROM und e JOIN deg d ON d.u = e.u),
           |r0 AS (SELECT u AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
           |$iters,
           |ranked AS (
           |  SELECT c.cluster_id, c.doc_id, i5.r,
           |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
           |                       ORDER BY i5.r DESC, c.doc_id) AS rn
           |  FROM comp c JOIN i5 ON i5.id = c.doc_id)
           |SELECT cluster_id,
           |  MIN(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc,
           |  MIN(CASE WHEN rn = 1 THEN r END) AS canonical_rank,
           |  CAST(COUNT(*) AS BIGINT) AS cluster_size
           |FROM ranked
           |GROUP BY cluster_id
           |ORDER BY cluster_id""".stripMargin
      }) { (s, d) =>
      val mp = winnowMatchPairs(s, d).persist()
      mp.count() // materialize ONCE at session width before both consumers
      val edges = mp.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionAll(mp.select(col("id_b").as("u"), col("id_a").as("v")))
      // CC and PR are independent given mp — both are internally eager
      // (CC's rounds, PR's checkpoint), so running them sequentially
      // serializes two latency-bound iterative phases over a tiny
      // contracted graph. Overlap them: CC on a helper thread, PR on this
      // one; Spark's scheduler interleaves their small stages across idle
      // cores. Both express their measured iteration width IN THE PLAN
      // (explicit repartition — see Components/Graph), so the overlap
      // touches no session state and needs no snapshot/restore (the r11
      // form mutated spark.sql.shuffle.partitions from both threads).
      // Results are unaffected by width or interleaving (both phases are
      // exact integer fixed-point); the oracle hash pins that.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      var fCc: Option[Future[org.apache.spark.sql.DataFrame]] = None
      val (comp, ranks) = try {
        val f = Future {
          graft.operators.Components
            .connectedComponents(mp.select("id_a", "id_b"), "id_a", "id_b")
            .select(col("component").as("cluster_id"), col("id").as("doc_id"))
        }
        fCc = Some(f)
        val r = graft.operators.Graph
          .fixedPointPageRank(edges, "u", "v", iters = 5)
          .select(col("id").as("__rid"), col("r"))
        (Await.result(f, scala.concurrent.duration.Duration.Inf), r)
      } finally {
        // quiesce the CC thread before releasing the cache: if PR threw,
        // an orphaned future would still be running jobs against mp after
        // the unpersist. CC is bounded by maxRounds, so the quiesce
        // always terminates.
        fCc.foreach(f => scala.util.Try(
          Await.ready(f, scala.concurrent.duration.Duration.Inf)))
        // both consumers are eager and checkpoint-backed once the future
        // has quiesced — nothing references the mp cache after this point
        // (ADVICE r11: the unreleased persist leaked for the session's
        // lifetime)
        mp.unpersist(blocking = false)
      }
      // canonical pick = argmax (r, -doc_id): a single max_by hash-agg
      // (partial-agg'd map-side, no per-cluster sort) replaces the
      // row_number window — same selection the oracle's rn = 1 makes,
      // deterministic because (r, doc_id) is unique per row.
      val ord = struct(col("r"), negate(col("doc_id")))
      comp.join(ranks, col("doc_id") === col("__rid"))
        .groupBy("cluster_id")
        .agg(max_by(col("doc_id"), ord).as("canonical_doc"),
          max_by(col("r"), ord).as("canonical_rank"),
          count(lit(1)).as("cluster_size"))
        .orderBy("cluster_id")
    },


    // ---- q147: k-hop contamination spread (bounded BFS) --------------------
    // The blast-radius query decontamination needs: given flagged docs
    // (portable stand-in: doc_id % 11 = 0), which docs sit within K
    // near-dup hops — i.e. would removing the flagged docs leave behind
    // close paraphrases? Bounded synchronous BFS: dist(v) starts 0 on
    // flagged nodes, each round takes min(dist, 1 + min over neighbors) —
    // one keyed join + one keyed min per round, K rounds unrolled in the
    // oracle. Unreached docs report dist −1 (portable NULL-free form).
    QueryDef(
      "q147_contamination_spread", {
        val rounds = (1 to SPREAD_HOPS).map { r =>
          s"""d$r AS (
             |  SELECT n.id,
             |    CAST(LEAST(n.dist,
             |      COALESCE(m.nd + 1, ${Int.MaxValue})) AS BIGINT) AS dist
             |  FROM d${r - 1} n LEFT JOIN (
             |    SELECT e.v, MIN(p.dist) AS nd
             |    FROM ed e JOIN d${r - 1} p ON p.id = e.u
             |    WHERE p.dist < ${Int.MaxValue}
             |    GROUP BY e.v) m ON m.v = n.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH $PAIRS_SQL,
           |ed AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
           |       UNION ALL SELECT doc_b, doc_a FROM jpairs),
           |d0 AS (SELECT DISTINCT u AS id,
           |    CAST(CASE WHEN u % 11 = 0 THEN 0 ELSE ${Int.MaxValue} END AS BIGINT)
           |      AS dist
           |  FROM ed),
           |$rounds
           |SELECT id AS doc_id,
           |  CASE WHEN dist >= ${Int.MaxValue} THEN CAST(-1 AS BIGINT) ELSE dist END
           |    AS hops
           |FROM d$SPREAD_HOPS
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val INF = Int.MaxValue.toLong
      val jp = jaccardPairs(s, d)
      val ed = jp.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .unionAll(jp.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .persist()
      var dist = ed.select(col("u").as("id")).distinct()
        .select(col("id"),
          when(col("id") % 11 === 0, lit(0L)).otherwise(lit(INF)).as("dist"))
      for (_ <- 1 to SPREAD_HOPS) {
        val relaxed = ed.join(dist.filter(col("dist") < INF), col("u") === col("id"))
          .groupBy(col("v")).agg(min(col("dist")).as("nd"))
        dist = dist.join(relaxed, col("v") === col("id"), "left")
          .select(col("id"),
            least(col("dist"), coalesce(col("nd") + 1, lit(INF))).as("dist"))
      }
      dist
        .select(col("id").as("doc_id"),
          when(col("dist") >= INF, lit(-1L)).otherwise(col("dist")).as("hops"))
        .orderBy("doc_id")
    },

    // ---- q145: personalized PageRank from a seed set -----------------------
    // Quality propagation: restart mass lands ONLY on seed docs (here the
    // portable rule doc_id % 7 = 0 stands in for a curated list), so rank
    // measures how strongly the match graph vouches for each doc's
    // proximity to the seeds — nodes unreachable from every seed stay at
    // exactly 0 (asserted in GraphSpec). Same fixed-point integer
    // discipline as q109, so the iterative result is bit-identical under
    // any partitioning and the 4 rounds unroll as oracle CTEs.
    QueryDef(
      "q145_personalized_pagerank", {
        val iters = (1 to PPR_ITERS).map { k =>
          val prev = if (k == 1) "r0" else s"i${k - 1}"
          s"""c$k AS (
             |  SELECT ed.v, CAST((85 * SUM(pr.r // ed.od)) // 100 AS BIGINT) AS rc
             |  FROM ed JOIN $prev pr ON pr.id = ed.u GROUP BY ed.v),
             |i$k AS (
             |  SELECT n.id,
             |    CAST(CASE WHEN n.id % 7 = 0 THEN 150000 ELSE 0 END
             |      + COALESCE(c$k.rc, 0) AS BIGINT) AS r
             |  FROM nodes n LEFT JOIN c$k ON c$k.v = n.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH $PAIRS_SQL,
           |edges AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
           |          UNION ALL SELECT doc_b, doc_a FROM jpairs),
           |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS od
           |        FROM edges GROUP BY u),
           |ed AS (SELECT e.u, e.v, d.od FROM edges e JOIN deg d ON d.u = e.u),
           |nodes AS (SELECT u AS id FROM deg),
           |r0 AS (SELECT id,
           |  CAST(CASE WHEN id % 7 = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS r
           |  FROM nodes),
           |$iters
           |SELECT id AS doc_id, r AS ppr FROM i$PPR_ITERS
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val jp = jaccardPairs(s, d)
      val edges = jp.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .unionAll(jp.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .persist()
      // personalizedPageRank is eager (checkpoint-backed result) — the
      // edge cache is dead the moment it returns (cf. q109)
      val ppr =
        try graft.operators.Graph.personalizedPageRank(
          edges, "u", "v", id => id % 7 === 0, iters = PPR_ITERS)
        finally edges.unpersist(blocking = false)
      ppr.select(col("id").as("doc_id"), col("r").as("ppr"))
        .orderBy("doc_id")
    },

    // ---- q143: triangle count + clustering coefficient ---------------------
    // Structural audit of the near-dup graph beyond components (q67) and
    // centrality (q109/q124): triangles distinguish tight clone-cliques
    // from chains of marginal matches (high clustering ⇒ a real duplicate
    // family; low ⇒ transitive borderline pairs CC would still merge).
    // One ordered 3-way self-join on the (a<b) edge list — each join is
    // keyed, fan-out bounded by the capped pair degree — then a per-node
    // unnest + count. Shares jpairs with q27/q67 so the graph cannot
    // drift. coefficient = 2·tri / (deg·(deg−1)), e-notation double
    // literals (decimal-literal gotcha, cf. q141).
    QueryDef(
      "q143_triangle_clustering",
      s"""WITH $PAIRS_SQL,
         |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |    SELECT doc_a AS id FROM jpairs
         |    UNION ALL SELECT doc_b FROM jpairs) GROUP BY id),
         |tri AS (SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
         |  FROM jpairs e1
         |  JOIN jpairs e2 ON e2.doc_a = e1.doc_b
         |  JOIN jpairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
         |nt AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
         |    SELECT unnest([x, y, z]) AS id FROM tri) GROUP BY id)
         |SELECT deg.id AS doc_id, deg.deg, COALESCE(nt.n_tri, 0) AS n_tri,
         |  CASE WHEN deg.deg < 2 THEN 0e0
         |       ELSE 2e0 * COALESCE(nt.n_tri, 0) / (deg.deg * (deg.deg - 1)) END
         |    AS clustering
         |FROM deg LEFT JOIN nt ON nt.id = deg.id
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val jp = jaccardPairs(s, d)
        .select(col("doc_a").as("a"), col("doc_b").as("b")).persist()
      val deg = jp.select(col("a").as("id")).unionAll(jp.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val tri = jp.as("e1")
        .join(jp.as("e2"), col("e2.a") === col("e1.b"))
        .join(jp.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val nodeTri = tri.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("n_tri"))
      val ntri = coalesce(col("n_tri"), lit(0L))
      deg.join(nodeTri, Seq("id"), "left")
        .select(col("id").as("doc_id"), col("deg"), ntri.as("n_tri"),
          when(col("deg") < 2, lit(0.0))
            .otherwise(lit(2.0) * ntri / (col("deg") * (col("deg") - 1)))
            .as("clustering"))
        .orderBy("doc_id")
    },

    // ---- q144: label-propagation communities -------------------------------
    // The third clustering lens on the match graph: synchronous label
    // propagation with a deterministic vote (most-frequent neighbor
    // label, ties to the smallest) for LPA_ROUNDS rounds. Each round is
    // one keyed join + one keyed vote aggregation (max_by on Spark, the
    // ROW_NUMBER formulation in the oracle — the q105 pattern of partial-
    // agg impl vs window-form oracle). Communities ≠ components: LPA
    // splits chains that CC merges, which is exactly the moderation a
    // dedup reviewer wants next to q67.
    QueryDef(
      "q144_label_propagation", LPA_MATCH_ORACLE) { (s, d) =>
      val jp = jaccardPairs(s, d)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val labels = lpaLabels(jp.select(col("a").as("u"), col("b").as("v"))
        .unionAll(jp.select(col("b").as("u"), col("a").as("v"))))
      labels.groupBy("lab")
        .agg(count(lit(1)).as("n_members"), min(col("id")).as("min_member"))
        .select(col("lab").as("community"), col("n_members"), col("min_member"))
        .orderBy("community")
    },

    // ---- q241: streaming incremental label propagation ---------------------
    // The q194/q200 versioned-state pattern applied to the community
    // view: match edges arrive (the staged Jaccard-pair files,
    // one per trigger) and every micro-batch re-derives the
    // LPA_ROUNDS community assignment of the graph seen so far — the
    // ingest-time shape of topic/community tracking over a growing
    // near-dup graph. State is the accumulated edge list in versioned
    // parquet (write v{batchId}, read previous — idempotent under
    // micro-batch replay); per batch the FULL fixed-round LPA re-runs
    // from singleton labels over state ∪ batch inside the Rounds scope
    // (label warm-starting is deliberately NOT used — q144's contract is
    // exactly-LPA_ROUNDS-from-singletons, the fixed-round replay that
    // makes the iterative answer hash-checkable; a warm-started label
    // table over a grown edge set answers a different recurrence). The
    // final batch's communities hash-match batch q144's oracle VERBATIM.
    // Like q200 (and unlike q194's compressing CC state), LPA votes need
    // every edge each round — the honest per-batch cost is bounded
    // rounds over the current graph.
    QueryDef(
      "q241_stream_incremental_lpa", LPA_MATCH_ORACLE) { (s, d) =>
      val srcDir = stagedPairBatches(s, d)
      val store = Stage.cleared("graft-q241-lpa-", d)
      val latestLabels = Streams.replay(s, srcDir, Option.empty[String])((_, batch, batchId) => {
        val ss = batch.sparkSession
        // append-only edge store (cf. q303): O(batch) write per
        // micro-batch instead of the O(E) full rewrite. LPA votes are
        // multiplicity-sensitive; Stage.append's batch-addressed
        // overwrite keeps at-least-once replay from doubling edges
        val edges = s"$store/edges"
        Stage.append(edges, batchId,
          batch.select(col("doc_a"), col("doc_b")).coalesce(1))
        val mp = Stage.read(ss, edges, batch.select(col("doc_a"), col("doc_b")))
          .select("doc_a", "doc_b")
        val labels = lpaLabels(
          mp.select(col("doc_a").as("u"), col("doc_b").as("v"))
            .unionAll(mp.select(col("doc_b").as("u"), col("doc_a").as("v"))))
        val labelsV = s"$store/labels_v$batchId"
        labels.write.mode("overwrite").parquet(labelsV)
        Some(labelsV)
      })
      latestLabels match {
        case Some(last) =>
          s.read.parquet(last)
            .groupBy("lab")
            .agg(count(lit(1)).as("n_members"), min(col("id")).as("min_member"))
            .select(col("lab").as("community"), col("n_members"),
              col("min_member"))
            .orderBy("community")
        case None =>
          // zero micro-batches fired — match batch q144's empty answer
          s.range(0).select(col("id").as("community"),
            col("id").as("n_members"), col("id").as("min_member"))
      }
    },

    // ---- q308: WARM-START streaming LPA — the third warm carried state -----
    // q303 carries ranks, q304 carries hubs; q308 carries LABELS,
    // completing the warm-start family across the registry's iterative
    // streaming members. Per ingest batch, lpaLabelsFrom runs
    // WARM_LPA_ROUNDS majority-vote rounds from the previous batch's
    // label table (first-seen nodes at their own id) instead of q241's
    // full from-singleton replay — near-converged labels barely move
    // when a batch adds few edges, so bounded warm rounds re-settle the
    // community structure. The oracle replays the warm ladder over the
    // deterministic tagged split (WARM_LPA_ORACLE); state (edge set +
    // label table, versioned parquet, the previous version from the
    // replay fold) is idempotent under at-least-once replay.
    // INCREMENTAL_LEDGER.md carries the per-batch cost next to q241's.
    QueryDef(
      "q308_warm_stream_lpa", WARM_LPA_ORACLE) { (s, d) =>
      val srcDir = Stage.batches("graft-q308-src-", d, 4)(jaccardPairs(s, d)
        .select(col("doc_a"), col("doc_b"),
          pmod(col("doc_a") + col("doc_b"), lit(4)).as("slot")))
      val store = Stage.cleared("graft-q308-lpa-", d)
      val latestLabels = Streams.replay(s, srcDir, Option.empty[String])((prev, batch, batchId) => {
        val ss = batch.sparkSession
        // append-only edge store (cf. q303): O(batch) write per
        // micro-batch instead of the O(E) full rewrite
        val edges = s"$store/edges"
        Stage.append(edges, batchId,
          batch.select(col("doc_a"), col("doc_b")).coalesce(1))
        val mp = Stage.read(ss, edges, batch.select(col("doc_a"), col("doc_b")))
          .select("doc_a", "doc_b")
        val sym = mp.select(col("doc_a").as("u"), col("doc_b").as("v"))
          .unionAll(mp.select(col("doc_b").as("u"), col("doc_a").as("v")))
        val labels = prev match {
          case Some(p) => lpaLabelsFrom(sym, Some(ss.read.parquet(p)), WARM_LPA_ROUNDS)
          case None => lpaLabelsFrom(sym, None, LPA_ROUNDS)
        }
        val labelsV = s"$store/labels_v$batchId"
        labels.write.mode("overwrite").parquet(labelsV)
        Some(labelsV)
      })
      latestLabels match {
        case Some(last) =>
          s.read.parquet(last)
            .groupBy("lab")
            .agg(count(lit(1)).as("n_members"), min(col("id")).as("min_member"))
            .select(col("lab").as("community"), col("n_members"),
              col("min_member"))
            .orderBy("community")
        case None =>
          s.range(0).select(col("id").as("community"),
            col("id").as("n_members"), col("id").as("min_member"))
      }
    },

    // ---- q238: 2-core peel over the near-dup graph ---------------------------
    // Core decomposition — the graph-side spam/template-farm detector the
    // corpus graph family still lacked: nodes that survive iterated
    // "drop everything with degree < 2" sit in dense duplication
    // structure (rings and mats of near-dups), while chain/star periphery
    // peels away. KCORE_ROUNDS is FIXED (the q109/q144 discipline): both
    // engines unroll exactly 4 peel rounds — degrees over the surviving
    // edge set, drop nodes under 2, keep edges with both ends alive — and
    // report the round-4 state (in_core + residual degree), converged or
    // not, so the replay is structural, never a convergence race.
    //
    // 100 TB shape: each round is one map-side-combined degree agg + two
    // keyed semi-joins on the edge list — edge-linear, node-sized state,
    // per-round localCheckpoint truncating lineage (the q195 ladder);
    // all rounds run in a Rounds scope at measured width, result
    // rebound node-sized. No windows, no driver graph.
    QueryDef(
      "q238_kcore_peel", {
        // each e_{r-1} is referenced three times per round (degree agg +
        // both semi-join sides); DuckDB inlines CTEs by default, so the
        // plan re-expands the whole jpairs pipeline 3^r times and
        // exhausts spill at sf0.1 — MATERIALIZED pins each round once
        val rounds = (1 to KCORE_ROUNDS).map { r =>
          s"""d$r AS MATERIALIZED (SELECT u, COUNT(*) AS c FROM e${r - 1} GROUP BY u),
             |a$r AS MATERIALIZED (SELECT u FROM d$r WHERE c >= 2),
             |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
             |        JOIN a$r x ON x.u = e.u JOIN a$r y ON y.u = e.v)""".stripMargin
        }.mkString(",\n")
        s"""WITH $PAIRS_SQL,
           |e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM jpairs
           |       UNION ALL SELECT doc_b, doc_a FROM jpairs),
           |n0 AS (SELECT DISTINCT u FROM e0),
           |$rounds,
           |fd AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS c
           |       FROM e$KCORE_ROUNDS GROUP BY u)
           |SELECT n0.u AS node_id,
           |  CAST(CASE WHEN a$KCORE_ROUNDS.u IS NOT NULL THEN 1 ELSE 0 END
           |    AS BIGINT) AS in_core,
           |  CAST(COALESCE(fd.c, 0) AS BIGINT) AS core_deg
           |FROM n0
           |LEFT JOIN a$KCORE_ROUNDS ON a$KCORE_ROUNDS.u = n0.u
           |LEFT JOIN fd ON fd.u = n0.u
           |ORDER BY node_id""".stripMargin
      }) { (s, d) =>
      val jp = jaccardPairs(s, d)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val ed = Rounds.narrowed(
        jp.select(col("a").as("u"), col("b").as("v"))
          .unionAll(jp.select(col("b").as("u"), col("a").as("v"))))._1
      val peeled = {
        val nodes0 = ed.select("u").distinct().localCheckpoint()
        var e = ed.repartition(col("u"))
        var alive = nodes0
        for (_ <- 1 to KCORE_ROUNDS) {
          alive = e.groupBy("u").agg(count(lit(1)).as("c"))
            .filter(col("c") >= 2).select("u").localCheckpoint()
          e = e.join(alive, "u")
            .join(alive.select(col("u").as("v")), "v")
            .select("u", "v").localCheckpoint()
        }
        val fd = e.groupBy("u").agg(count(lit(1)).as("c"))
        val out = nodes0
          .join(alive.select(col("u"), lit(1L).as("in_core")), Seq("u"), "left")
          .join(fd, Seq("u"), "left")
          .select(col("u").as("node_id"),
            coalesce(col("in_core"), lit(0L)).as("in_core"),
            coalesce(col("c"), lit(0L)).as("core_deg"))
        Rounds.back(out.localCheckpoint(), s)
      }
      peeled.orderBy("node_id")
    },


    // ---- q194: streaming incremental connected components ------------------
    // Incremental entity resolution at ingest — the q116-versioned-state
    // trick applied to q67's clustering: match pairs ARRIVE as
    // micro-batches (as candidate generation discovers them) and each
    // batch folds into a persistent component state WITHOUT ever
    // re-reading the pair history. State = the star edges (id →
    // component) of the clusters so far — NODE-sized, the contraction CC
    // itself converges to — and per batch the engine runs
    // `Components.connectedComponents` over state ∪ new edges only.
    // Correct because a component's star preserves exactly its
    // connectivity: CC(stars(G₁) ∪ E₂) = CC(G₁ ∪ E₂), and connectivity is
    // associative-commutative over edge arrival order, so ANY batch split
    // yields the same final clustering — which is what the oracle pins
    // (the identical recursive-closure SQL as batch q67, hash-exact).
    //
    // 100 TB shape: the alternative — re-cluster the full pair corpus on
    // every ingest — reads history linear in corpus age; this reads
    // O(|nodes| + |batch|) per merge. Each per-batch CC runs in the
    // narrow session clone at its measured width (tiny for incremental
    // merges: the state is already a union of stars, so late batches
    // converge in 1–2 rounds), and state versions ping-pong as parquet
    // (a lakehouse MERGE in parquet terms, cf. q116).
    QueryDef(
      "q194_stream_incremental_cc",
      s"""WITH RECURSIVE $PAIRS_SQL,
         |und AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
         |        UNION ALL
         |        SELECT doc_b AS u, doc_a AS v FROM jpairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM und
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
         |comp AS (SELECT u AS doc_id, least(u, MIN(v)) AS cluster_id
         |         FROM reach GROUP BY u)
         |SELECT cluster_id, doc_id,
         |  CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
         |FROM comp
         |ORDER BY cluster_id, doc_id""".stripMargin) { (s, d) =>
      val srcDir = stagedPairBatches(s, d)
      val store = Stage.cleared("graft-q194-cc-", d)
      val latest = Streams.replay(s, srcDir, Option.empty[String])((prev, batch, batchId) => {
        val newEdges = batch.select(col("doc_a").as("u"), col("doc_b").as("v"))
        val merged = prev match {
          case Some(p) =>
            batch.sparkSession.read.parquet(p)
              .select(col("id").as("u"), col("component").as("v"))
              .unionByName(newEdges)
          case None => newEdges
        }
        val comp = graft.operators.Components
          .connectedComponents(merged, "u", "v")
        val next = s"$store/v$batchId"
        comp.write.mode("overwrite").parquet(next)
        Some(next)
      })
      latest match {
        case Some(last) =>
          s.read.parquet(last)
            .select(col("component").as("cluster_id"), col("id").as("doc_id"),
              when(col("id") === col("component"), 1L).otherwise(0L)
                .as("is_canonical"))
            .orderBy("cluster_id", "doc_id")
        case None =>
          // zero micro-batches fired (no staged pair files at this SF) —
          // match batch q67's empty-input answer instead of NPE-ing
          s.range(0).select(col("id").as("cluster_id"), col("id").as("doc_id"),
            col("id").as("is_canonical"))
      }
    },

    // ---- q195: deterministic random walks over the match graph -------------
    // The graph-embedding data-prep primitive (DeepWalk, Perozzi et al.
    // KDD'14; node2vec's p=q=1 case): WALKS_PER_NODE truncated random
    // walks of WALK_STEPS steps from every node, emitted as (start, walk,
    // step, node) rows — the "sentences" a skip-gram embedder consumes.
    // The walk is made ORACLE-REPLAYABLE by derandomizing the step draw:
    // each node's neighbors get a dense rank r ∈ [0, od) (ROW_NUMBER by
    // neighbor id — deterministic, ties impossible on distinct pairs),
    // and step t moves to the neighbor with
    //   r = H(start, walk, t−1, node) mod od,
    // H being the portable 60-bit md5 both engines compute bit-identically
    // (the q65 trick). H is keyed on the FULL walk state, so the two
    // walks from one start diverge and revisits of a node at different
    // steps redraw independently — the statistical shape DeepWalk wants,
    // with none of the engine-specific RNG that would make this
    // rows-only.
    //
    // 100 TB shape: one degree agg + one per-node neighbor-rank window
    // (bounded by max degree, never corpus-wide) + WALK_STEPS keyed
    // joins of the walk frontier (|nodes|·WALKS_PER_NODE rows — node-
    // sized) against the ranked edge list; the edge list is checkpointed
    // once and every step probes it by key. Nothing quadratic, state is
    // the frontier, and the emitted corpus is nodes × walks × steps rows
    // — the same asymptotics as the walk corpus any embedding pipeline
    // materializes.
    QueryDef(
      "q195_random_walks",
      s"""WITH $WALKS_SQL_CTES
         |SELECT start, walk, step, node
         |FROM walks
         |ORDER BY start, walk, step""".stripMargin) { (s, d) =>
      stagedWalkCorpus(s, d).orderBy("start", "walk", "step")
    },

    // ---- q198: walk → skip-gram pair generation ----------------------------
    // What the q195 walk corpus exists FOR: a word2vec-style embedder
    // (DeepWalk/node2vec) trains on (center, context) co-occurrence pairs
    // within a ±SKIP_WINDOW window of each walk position — this query
    // materializes that pair/count table. Self-join-free by construction:
    // contexts come from lead(node, j) over the (start, walk) partition
    // ordered by step (j = 1..SKIP_WINDOW), then each forward pair is
    // emitted in both directions — the same multiset the oracle's
    // symmetric step-range join produces. Fully hash-checkable because
    // q195's corpus itself replays exactly (derandomized step draw).
    //
    // 100 TB shape: ONE shuffle to co-locate each walk's WALK_STEPS+1
    // rows (partitions are walk-count-sized, each window tiny and
    // bounded), a map-side explode bounded by SKIP_WINDOW, and one
    // map-side-combined count agg on (center, context) — the pair
    // vocabulary, near-dup-graph-sized, never corpus-scale. No self-join
    // anywhere: the window pass replaces the quadratic walks⋈walks the
    // oracle can afford only at test SF.
    QueryDef(
      "q198_skipgram_pairs",
      s"""WITH $WALKS_SQL_CTES,
         |$SKIPGRAM_CTX_CTE
         |SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM ctx
         |GROUP BY center, context
         |ORDER BY center, context""".stripMargin) { (s, d) =>
      skipgramPairs(s, d).orderBy("center", "context")
    },

    // ---- q200: streaming incremental PageRank over the match graph ---------
    // q194's versioned-state pattern applied to the last iterative-family
    // member: match edges ARRIVE (the staged winnow-pair files,
    // one per trigger) and every micro-batch re-derives the
    // centrality ranking of the graph seen so far — the ingest-time shape
    // of q124's canonical-doc selection, where each pair discovery can
    // reshuffle which cluster member is canonical. State is the
    // accumulated EDGE list in versioned parquet (the q116 MERGE trick:
    // write v{batchId}, read v{batchId-1} — idempotent under micro-batch
    // replay); per batch, the full 5 fixed-point rounds re-run from the
    // uniform init over state ∪ batch inside the Rounds scope
    // (Graph.fixedPointPageRank — conf-isolated width, checkpointed
    // rounds), and the node-sized rank table lands in its own version.
    // Rank warm-starting is deliberately NOT used: q109's contract is
    // exactly-5-rounds-from-uniform (that fixed-round integer replay is
    // what makes an iterative algorithm hash-checkable at all), and a
    // warm-started rank over a grown edge set answers a different
    // recurrence — so the warm state here is the edge store, not the
    // ranks, and the final batch's output hash-matches batch q109's
    // oracle verbatim. Unlike q194's CC (whose star-edge state COMPRESSES
    // pair history to node size), PR needs every edge each round — the
    // honest per-batch cost is bounded rounds over the current graph,
    // which is precisely what a production rank-on-ingest pipeline pays.
    QueryDef(
      "q200_stream_incremental_pagerank", PR_MATCH_ORACLE) { (s, d) =>
      val srcDir = stagedWinnowPairBatches(s, d)
      val store = Stage.cleared("graft-q200-pr-", d)
      val latestRanks = Streams.replay(s, srcDir, Option.empty[String])((_, batch, batchId) => {
        val ss = batch.sparkSession
        // append-only edge store (cf. q303): O(batch) write per
        // micro-batch instead of the O(E) full rewrite. PR degrees are
        // multiplicity-sensitive; Stage.append's batch-addressed
        // overwrite keeps at-least-once replay from doubling edges
        val edges = s"$store/edges"
        Stage.append(edges, batchId,
          batch.select(col("id_a"), col("id_b")).coalesce(1))
        val mp = Stage.read(ss, edges, batch.select(col("id_a"), col("id_b")))
          .select("id_a", "id_b")
        val sym = mp.select(col("id_a").as("u"), col("id_b").as("v"))
          .unionAll(mp.select(col("id_b").as("u"), col("id_a").as("v")))
        val pr = graft.operators.Graph
          .fixedPointPageRank(sym, "u", "v", iters = 5)
        val ranksV = s"$store/ranks_v$batchId"
        pr.write.mode("overwrite").parquet(ranksV)
        Some(ranksV)
      })
      latestRanks match {
        case Some(last) =>
          s.read.parquet(last)
            .select(col("id").as("doc_id"), col("r").as("pr_rank"))
            .orderBy("doc_id")
        case None =>
          // zero micro-batches fired — match batch q109's empty answer
          s.range(0).select(col("id").as("doc_id"), col("id").as("pr_rank"))
      }
    },

    // ---- q303: WARM-START streaming PageRank — the production rank path ----
    // q200's sibling with the state carried as RANKS, not just edges: the
    // scale answer to its O(rounds·E)-per-batch replay (verdict r17 item
    // 3). Per ingest batch, Graph.warmStartPageRank runs WARM_PR_ROUNDS
    // bounded rounds from the previous batch's rank table (first-seen
    // nodes at uniform 1e6) instead of the full 5-round from-uniform
    // ladder — the hub vector is already near the grown graph's fixed
    // point when a batch adds few edges (GraphSpec: warm error < cold
    // error at equal rounds). Because the integer recurrence has no
    // reachable EXACT fixed point on the fixture (measured r18 — see
    // WARM_PR_ORACLE), the oracle replays the warm ladder itself over the
    // deterministic tagged batch split; the edge store is append-only
    // and the rank table versioned parquet, its previous version taken
    // from the replay fold (a replayed micro-batch recomputes its
    // version from exactly the same inputs). Per-batch cost: 2 keyed
    // joins + 2 map-side-combined aggs per round over the current graph, rounds
    // CONSTANT — the O(E) term q200 pays per batch drops to
    // O(E·W/5) with W=2, measured in INCREMENTAL_LEDGER.md.
    QueryDef(
      "q303_warm_stream_pagerank", WARM_PR_ORACLE) { (s, d) =>
      val srcDir = Stage.batches("graft-q303-src-", d, 4)(winnowMatchPairs(s, d)
        .select(col("id_a"), col("id_b"),
          pmod(col("id_a") + col("id_b"), lit(4)).as("slot")))
      val store = Stage.cleared("graft-q303-warmpr-", d)
      val latestRanks = Streams.replay(s, srcDir, Option.empty[String])((prev, batch, batchId) => {
        val ss = batch.sparkSession
        // append-only edge store: write THIS batch's edges, read the
        // accumulated store back — same cumulative edge frame as a full
        // rewrite at O(batch) write cost instead of O(E) per micro-batch
        val edges = s"$store/edges"
        Stage.append(edges, batchId,
          batch.select(col("id_a"), col("id_b")).coalesce(1))
        val mp = Stage.read(ss, edges, batch.select(col("id_a"), col("id_b")))
          .select("id_a", "id_b")
        val sym = mp.select(col("id_a").as("u"), col("id_b").as("v"))
          .unionAll(mp.select(col("id_b").as("u"), col("id_a").as("v")))
        val pr = prev match {
          case Some(p) =>
            graft.operators.Graph.warmStartPageRank(sym, "u", "v",
              ss.read.parquet(p), iters = WARM_PR_ROUNDS)
          case None =>
            graft.operators.Graph.fixedPointPageRank(sym, "u", "v", iters = 5)
        }
        val ranksV = s"$store/ranks_v$batchId"
        pr.write.mode("overwrite").parquet(ranksV)
        Some(ranksV)
      })
      latestRanks match {
        case Some(last) =>
          s.read.parquet(last)
            .select(col("id").as("doc_id"), col("r").as("pr_rank"))
            .orderBy("doc_id")
        case None =>
          s.range(0).select(col("id").as("doc_id"), col("id").as("pr_rank"))
      }
    },

    // ---- q201: node2vec second-order biased walks --------------------------
    // The search-bias generalization of q195 (Grover & Leskovec, KDD'16 —
    // public literature): step t's draw depends on the PREVIOUS node, so
    // the walk interpolates between BFS-like (stay near) and DFS-like
    // (wander) exploration. Transition weights with p=2, q=1/2, scaled ×2
    // to stay integer: returning to prev costs 1 (1/p·2), a neighbor of
    // prev costs 2 (1·2), a distance-2 hop costs 4 (1/q·2); step 1 (no
    // prev yet) is uniform. The draw is derandomized on the full
    // second-order state — r = H(start, walk, t−1, prev, node) mod
    // Σweights, selected by cumulative-weight interval over the dense
    // neighbor rank — so the biased corpus replays exactly in DuckDB,
    // interval-selection and all (a float alias-table draw would be
    // rows-only). Distance-1 detection is a keyed LEFT join of the
    // candidate (prev, x) pair against the edge set — no adjacency list
    // ever materializes per row.
    //
    // 100 TB shape: per step, one keyed join of the node-sized frontier
    // against the ranked edge list (fan-out = frontier degrees, bounded
    // by the edge count), one keyed membership join, and two windows
    // partitioned per (start, walk) — each window partition is one
    // node's neighbor list, bounded by max degree, never corpus-wide.
    // Per-step localCheckpoint keeps the union O(steps), the q195
    // discipline.
    QueryDef(
      "q201_node2vec_walks", {
        val steps = (1 to WALK_STEPS).map { t =>
          s"""c$t AS (SELECT p.start, p.walk, p.node, p.prev, r.v, r.r,
             |    CASE WHEN r.v = p.prev THEN 1
             |         WHEN p.prev IS NULL THEN 1
             |         WHEN e.u IS NOT NULL THEN 2 ELSE 4 END AS w
             |  FROM b${t - 1} p
             |  JOIN rnk r ON r.u = p.node
             |  LEFT JOIN und e ON e.u = p.prev AND e.v = r.v),
             |u$t AS (SELECT *,
             |    SUM(w) OVER (PARTITION BY start, walk ORDER BY r
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             |    SUM(w) OVER (PARTITION BY start, walk) AS tw,
             |    ('0x' || substring(md5(CAST(start AS VARCHAR) || ':' ||
             |      CAST(walk AS VARCHAR) || ':' || CAST(${t - 1} AS VARCHAR) || ':' ||
             |      CAST(COALESCE(prev, -1) AS VARCHAR) || ':' ||
             |      CAST(node AS VARCHAR)), 1, 15))::BIGINT AS h
             |  FROM c$t),
             |b$t AS (SELECT start, walk, CAST($t AS BIGINT) AS step,
             |    v AS node, node AS prev
             |  FROM u$t WHERE cw - w <= h % tw AND h % tw < cw)""".stripMargin
        }.mkString(",\n")
        val unionAll = (0 to WALK_STEPS)
          .map(t => s"SELECT start, walk, step, node FROM b$t")
          .mkString(" UNION ALL ")
        s"""WITH $WALK_GRAPH_CTES,
           |b0 AS (SELECT d.u AS start, CAST(k.k AS BIGINT) AS walk,
           |    CAST(0 AS BIGINT) AS step, d.u AS node,
           |    CAST(NULL AS BIGINT) AS prev
           |  FROM deg d CROSS JOIN (VALUES $WALK_IDS_SQL) k(k)),
           |$steps
           |SELECT start, walk, step, node
           |FROM ($unionAll)
           |ORDER BY start, walk, step""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      val (und, deg, rnk) = walkGraph(s, d)
      val prevEdge = und.select(col("u").as("pu"), col("v").as("pv"))
        .withColumn("d1", lit(1))
      val wOrd = Window.partitionBy("start", "walk").orderBy("r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("start", "walk")
      var cur = deg.select(col("u").as("start"))
        .crossJoin((0L until WALKS_PER_NODE.toLong).toDF("walk"))
        .select(col("start"), col("walk"), lit(0L).as("step"),
          col("start").as("node"), lit(null).cast("long").as("prev"))
      val levels = scala.collection.mutable.ArrayBuffer(
        cur.select("start", "walk", "step", "node"))
      for (t <- 1 to WALK_STEPS) {
        val h = conv(substring(md5(concat_ws(":",
          col("start"), col("walk"), col("step"),
          coalesce(col("prev"), lit(-1L)), col("node"))), 1, 15), 16, 10)
          .cast("long")
        cur = cur
          .join(rnk, col("u") === col("node")).drop("u")
          .join(prevEdge,
            col("pu") === col("prev") && col("pv") === col("v"), "left")
          .withColumn("w",
            when(col("v") === col("prev"), 1L)
              .when(col("prev").isNull, 1L)
              .when(col("d1") === 1, 2L)
              .otherwise(4L))
          .withColumn("cw", sum(col("w")).over(wOrd))
          .withColumn("tw", sum(col("w")).over(wAll))
          .withColumn("rd", h % col("tw"))
          .filter(col("cw") - col("w") <= col("rd") && col("rd") < col("cw"))
          .select(col("start"), col("walk"), lit(t.toLong).as("step"),
            col("v").as("node"), col("node").as("prev"))
          .localCheckpoint() // the q195 per-step discipline
        levels += cur.select("start", "walk", "step", "node")
      }
      levels.reduce(_ unionByName _).orderBy("start", "walk", "step")
    },


    // ---- q206: GloVe co-occurrence statistics over the walk corpus ---------
    // The OTHER embedding objective the walk corpus feeds: GloVe
    // (Pennington-Socher-Manning, EMNLP'14, public literature) trains
    // against distance-weighted co-occurrence counts X_ij = Σ 1/d — not
    // q198's flat pair counts — with sample weight f(X) = (X/x_max)^0.75
    // capped at 1, and regression target ln(X). The 1/d weights are kept
    // INTEGER by scaling with LCM(1..SKIP_WINDOW) = 2 (w_d = 2/d ∈ {2,1}),
    // so x_scaled replays exactly; X = x_scaled/2 is one exact-integer IEEE
    // quotient, and the two derived doubles (pow-0.75 and ln — both
    // last-ulp-risky libm calls) follow the q93 DECIMAL(18,8) rounding
    // discipline.
    //
    // 100 TB shape: identical to q198 (one walk-partition window pass, a
    // map-side explode bounded by SKIP_WINDOW, one map-side-combined sum on
    // (center, context)) — the weight rides along as a literal per lead
    // offset, so the distance never needs a self-join to recover. The
    // finalize is per-pair arithmetic on the vocabulary-sized pair table.
    QueryDef(
      "q206_glove_cooc",
      s"""WITH $WALKS_SQL_CTES,
         |ctx AS (
         |  SELECT a.node AS center, b.node AS context,
         |    CAST($GLOVE_LCM / abs(a.step - b.step) AS BIGINT) AS wd
         |  FROM walks a JOIN walks b
         |    ON a.start = b.start AND a.walk = b.walk
         |   AND b.step BETWEEN a.step - $SKIP_WINDOW AND a.step + $SKIP_WINDOW
         |   AND b.step <> a.step),
         |agg AS (
         |  SELECT center, context, CAST(SUM(wd) AS BIGINT) AS x_scaled
         |  FROM ctx GROUP BY center, context),
         |fin AS (
         |  SELECT center, context, x_scaled,
         |    CAST(x_scaled AS DOUBLE) / CAST($GLOVE_LCM.0 AS DOUBLE) AS x
         |  FROM agg)
         |SELECT center, context, x_scaled,
         |  CAST(CAST(CASE WHEN x < CAST(100.0 AS DOUBLE)
         |    THEN power(x / CAST(100.0 AS DOUBLE), CAST(0.75 AS DOUBLE))
         |    ELSE CAST(1.0 AS DOUBLE) END AS DECIMAL(18,8)) AS DOUBLE) AS fx,
         |  CAST(CAST(ln(x) AS DECIMAL(18,8)) AS DOUBLE) AS log_x
         |FROM fin
         |ORDER BY center, context""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("start", "walk").orderBy("step")
      val fwd = stagedWalkCorpus(s, d)
        .select(col("node").as("center"),
          array((1 to SKIP_WINDOW).map(j =>
            struct(lead(col("node"), j).over(w).as("context"),
              lit((GLOVE_LCM / j).toLong).as("wd"))): _*).as("cands"))
        .select(col("center"), explode(col("cands")).as("c"))
        .select(col("center"), col("c.context").as("context"),
          col("c.wd").as("wd"))
        .filter(col("context").isNotNull)
      val agg0 = fwd
        .unionByName(fwd.select(col("context").as("center"),
          col("center").as("context"), col("wd")))
        .groupBy("center", "context")
        .agg(sum(col("wd")).as("x_scaled"))
      val x = col("x_scaled").cast("double") / lit(GLOVE_LCM.toDouble)
      agg0.select(col("center"), col("context"), col("x_scaled"),
          when(x < lit(100.0), pow(x / lit(100.0), lit(0.75)))
            .otherwise(lit(1.0))
            .cast(DecimalType(18, 8)).cast("double").as("fx"),
          log(x).cast(DecimalType(18, 8)).cast("double").as("log_x"))
        .orderBy("center", "context")
    },

    // ---- q208: SGNS negative-sampling table ---------------------------------
    // The third leg of the embedding-prep trio (q198 positives, q206 GloVe
    // stats): skip-gram-with-negative-sampling (Mikolov et al., NeurIPS'13)
    // draws K noise words per positive pair from the unigram^(3/4)
    // distribution. Made exactly replayable twice over:
    //   1. the fractional-power weight floor(c^0.75) is computed as the
    //      INTEGER fourth root of c³ — a floor(power()) candidate corrected
    //      by one exact integer comparison step, so engine-specific pow
    //      rounding can never flip a weight;
    //   2. the draw replays word2vec's OWN published mechanism — the
    //      unigram table where word i occupies w_i consecutive slots,
    //      indexed uniformly — with slot positions assigned by
    //      GlobalIds.prefixSum (two-phase balanced prefix sum, never a
    //      one-reducer window) and the index h = md5(center:context:slot)
    //      mod Σw, so "weighted draw" becomes one EQUI-join on position.
    // Collisions (negative == center/context) are flagged, not resampled —
    // resampling is an unbounded loop; flagging is the bounded, replayable
    // policy and downstream can drop or keep flagged rows.
    //
    // 100 TB shape: the expanded table is Σ floor(c^0.75) rows —
    // sub-corpus-scale by concavity — built from one keyed count + one
    // prefix sum; draws are pairs × K rows joined by KEY (position), no
    // interval/range join, no broadcast of the vocabulary. Everything
    // map-side-combinable before its one shuffle.
    QueryDef(
      "q208_sgns_negatives", {
        val negIds = (1 to K_NEG).map(n => s"($n)").mkString(", ")
        // DuckDB inlines CTEs: `walks` (whose own chain re-expands the
        // jpairs pipeline per step) is referenced by BOTH the unigram
        // count and the context CTE, and wts by three consumers — at
        // sf0.1 the re-expanded plan exhausts spill. MATERIALIZED pins
        // the walk corpus, the weights, and the pair set once each.
        val walksM =
          WALKS_SQL_CTES.replace("walks AS (", "walks AS MATERIALIZED (")
        s"""WITH $walksM,
           |$SKIPGRAM_CTX_CTE,
           |pairs AS MATERIALIZED (SELECT center, context FROM ctx GROUP BY center, context),
           |cnt AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS c FROM walks GROUP BY node),
           |wt0 AS (SELECT node, c*c*c AS c3,
           |    CAST(floor(power(c*c*c, 0.25)) AS BIGINT) AS r0 FROM cnt),
           |wts AS MATERIALIZED (SELECT node,
           |    CASE WHEN (r0+1)*(r0+1)*(r0+1)*(r0+1) <= c3 THEN r0+1
           |         WHEN r0*r0*r0*r0 > c3 THEN r0-1 ELSE r0 END AS w
           |  FROM wt0),
           |lad AS (SELECT node, w,
           |    CAST(COALESCE(SUM(w) OVER (ORDER BY node
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
           |  FROM wts),
           |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM wts),
           |expanded AS (SELECT node AS neg_node,
           |    off + unnest(range(1, w + 1)) AS pos FROM lad),
           |draws AS (
           |  SELECT p.center, p.context, CAST(k.n AS BIGINT) AS n,
           |    ('0x' || substring(md5(CAST(p.center AS VARCHAR) || ':' ||
           |      CAST(p.context AS VARCHAR) || ':' ||
           |      CAST(k.n AS VARCHAR)), 1, 15))::BIGINT % t.tw + 1 AS pos
           |  FROM pairs p CROSS JOIN (VALUES $negIds) k(n) CROSS JOIN tot t)
           |SELECT d.center, d.context, d.n, e.neg_node,
           |  CAST(CASE WHEN e.neg_node = d.center OR e.neg_node = d.context
           |    THEN 1 ELSE 0 END AS BIGINT) AS is_collision
           |FROM draws d JOIN expanded e ON e.pos = d.pos
           |ORDER BY center, context, n""".stripMargin
      }) { (s, d) =>
      // ONE walk build feeds both the unigram counts and the positive
      // pairs — and since r15 the build itself is the fleet-shared
      // staged parquet (BenchOne r14: 9.5 s two-build vs one-build at
      // sf0.1; staging shares that one build across q195/q198/q206 too)
      val wc = stagedWalkCorpus(s, d)
      val cnt = wc.groupBy("node")
        .agg(count(lit(1)).as("c"))
      // integer fourth root of c^3 = floor(c^0.75): floor(pow) is within
      // ±1 of truth, one comparison step pins it exactly — staged through
      // withColumn so the r0 subtree is built once (cf. the q187/q199
      // expression-tree lesson)
      val wts = cnt
        .withColumn("c3", col("c") * col("c") * col("c"))
        .withColumn("r0",
          floor(pow(col("c3").cast("double"), lit(0.25))).cast("long"))
        .withColumn("w",
          when((col("r0") + 1) * (col("r0") + 1) * (col("r0") + 1) *
            (col("r0") + 1) <= col("c3"), col("r0") + 1)
            .when(col("r0") * col("r0") * col("r0") * col("r0") > col("c3"),
              col("r0") - 1)
            .otherwise(col("r0")))
        .select("node", "w")
      val ladder = graft.operators.GlobalIds.prefixSum(
        wts, Seq(col("node")), "w", "off")
      val expanded = ladder.select(col("node").as("neg_node"),
        explode(sequence(col("off") + 1, col("off") + col("w"))).as("pos"))
      val tot = wts.agg(sum(col("w")).as("tw"))
      val draws = skipgramPairsOf(wc).select("center", "context")
        .crossJoin(broadcast(tot))
        .select(col("center"), col("context"),
          explode(array((1 to K_NEG).map(n => lit(n.toLong)): _*)).as("n"),
          col("tw"))
        .withColumn("pos",
          conv(substring(md5(concat_ws(":",
            col("center"), col("context"), col("n"))), 1, 15), 16, 10)
            .cast("long") % col("tw") + 1)
      draws.join(expanded, "pos")
        .select(col("center"), col("context"), col("n"), col("neg_node"),
          when(col("neg_node") === col("center") ||
            col("neg_node") === col("context"), 1L).otherwise(0L)
            .as("is_collision"))
        .orderBy("center", "context", "n")
    },


    // ---- q217: common-neighbor link prediction on the match graph -----------
    // The dedup-ops "suggested merges" view: non-edge pairs that share
    // near-dup neighbors are the near-misses the threshold clipped (a~m,
    // m~b but a≁b) — exactly what a reviewer triages before lowering a
    // cutoff, and the classical link-prediction baseline (common
    // neighbors + neighborhood Jaccard; Liben-Nowell & Kleinberg '03).
    // All-integer: cn is a count, the neighborhood Jaccard is exact basis
    // points 10000·cn div (deg_a + deg_b − cn) — no deg×deg product ever
    // forms (the Linkage uModel overflow lesson; preferential attachment
    // is deliberately NOT emitted for that reason). The θ = 0.5 graph is
    // all tight cliques at test SFs (zero open wedges — q67's clusters
    // are complete), so the fixture PLANTS the near-miss shape the query
    // exists to find: for doc_id < 25, a prefix-2/3 and a suffix-2/3
    // variant — each ~2/3-Jaccard to its base (edge), ~1/3 to each other
    // (non-edge) — an open L–doc–R wedge per planted doc, built
    // identically in both engines from pure token slicing.
    //
    // 100 TB shape: one keyed 2-path self-join on the middle node (the
    // known Σ deg(m)² frontier cost of link prediction — bounded here
    // because the match graph is sparse by construction: its edges come
    // from df-capped gram overlap), one LEFT ANTI join against the edge
    // list to drop existing pairs, two keyed degree joins. Candidates,
    // not pairs-of-everything: only 2-hop pairs are ever materialized.
    QueryDef(
      "q217_link_prediction",
      s"""WITH pre AS (
         |  SELECT doc_id, string_split(text, ' ') AS t,
         |    len(string_split(text, ' ')) AS n,
         |    (2 * len(string_split(text, ' ')) + 2) // 3 AS k
         |  FROM documents
         |  WHERE doc_id < 25 AND len(string_split(text, ' ')) >= 9),
         |pl AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + $LP_OFFSET_L,
         |    array_to_string(list_slice(t, 1, k), ' ') FROM pre
         |  UNION ALL SELECT doc_id + $LP_OFFSET_R,
         |    array_to_string(list_slice(t, n - k + 1, n), ' ') FROM pre),
         |${pairsSql("pl")},
         |und AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
         |        UNION ALL SELECT doc_b, doc_a FROM jpairs),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS dg FROM und GROUP BY u),
         |p2 AS (SELECT n1.u AS a, n2.v AS b, CAST(COUNT(*) AS BIGINT) AS cn
         |       FROM und n1 JOIN und n2 ON n2.u = n1.v AND n1.u < n2.v
         |       GROUP BY n1.u, n2.v),
         |cand AS (SELECT p2.a, p2.b, p2.cn FROM p2
         |         LEFT JOIN jpairs j ON j.doc_a = p2.a AND j.doc_b = p2.b
         |         WHERE j.doc_a IS NULL)
         |SELECT c.a AS doc_a, c.b AS doc_b, c.cn AS common_neighbors,
         |  da.dg AS deg_a, db.dg AS deg_b,
         |  CAST(10000 * c.cn // (da.dg + db.dg - c.cn) AS BIGINT) AS nb_jaccard_bp
         |FROM cand c JOIN deg da ON da.u = c.a JOIN deg db ON db.u = c.b
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // persisted: both 2-path sides, the anti-join probe, and both
      // degree joins re-read the edge list
      val jp = jaccardPairsOf(plantedWedgeDocs(s, d))
        .select(col("doc_a").as("a"), col("doc_b").as("b")).persist()
      val und = jp.select(col("a").as("u"), col("b").as("v"))
        .unionAll(jp.select(col("b").as("u"), col("a").as("v")))
      val deg = und.groupBy("u").agg(count(lit(1)).as("dg"))
      val p2 = und.as("n1")
        .join(und.as("n2"),
          col("n2.u") === col("n1.v") && col("n1.u") < col("n2.v"))
        .groupBy(col("n1.u").as("a"), col("n2.v").as("b"))
        .agg(count(lit(1)).as("cn"))
      p2.join(jp, Seq("a", "b"), "left_anti")
        .join(deg.select(col("u").as("a"), col("dg").as("deg_a")), "a")
        .join(deg.select(col("u").as("b"), col("dg").as("deg_b")), "b")
        .select(col("a").as("doc_a"), col("b").as("doc_b"),
          col("cn").as("common_neighbors"), col("deg_a"), col("deg_b"),
          expr("10000 * cn div (deg_a + deg_b - cn)").as("nb_jaccard_bp"))
        .orderBy("doc_a", "doc_b")
    },


    // ---- q249: TextRank keyword extraction over the corpus word graph ------
    // TextRank (Mihalcea & Tarau, EMNLP 2004 — public literature): rank
    // words by PageRank over their co-occurrence graph and keep the top
    // scorers as corpus keywords — the unsupervised keyword/keyphrase
    // primitive summarization and tagging pipelines run over crawl
    // corpora. Graph: adjacent-token pairs (window 2, the paper's
    // default), symmetric, deduplicated, restricted to content words
    // (length ≥ 4, not in the stopword list — the paper's POS filter
    // approximated lexically). Ranks are the SAME integer fixed-point
    // recurrence as q109 (5 rounds from uniform, Graph.fixedPointPageRank)
    // so the oracle replays every round bit-for-bit; top-20 with the
    // deterministic (score DESC, word) tiebreak.
    //
    // 100 TB shape: the edge build is one map-side explode (bounded by
    // doc token count) + one distinct shuffle on the vocabulary-sized
    // pair set; the 5 rounds are keyed joins of the word-sized rank
    // table against the checkpointed edge list at the measured narrow
    // width (q109's plan); the final top-20 window sorts the word-sized
    // rank table, never the corpus.
    QueryDef(
      "q249_textrank_keywords", {
        val stops = STOP_EN.map("'" + _ + "'").mkString(",")
        val iters = (1 to 5).map { k =>
          val prev = if (k == 1) "r0" else s"i${k - 1}"
          s"""i$k AS (
             |  SELECT ed.v AS id,
             |    CAST(150000 + (85 * SUM(pr.r // ed.od)) // 100 AS BIGINT) AS r
             |  FROM ed JOIN $prev pr ON pr.id = ed.u GROUP BY ed.v)""".stripMargin
        }.mkString(",\n")
        s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
           |raw AS (
           |  SELECT unnest(list_transform(range(1, len(t)), i ->
           |    {a: t[CAST(i AS INT)], b: t[CAST(i+1 AS INT)]})) AS u
           |  FROM toks WHERE len(t) >= 2),
           |adj AS (
           |  SELECT DISTINCT u.a AS a, u.b AS b FROM raw
           |  WHERE u.a <> u.b AND length(u.a) >= 4 AND length(u.b) >= 4
           |    AND u.a NOT IN ($stops) AND u.b NOT IN ($stops)),
           |edges AS (SELECT DISTINCT u, v FROM (
           |  SELECT a AS u, b AS v FROM adj UNION ALL SELECT b, a FROM adj)),
           |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS od
           |        FROM edges GROUP BY u),
           |ed AS (SELECT e.u, e.v, d.od FROM edges e JOIN deg d ON d.u = e.u),
           |r0 AS (SELECT u AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
           |$iters
           |SELECT CAST(ROW_NUMBER() OVER (ORDER BY r DESC, id) AS BIGINT) AS rk,
           |  id AS word, r AS score
           |FROM i5 QUALIFY rk <= 20
           |ORDER BY rk""".stripMargin
      }) { (s, d) =>
      val t = col("__t")
      val adj = Tables.documentsSpread(s, d)
        .select(split(col("text"), " ").as("__t"))
        .filter(size(t) >= 2)
        .select(explode(transform(sequence(lit(1), size(t) - 1),
          i => struct(element_at(t, i).as("a"), element_at(t, i + 1).as("b"))))
          .as("u"))
        .select(col("u.a").as("a"), col("u.b").as("b"))
        .filter(col("a") =!= col("b") &&
          length(col("a")) >= 4 && length(col("b")) >= 4 &&
          !col("a").isin(STOP_EN: _*) && !col("b").isin(STOP_EN: _*))
        .distinct()
      val edges = adj.select(col("a").as("u"), col("b").as("v"))
        .unionByName(adj.select(col("b").as("u"), col("a").as("v")))
        .distinct()
      val pr = graft.operators.Graph.fixedPointPageRank(edges, "u", "v", 5)
      val w = Window.orderBy(col("r").desc, col("id"))
      pr.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 20)
        .select(col("rk"), col("id").as("word"), col("r").as("score"))
        .orderBy("rk")
    },

    // ---- q271: functional-graph SCC census (pointer doubling) --------------
    // The directed-components gap next to q67/q194's undirected CC: a
    // FUNCTIONAL graph (one out-edge per node — dedup first-occurrence
    // chains, `canonical-of` pointers, parent manifests are all this
    // shape) decomposes into rho-trees hanging off cycles, and the cycles
    // are exactly its non-trivial SCCs. [[graft.operators.Successor]]
    // runs K=16 pointer-doubling rounds (2^16 ≥ every fixture N; extra
    // rounds are idempotent, so one K serves all SFs bit-identically):
    // p(v) = the node 2^16 ahead — always ON v's terminal cycle — and
    // mn(v) = min id over the 2^16-window. Cycle set = distinct p-image;
    // cycle id = mn at a cycle node; basin = how many nodes drain into
    // each cycle. The oracle REPLAYS the doubling — 16 unrolled self-join
    // CTEs — so every intermediate pointer matches, not just the census.
    //
    // The successor function is md5-derived mod N over the contiguous
    // doc_id domain (a planted but adversarially-shaped rho forest).
    //
    // 100 TB shape: K·N join rows at measured width vs the O(N·path)
    // sequential chase; no collect, no windows over the corpus.
    QueryDef(
      "q271_functional_scc", {
        // AS MATERIALIZED: DuckDB inlines plain CTEs, so 16 self-joining
        // levels would expand to 2^16 copies of s0
        val rounds = (1 to 16).map(k =>
          s"""s$k AS MATERIALIZED (
             |  SELECT a.v, b.p AS p, LEAST(a.mn, b.mn) AS mn
             |  FROM s${k - 1} a JOIN s${k - 1} b ON b.v = a.p)""".stripMargin)
          .mkString(",\n")
        s"""WITH n AS (SELECT COUNT(*) AS n FROM documents),
           |s0 AS MATERIALIZED (
           |  SELECT doc_id AS v,
           |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
           |      % n.n AS p,
           |    doc_id AS mn
           |  FROM documents CROSS JOIN n),
           |$rounds,
           |anch AS (SELECT v, p AS anchor FROM s16),
           |cyc AS (SELECT DISTINCT anchor AS cv FROM anch),
           |cmin AS (
           |  SELECT s.v AS c, s.mn AS cycle_id
           |  FROM s16 s JOIN cyc ON cyc.cv = s.v),
           |clen AS (SELECT cycle_id, COUNT(*) AS cycle_len FROM cmin GROUP BY 1),
           |basin AS (
           |  SELECT cm.cycle_id, COUNT(*) AS basin_nodes
           |  FROM anch a JOIN cmin cm ON cm.c = a.anchor GROUP BY 1)
           |SELECT cl.cycle_id, CAST(cl.cycle_len AS BIGINT) AS cycle_len,
           |  CAST(b.basin_nodes AS BIGINT) AS basin_nodes
           |FROM clen cl JOIN basin b ON b.cycle_id = cl.cycle_id
           |ORDER BY cl.cycle_id""".stripMargin
      }) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id").as("v"))
      val nRow = docs.agg(count(lit(1)).as("n"))
      val succ = docs.crossJoin(broadcast(nRow))
        .select(col("v"),
          (conv(substring(md5(col("v").cast("string")), 1, 13), 16, 10)
            .cast("long") % col("n")).as("p"))
      val st = graft.operators.Successor.doubled(succ, 16)
      val anch = st.select(col("v"), col("p").as("anchor"))
      // the cycle set is O(N) worst-case (one giant cycle) — no broadcast
      // hint; AQE picks broadcast at runtime when it measures small
      val cyc = anch.select(col("anchor").as("cv")).distinct()
      val cmin = st.join(cyc, st("v") === col("cv"))
        .select(col("cv").as("c"), col("mn").as("cycle_id"))
      val clen = cmin.groupBy("cycle_id").agg(count(lit(1)).as("cycle_len"))
      val basin = anch.join(cmin, anch("anchor") === col("c"))
        .groupBy("cycle_id").agg(count(lit(1)).as("basin_nodes"))
      clen.join(basin, Seq("cycle_id")).orderBy("cycle_id")
    },

  )
}
