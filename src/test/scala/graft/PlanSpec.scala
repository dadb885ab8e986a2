package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties the 100 TB story depends on, pinned
  * as tests so a regression (lost pushdown, un-broadcast dimension, surprise
  * cartesian) fails `sbt test` instead of surfacing at cluster scale.
  *
  * Plans are inspected pre-execution (AQE not yet applied), so the
  * assertions hold for the *static* plan the optimizer commits to.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case p => p
  }

  private def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    p.collect(pf) ++ p.subqueries.flatMap(collectAll(_)(pf)) ++
      // descend into persisted sub-lineages — a query that caches its
      // shared subtree (q107/q155/...) must not hide nodes from the audit
      p.collect { case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        collectAll(s.relation.cachedPlan)(pf)
      }.flatten

  private def q(name: String): DataFrame = SparkEntry.byName(name).run(spark, sf)

  test("q03 filter + projection are pushed into the parquet scan") {
    val s = plan(q("q03_filter_project")).toString
    assert(s.contains("PushedFilters: ["), s)
    assert(s.contains("IsNotNull") || s.contains("GreaterThan"), s)
    // pruned read schema — not the full lineitem width
    assert(!s.contains("l_comment"), "scan reads columns the query never uses")
  }

  test("q07 joins every dimension via broadcast, no shuffle on the dims") {
    val p = plan(q("q07_revenue_by_nation"))
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 4, s"expected >=4 broadcast joins, got ${bhj.size}")
    val cartesian = collectAll(p) { case c: CartesianProductExec => c }
    assert(cartesian.isEmpty)
  }

  test("q01 aggregates with a single shuffle (partial+final hash agg)") {
    val p = plan(q("q01_pricing_summary"))
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    // one exchange for the groupBy, one for the global sort of the output
    assert(shuffles.size <= 2, s"${shuffles.size} shuffles:\n$p")
  }

  test("q35 broadcasts the query side; the corpus is never shuffled for the join") {
    val p = plan(q("q35_cosine_topk"))
    // the deliberate broadcast nested-loop (crossJoin with broadcast hint)
    val bnl = collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.nonEmpty, "expected the broadcast cross join of the query set")
    val cartesian = collectAll(p) { case c: CartesianProductExec => c }
    assert(cartesian.isEmpty, "unbroadcast cartesian product in the exact top-k")
  }

  test("q204 HLL register reduction is map-side combined before its shuffle") {
    // the 100 TB property the query's scaladoc claims: the (source, j) max
    // runs in PARTIAL mode in the scan stage, so at most 256 register rows
    // per source per partition ever cross the aggregation exchange —
    // corpus-size rows never do. Partial mode ⇔ no required child
    // distribution on the aggregate node.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.Max
    val p = plan(q("q204_hll_replay"))
    val partialMax = collectAll(p) {
      case a: BaseAggregateExec
        if a.requiredChildDistributionExpressions.isEmpty &&
          a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[Max]) => a
    }
    assert(partialMax.nonEmpty,
      s"register max is not map-side combined:\n$p")
    // and the finalize join never degrades to a cartesian
    assert(collectAll(p) { case c: CartesianProductExec => c }.isEmpty)
  }

  test("no query plan in the whole registry contains an unbroadcast cartesian product") {
    // rows-only + oracle queries alike; streaming queries excluded (their
    // plan materializes through the streaming engine)
    val streaming = Set("q33_stream_count", "q34_stream_hourly",
      "q37_stream_hourly_append", "q42_stream_sessions", "q44_stream_dedup",
      "q59_stream_stream_join", "q60_stream_static_join")
    val lifecycle = Set("q36_etl_lifecycle") // runs its own actions on build
    SparkEntry.queries.keys.filterNot(streaming).filterNot(lifecycle).foreach { name =>
      val p = plan(q(name))
      val cartesian = collectAll(p) { case c: CartesianProductExec => c }
      assert(cartesian.isEmpty, s"$name has a cartesian product")
      spark.catalog.clearCache()
    }
  }

  test("bucketed tables join and aggregate without an exchange under the join") {
    import org.apache.spark.sql.functions.col
    graft.sinks.Sinks.writeBucketed(Tables.orders(spark, sf), "orders_b", "o_orderkey", 8)
    graft.sinks.Sinks.writeBucketed(
      Tables.lineitem(spark, sf).withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ — broadcast would trivially avoid shuffles
    try {
      val j = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
        .groupBy("o_orderpriority").count()
      val shuffles = collectAll(plan(j)) { case s: ShuffleExchangeExec => s }
      // bucket layout feeds the join directly; only the groupBy exchanges
      assert(shuffles.size <= 1, s"bucketed join still shuffles:\n${plan(j)}")
      assert(j.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("iterative rounds: every exchange at the narrow-clone width, edge " +
       "list shuffles once, aggregation exchanges map-side combined") {
    // CC / PageRank / PPR / LPA used to narrow spark.sql.shuffle.partitions
    // around their rounds on the SHARED session (racy under concurrent
    // queries). They now run inside a Rounds scope — a private session
    // clone whose conf carries the measured width — so the narrow
    // width is still assertable from the plan (every exchange's
    // numPartitions) while the caller's session is untouched by
    // construction. Assertions per plan:
    //   * ALL exchanges are at the clone width w — aggregation shuffles
    //     and checkpoint layout included, which the r12 in-plan
    //     repartition(w, …) form could not achieve (its agg/dedup stages
    //     ran at session width);
    //   * the distinct canonical exchange classes count the reused edge
    //     shuffle + the per-iteration aggregation exchanges — no
    //     EnsureRequirements exchange sneaks a full edge re-shuffle in;
    //   * the expected number of exchange classes carry a map-side
    //     PARTIAL aggregate in-stage upstream (requiredChildDistribution
    //     empty ⇔ partial mode, which also catches grouping-only distinct
    //     partials) — the combine property the r12 shape lost: raw
    //     edge-volume rows must never cross an aggregation exchange.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def combinedUpstream(p: SparkPlan): Boolean = p match {
      case _: ShuffleExchangeExec => false // next stage — stop
      case a: BaseAggregateExec => a.requiredChildDistributionExpressions.isEmpty
      case other => other.children.exists(combinedUpstream)
    }
    def audit(tag: String, p: SparkPlan, w: Int,
              expectClasses: Int, expectCombined: Int): Unit = {
      val sh = collectAll(p) { case s: ShuffleExchangeExec => s }
      assert(sh.nonEmpty, s"$tag: no exchanges found:\n$p")
      assert(sh.forall(_.outputPartitioning.numPartitions == w),
        s"$tag: exchange at non-clone width:\n$p")
      val classes = sh.groupBy(_.canonicalized).values.map(_.head).toSeq
      assert(classes.size == expectClasses,
        s"$tag: expected $expectClasses exchange classes, got ${classes.size}:\n$p")
      val combined = classes.count(s => combinedUpstream(s.child))
      assert(combined == expectCombined,
        s"$tag: expected $expectCombined map-side-combined exchange classes, " +
          s"got $combined:\n$p")
    }
    val w = 3
    val s2 = graft.operators.Rounds.scope(spark, w)
    def narrow(df: DataFrame): DataFrame =
      org.apache.spark.sql.graftbridge.SessionBridge.rebind(df, s2)
    val edges = spark.range(200)
      .select((col("id") % 50).as("u"), (col("id") % 37 + 1).as("v"))
      .localCheckpoint()
    val deg = edges.groupBy("u").agg(count(lit(1)).as("od"))
    val ed = narrow(edges.join(deg, "u").localCheckpoint())
    val iters = 4
    // PageRank: classes = the full edge shuffle (reused by every iteration
    // join) + a column-pruned u-only copy feeding r0's distinct + one
    // combined contribution-sum exchange per iteration (no other exchange:
    // the agg's hash(v)→id output co-partitions the next join).
    val pr = graft.operators.Graph.rankRounds(ed, iters)
    audit("PageRank", plan(pr), w,
      expectClasses = iters + 2, expectCombined = iters)
    val e0 = narrow(edges.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .localCheckpoint())
    // CC round: at this size Catalyst broadcasts each star's node-sized
    // min table, so the edge list is NEVER shuffled for the joins — the
    // only exchanges are each star's min aggregation and its dedup
    // distinct, all four map-side combined.
    val cc = graft.operators.Components.starRound(e0)
    audit("CC", plan(cc), w, expectClasses = 4, expectCombined = 4)
    assert(collectAll(plan(cc)) { case j: BroadcastHashJoinExec => j }
        .map(_.canonicalized).distinct.size == 2,
      s"CC round: expected both star joins to broadcast the min table:\n${plan(cc)}")
    val nodes = narrow(edges.select(col("u").as("id"))
      .unionByName(edges.select(col("v").as("id"))))
    // PPR: edge shuffle + node-universe shuffle (reused by r0 and every
    // left join) + the per-iteration combined contribution exchanges.
    val ppr = graft.operators.Graph.personalizedRounds(
      ed, nodes, idc => idc < 5, iters)
    audit("PPR", plan(ppr), w,
      expectClasses = iters + 2, expectCombined = iters)
  }

  test("temporal joins plan as equi-joins/windows, never nested-loop") {
    // the naive as-of/range formulations are inequality joins, which Spark
    // plans as BroadcastNestedLoopJoin — quadratic work at scale. Ours
    // must never regress to that.
    for (name <- Seq("q45_asof_join", "q46_range_join")) {
      val p = plan(q(name))
      val bnl = collectAll(p) { case j: BroadcastNestedLoopJoinExec => j }
      assert(bnl.isEmpty, s"$name planned a nested-loop join:\n$p")
    }
  }

  test("IVF probe over a cell-partitioned corpus prunes to the probed cells") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val centroids = graft.operators.Ivf.kmeansCentroids(emb, "vec_id", "embedding",
      nlist = 8, iters = 1)
    val dir = Stage.scratch("graft-ivf-").toString + "/corpus"
    graft.operators.Ivf.writeCellPartitioned(emb, "vec_id", "embedding", centroids, dir)
    val probe = graft.operators.Ivf.ivfTopKPartitioned(
      spark, dir, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      k = 3, centroids, nprobe = 2)
    val s = plan(probe).toString
    // the corpus scan must carry a dynamic pruning expression on cid —
    // at 100 TB this is what turns a full corpus scan into nprobe cells
    assert(s.contains("PartitionFilters") && s.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the IVF probe scan:\n$s")
    assert(probe.count() > 0)
  }

  test("q185's IVF dense leg scans only probed cells (DPP on the layout)") {
    // the ANN-leg fusion is only a scale win if the cell-partitioned
    // corpus scan prunes to the probed cells — same property q58's layout
    // test pins, asserted here on the REGISTERED query's own plan so a
    // regression in the fusion wiring (e.g. the probe join losing its
    // partition-column equi-key) fails the suite
    val s = plan(q("q185_hybrid_ivf_recall")).toString
    assert(s.contains("PartitionFilters") && s.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on q185's IVF scan:\n${s.take(4000)}")
  }

  test("q92's bloom probe filters the train side BEFORE the confirm-join exchange") {
    // the point of the bloom prefilter is that might_contain runs map-side,
    // under the shuffle that feeds the exact-confirm join — if it floated
    // above the exchange (or vanished), the full train gram table would
    // ship through the network and the operator would be a no-op at scale
    val p = plan(q("q92_bloom_decontamination"))
    val shufflesWithBloomBelow = collectAll(p) {
      case s: ShuffleExchangeExec
        if s.child.toString.contains("might_contain") => s
    }
    assert(shufflesWithBloomBelow.nonEmpty,
      s"no shuffle has the bloom probe below it:\n$p")
  }

  test("q94 PQ re-rank broadcasts the query side; the ADC scan never sorts the corpus globally") {
    val p = plan(q("q94_pq_topk"))
    // both query-side joins (LUT scan + re-rank) must be broadcast
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    val cart = collectAll(p) { case c: CartesianProductExec => c }
    assert(cart.isEmpty, s"PQ planned an unbroadcast cartesian:\n$p")
    assert(bhj.nonEmpty, s"PQ re-rank lost its broadcast joins:\n$p")
  }

  test("partitioned parquet write + filtered read prunes partitions at the scan") {
    val dir = Stage.scratch("graft-part-").toString + "/docs"
    Tables.documents(spark, sf).write.partitionBy("lang").mode("overwrite").parquet(dir)
    val s = plan(spark.read.parquet(dir).filter(org.apache.spark.sql.functions.col("lang") === "en"))
      .toString
    assert(s.contains("PartitionFilters: [") && s.contains("lang"), s)
    // data filters on the partition column never reach the row scan
    assert(!s.contains("PushedFilters: [IsNotNull(lang)"), s)
  }

  test("q111 salted join runs the shuffled plan — a broadcast would bypass the salt") {
    val p = plan(q("q111_salted_join"))
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.isEmpty, s"salted join was broadcast — the salt is dead weight:\n$p")
    val shj = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(shj.nonEmpty, s"expected a shuffled join:\n$p")
  }

  test("q108/q115 run their dictionary joins as broadcasts — the corpus never shuffles for them") {
    for (name <- Seq("q108_inverted_index", "q115_vocab_encode")) {
      val p = plan(q(name))
      val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty, s"$name lost its broadcast dictionary join:\n$p")
    }
  }

  test("every forced broadcast hint wraps a bounded-cardinality frame") {
    // A compile-time broadcast() hint is a promise the frame stays small at
    // ANY data scale — r10's q123 broke it by force-broadcasting a
    // |users|-sized aggregate (driver OOM at deploy scale; AQE would have
    // chosen correctly on its own). This audit walks every registered
    // query's ANALYZED plan (hints still present there; the optimizer later
    // folds them into join nodes) and demands each hinted subtree carry
    // structural evidence of boundedness:
    //   - a scalar aggregate (grouping-free) → ≤1 row
    //   - a LIMIT → ≤n rows
    //   - a Filter equating/upper-bounding an attribute by a literal
    //     (the fixed query/probe subsets: vec_id < 20, token = 'x', …)
    //   - an aggregate whose grouping keys are all bounded-vocabulary
    //     columns (languages, sources, event types, sketch cells, fixed
    //     probe terms — NOT ids)
    //   - only driver-held leaves (LocalRelation/Range) or the fixed-size
    //     dimension tables (nation: 25 rows, region: 5)
    // Anything else fails here before it can fail on a cluster.
    import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val streaming = Set("q33_stream_count", "q34_stream_hourly",
      "q37_stream_hourly_append", "q42_stream_sessions", "q44_stream_dedup",
      "q59_stream_stream_join", "q60_stream_static_join")
    val lifecycle = Set("q36_etl_lifecycle")
    // value domains that are bounded vocabularies regardless of data volume
    // (src_a/src_b are the source-pair aliases of q224/q227/q239's ledgers;
    // qid is the PROBE-side id, everywhere derived from a literal-bounded
    // query subset — vec_id < 10/20 — never a corpus id)
    // l_returnflag: TPC-H's 3-value flag enum — a group-by on it is
    // catalog-bounded (q64 broadcasts its per-flag percentile table)
    // "bkt" = decile/bucket index (q169/q270): a sum of ≤9 literal-cut
    // indicator CASEs, domain 0..9 by construction
    val boundedKeys = Set("lang", "source", "event_type", "split", "r", "c",
      "tok", "token", "band", "cid", "src_a", "src_b", "qid", "l_returnflag",
      "bkt")
    // "foldable" rather than bare Literal: the analyzer wraps literals in
    // casts (vec_id < CAST(10 AS BIGINT)). Only EQUALITIES and UPPER
    // bounds certify a subset — a lower bound (attr > lit / lit < attr)
    // keeps the frame corpus-scale and must NOT pass (ADVICE r11).
    def litBound(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e.exists {
        case EqualTo(_: Attribute, r) if r.foldable => true
        case EqualTo(l, _: Attribute) if l.foldable => true
        case LessThan(_: Attribute, r) if r.foldable => true
        case LessThanOrEqual(_: Attribute, r) if r.foldable => true
        case GreaterThan(l, _: Attribute) if l.foldable => true
        case GreaterThanOrEqual(l, _: Attribute) if l.foldable => true
        case In(_: Attribute, vs) if vs.forall(_.foldable) => true
        case _ => false
      }
    // Recursive ON the output-cardinality path (ADVICE r11): the old form
    // certified a hinted subtree if evidence existed ANYWHERE inside it,
    // so a corpus-scale frame joined against a literal-filtered probe
    // passed — exactly the unbounded-broadcast pattern the audit exists
    // to block. Now every branch that can inject rows into the hinted
    // frame's output must itself be bounded: a join is bounded only if
    // BOTH inputs are (semi/anti: the left), a union only if all arms
    // are, and evidence below a node certifies nothing unless each
    // sibling branch on the path is certified too.
    def bounded(p: LogicalPlan): Boolean = p match {
      case f: Filter => litBound(f.condition) || bounded(f.child)
      case _: GlobalLimit | _: LocalLimit => true
      case a: Aggregate =>
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.forall(_.references.forall(at => boundedKeys(at.name))) ||
          bounded(a.child)
      case j: Join =>
        j.joinType match {
          case org.apache.spark.sql.catalyst.plans.LeftSemi |
               org.apache.spark.sql.catalyst.plans.LeftAnti => bounded(j.left)
          case _ => bounded(j.left) && bounded(j.right)
        }
      case u: Union => u.children.forall(bounded)
      case _: LocalRelation | _: Range => true
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.forall(rp =>
              rp.toString.contains("nation") || rp.toString.contains("region"))
          case _ => false
        }
      case _: org.apache.spark.sql.catalyst.plans.logical.LeafNode => false
      // any other unary/pass-through node (Project, Sort, Window, Generate,
      // Repartition, SubqueryAlias, …): cardinality comes from below —
      // Generate can fan out per-row, but only content-proportionally to an
      // already-bounded input
      case other if other.children.size == 1 => bounded(other.children.head)
      case other => other.children.nonEmpty && other.children.forall(bounded)
    }
    SparkEntry.queries.keys.filterNot(streaming).filterNot(lifecycle).foreach { name =>
      val analyzed = q(name).queryExecution.analyzed
      val hinted = analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.exists(_.toString.toUpperCase.contains("BROADCAST")) => h.child
      }
      hinted.foreach { sub =>
        assert(bounded(sub),
          s"$name force-broadcasts a frame with no boundedness evidence:\n$sub")
      }
      spark.catalog.clearCache()
    }
  }

  test("q113's z-value projection stays inside whole-stage codegen") {
    val df = q("q113_zorder_values")
    assert(plan(df).toString.contains("zvalue"))
    // the native expression's generated code lands inside a
    // WholeStageCodegen stage (not an interpreted-fallback Project):
    // debugCodegen materializes the generated sources, which must carry
    // the spreadJava call the expression emits
    df.collect() // collect() drives df's OWN QueryExecution (count() would
    // plan a different query), so AQE finalizes + codegen-wraps this plan
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val gen = org.apache.spark.sql.execution.debug.codegenString(finalPlan)
    assert(gen.contains("WholeStageCodegen"), gen.take(500))
    assert(gen.contains("spreadJava"), gen.take(2000))
  }

  test("q136's mergeable top-k plans as aggregation, never a window sort") {
    // the whole point of TopKRows is avoiding the per-group window sort
    // its oracle states; a regression to WindowExec would silently
    // reintroduce the full-group shuffle-and-sort
    val p = plan(q("q136_topk_mergeable"))
    val windows = collectAll(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"q136 planned a window sort:\n$p")
    assert(p.toString.toLowerCase.contains("aggregate"), p.toString.take(500))
  }

  test("q191's SQ8 top-k plans as aggregation — no window sort on the pair stream") {
    // q191 scored the query×corpus pair stream through a rank window in
    // r12 (each query's partition sorted ~2N pairs for a top-5); the
    // TopKRows aggregator shape must hold so the SQ8 path scales past a
    // 10-query batch
    val p = plan(q("q191_sq8_topk"))
    val windows = collectAll(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"q191 planned a window sort:\n$p")
  }

  test("q213's per-query top-K plans as aggregation — no window sort on the pair stream") {
    // the mined negatives must come from the mergeable TopKRows shape
    // (<= K rows per (query, map partition) cross the shuffle); a rank
    // window would sort every query's ~2N pair partition at 100 TB
    val p = plan(q("q213_hard_negatives"))
    val windows = collectAll(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"q213 planned a window sort:\n$p")
  }

  test("q237's k-NN sums and argmaxes plan as aggregation — no window on the pair stream") {
    // the bitext miner's k-NN means, best-target and best-source folds
    // must all come from the mergeable TopKRows shape; a rank window
    // would sort every query's pair partition at mining-block scale
    val p = plan(q("q237_bitext_margin"))
    val windows = collectAll(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"q237 planned a window sort:\n$p")
  }

  test("q235's streaming quota final fold plans as aggregation, never a window") {
    // the merged candidate store must re-fold through TopKRows — the
    // oracle's ROW_NUMBER formulation appearing in the ENGINE plan would
    // reintroduce the per-domain sort the quota exists to avoid
    val p = plan(q("q235_stream_domain_quota"))
    val windows = collectAll(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"q235 planned a window sort:\n$p")
  }

  test("q212's difficulty rank plans without a one-reducer window") {
    // the curriculum rank must come from GlobalIds' balanced range
    // exchange + per-__pid windows — a WindowExec with an EMPTY partition
    // spec would sort the whole corpus on one reducer at 100 TB
    val p = plan(q("q212_curriculum_schedule"))
    val unpartitioned = collectAll(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty, s"q212 planned a global window sort:\n$p")
  }

  test("q182's ranking cuts plan as TakeOrdered — the corpus never globally sorts for the fusion") {
    // each ranking's top-100 must be per-partition top-N + an N-row merge;
    // a regression to Sort+Limit (or a corpus-wide window) would shuffle
    // and sort the whole corpus twice per fused query at 100 TB
    val p = plan(q("q182_hybrid_rrf"))
    val topk = collectAll(p) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(topk.size >= 2, s"expected a TakeOrdered cut per ranking:\n$p")
    // window sorts run over limit-bounded (≤100-row) frames only: every
    // WindowExec must sit above a limit, never directly over the corpus
    val windows = collectAll(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    windows.foreach { w =>
      val bounded = w.collectFirst {
        case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => ()
        case g: org.apache.spark.sql.execution.GlobalLimitExec => ()
        case l: org.apache.spark.sql.execution.LocalLimitExec => ()
      }.nonEmpty
      assert(bounded, s"rank window runs over an unbounded frame:\n$w")
    }
  }

  test("q155's priority-sample top-(k+1) plans as TakeOrdered, never a global sort") {
    // priority sampling's scale story is per-partition top-k + a k-row
    // merge; a regression to a global Sort + Limit would shuffle the
    // whole corpus at 100 TB
    val p = plan(q("q155_priority_sample"))
    assert(collectAll(p) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"q155 lost its TakeOrderedAndProject:\n$p")
    val globalSorts = collectAll(p) {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    // the only global sort allowed is the final ~20-row per-source output
    // ordering, which sits above the aggregates, not on the corpus
    assert(globalSorts.size <= 1, s"q155 global-sorts the corpus:\n$p")
  }

  test("q248/q257 transform-on-scan queries shuffle only for their output sort") {
    // FIM assembly and the WARC record walk are pure map-side string
    // work riding the scan — the 100 TB story is that they fuse into
    // ingest for free. Any exchange beyond the single output-ordering
    // range shuffle means a regression introduced a shuffle into a
    // shuffle-free transformation.
    Seq("q248_fim_spans", "q257_warc_records").foreach { name =>
      val p = plan(q(name))
      val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
      assert(shuffles.size <= 1, s"$name grew extra shuffles:\n$p")
    }
  }

  test("q255's rule match broadcasts the rule table — the URL corpus never shuffles for it") {
    // REP evaluation joins corpus-sized URLs against a domain-catalog-
    // sized rule table on (domain equality AND prefix match): Catalyst
    // plans it as a broadcast HASH join on the domain key with
    // StartsWith as the residual condition (better than the nested-loop
    // fallback) — either broadcast shape is fine, a shuffle of the URL
    // side for the match is not
    val p = plan(q("q255_robots_rep_gate"))
    val bcast = collectAll(p) {
      case j: BroadcastHashJoinExec
        if j.condition.exists(_.toString.contains("StartsWith")) => j
      case j: BroadcastNestedLoopJoinExec => j
    }
    assert(bcast.nonEmpty, s"q255 lost its broadcast rule join:\n$p")
  }

  test("Spark's runtime bloom filter injects on a selective shuffle join") {
    // The 100 TB fact-fact shape: a selectively-filtered side joined to a
    // large side on a shuffle join. Spark 4's InjectRuntimeFilter builds a
    // bloom filter from the filtered (creation) side and pushes
    // might_contain onto the large (application) side's scan, pruning
    // shuffle input at runtime — the engine must COMPOSE with it, not
    // fight it. The production size thresholds (10 GB application-side
    // scan) obviously never trip at fixture scale, so this runs in an
    // isolated newSession (shared context, private SQLConf — nothing the
    // parallel suites see) with the thresholds scaled down and broadcast
    // disabled to force the shuffle-join shape the filter exists to prune.
    val s2 = GraftSession.tune(spark.newSession())
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val orders = Tables.orders(s2, sf)
      .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
    val j = Tables.lineitem(s2, sf)
      .join(orders, org.apache.spark.sql.functions.col("l_orderkey") ===
        org.apache.spark.sql.functions.col("o_orderkey"))
      .groupBy("l_orderkey").count()
    val opt = j.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain"),
      s"runtime bloom filter was not injected:\n$opt")
  }
}
