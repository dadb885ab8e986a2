package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge

/** Iterative graph analytics beyond [[Components]]: fixed-point PageRank.
  *
  * Ranks are scaled BIGINTs (1.0 → 1e6) and every step uses integral
  * `div` — integer addition is associative and engine-independent, so the
  * result is bit-identical regardless of partitioning, aggregation order,
  * or engine (the property that lets an iterative "float" algorithm be
  * oracle-hash-checked; a double-summed PageRank differs in ulps between
  * any two shuffle layouts).
  *
  * Scale: each iteration is one keyed join of the degree-annotated edge
  * list against the current rank table and one keyed aggregation — the
  * standard Pregel-as-join shape. The iterations run in a [[Rounds]]
  * scope at the width the measured edge count warrants. Inside it the
  * edge list is routed through one hash exchange on the join key that
  * every iteration reads back, each iteration's only exchange is the
  * contribution aggregation's map-side-combined shuffle, and results are
  * rebound to the caller's session before returning.
  */
object Graph {

  /** The lazy iteration plan over a degree-annotated edge list
    * `ed(u, v, od)`: `iters` rounds of damping-0.85 fixed-point PageRank.
    * Width comes from the session `ed` is bound to — the [[Rounds]]
    * scope in production, a narrowed test scope in PlanSpec. Exposed for
    * plan tests: a spec can assert every exchange is at the narrow width,
    * that the edge side of each iteration join introduces no exchange
    * beyond the one reused `repartition`, and that each iteration's only
    * exchange is the contribution aggregation's — whose partial
    * (map-side combine) runs inside the join stage.
    */
  private[graft] def rankRounds(ed: DataFrame, iters: Int): DataFrame = {
    val edP = ed.repartition(col("u"))
    // r0 from edP: the alias-projected partitioning (u→id) already
    // satisfies the distinct, and the next join — no exchange either way
    val r0 = edP.select(col("u").as("id")).distinct()
      .select(col("id"), lit(1000000L).as("r"))
    iterateRanks(edP, r0, iters)
  }

  /** [[rankRounds]] with a WARM initial rank table — the production
    * rank-on-ingest variant of q200's from-uniform contract: nodes
    * present in `prev` start from their previous rank, new nodes at the
    * uniform 1e6. Warm starts converge in 1–2 rounds per ingest batch
    * instead of the full fixed-round ladder (the rank vector is already
    * near the new graph's fixed point when a batch adds few edges), so
    * per-batch cost at real ingest volume is rounds×O(E) with rounds
    * ~constant — but the answer is a DIFFERENT recurrence than
    * exactly-k-rounds-from-uniform, so this path is spec-audited
    * (GraphSpec: same fixed point, determinism), not oracle-hashed;
    * q200 keeps the from-uniform replay as its oracle contract.
    * Same integer fixed-point discipline — bit-identical under any
    * partitioning. */
  private[graft] def warmRankRounds(ed: DataFrame, prev: DataFrame,
                                    iters: Int): DataFrame = {
    val edP = ed.repartition(col("u"))
    val r0 = edP.select(col("u").as("id")).distinct()
      .join(prev.select(col("id").as("pid"), col("r").as("pr")),
        col("id") === col("pid"), "left")
      .select(col("id"), coalesce(col("pr"), lit(1000000L)).as("r"))
    iterateRanks(edP, r0, iters)
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999 — public literature)
    * over a DIRECTED edge list, `iters` mutual-reinforcement rounds in
    * the same integer fixed-point discipline as [[rankRounds]]:
    *   a_t(v) = Σ_{u→v} h_{t-1}(u),   h_t(u) = Σ_{u→v} a_t(v),
    * each vector re-normalized to mean ≈ 1e6 after its aggregation by a
    * DIVISION-ONLY step — s' = s div max(S div (n·10^6), 1), where S and
    * n are the vector's own 1-row sum/count aggregate cross-joined back
    * as a broadcast. Division-only normalization never overflows Long
    * (the multiply-then-divide form would at ~10^5 nodes), quantizes at
    * 1 part in ~10^6 of the mean, and — being integer arithmetic on an
    * exact integer sum — is bit-identical under any partitioning, which
    * is what lets DuckDB replay all rounds for the oracle hash.
    *
    * Returns (hubs(id, s), authorities(id, s)).
    *
    * Scale: per round, two keyed joins of the edge list against the
    * node-sized score tables and two map-side-combined sums — the
    * Pregel-as-join shape ×2 (HITS is PageRank's bipartite cousin: one
    * pass per direction). Each normalization is a 1-row aggregate
    * broadcast back, zero driver-side actions. Score tables are
    * localCheckpointed per round so round t's plan never re-runs rounds
    * 1..t-1 and the final union reads node-sized blocks. */
  private[graft] def hitsRounds(e: DataFrame, iters: Int)
      : (DataFrame, DataFrame) = {
    val eP = e.repartition(col("u")).localCheckpoint()
    val h0 = eP.select(col("u").as("id")).distinct()
      .select(col("id"), lit(1000000L).as("s")).localCheckpoint()
    hitsLoop(eP, h0, iters)
  }

  /** [[hitsRounds]] from a WARM initial hub table — hubs present in
    * `prevHubs` start from their previous score, new hubs at the uniform
    * 1e6 (authorities carry no state: round 1 recomputes a_t from
    * h_{t-1}, so the hub vector IS the whole HITS state — half the state
    * of PageRank-style (rank) + (edge) carrying). Same division-only
    * integer normalization, bit-identical under any partitioning. */
  private[graft] def warmHitsRounds(e: DataFrame, prevHubs: DataFrame,
                                    iters: Int): (DataFrame, DataFrame) = {
    val eP = e.repartition(col("u")).localCheckpoint()
    val h0 = eP.select(col("u").as("id")).distinct()
      .join(prevHubs.select(col("id").as("pid"), col("s").as("ps")),
        col("id") === col("pid"), "left")
      .select(col("id"), coalesce(col("ps"), lit(1000000L)).as("s"))
      .localCheckpoint()
    hitsLoop(eP, h0, iters)
  }

  /** The shared mutual-reinforcement loop over the u-partitioned edge
    * list and an initial hub table `h0(id, s)` — see [[hitsRounds]] for
    * the normalization and checkpoint discipline. */
  private def hitsLoop(eP: DataFrame, h0: DataFrame, iters: Int)
      : (DataFrame, DataFrame) = {
    def normMean(raw: DataFrame): DataFrame = {
      val tot = raw.agg(sum(col("s")).as("tot"), count(lit(1)).as("n"))
      raw.crossJoin(broadcast(tot))
        .select(col("id"),
          expr("s div greatest(tot div (n * 1000000L), 1L)").as("s"))
        .localCheckpoint()
    }
    var h = h0
    var a: DataFrame = h // replaced in round 1 (iters >= 1)
    for (_ <- 1 to iters) {
      a = normMean(eP.join(h, col("u") === col("id"))
        .groupBy("v").agg(sum(col("s")).as("s"))
        .select(col("v").as("id"), col("s")))
      h = normMean(eP.join(a, col("v") === col("id"))
        .groupBy("u").agg(sum(col("s")).as("s"))
        .select(col("u").as("id"), col("s")))
    }
    (h, a)
  }

  /** [[hitsRounds]] over raw (src, dst) pairs, deduplicated, iterations
    * in a [[Rounds]] scope at the measured width. */
  def hits(edges: DataFrame, src: String, dst: String,
           iters: Int): (DataFrame, DataFrame) = {
    val spark = edges.sparkSession
    val e = Rounds.narrowed(
      edges.select(col(src).as("u"), col(dst).as("v")).distinct())._1
    val (h, a) = hitsRounds(e, iters)
    (Rounds.back(h, spark), Rounds.back(a, spark))
  }

  /** [[hits]] warm-started from a previous hub table `prevHubs(id, s)` —
    * the production flag for HITS-on-ingest pipelines (q253's scale
    * path, the sibling of [[warmStartPageRank]]): carry the node-sized
    * hub vector as state alongside the edge store and run a SMALL
    * bounded round count per ingest batch instead of the full
    * from-uniform ladder (per-batch cost rounds×O(E) with rounds
    * ~constant — the hub vector is already near the grown graph's fixed
    * point when a batch adds few edges). Hubs absent from `prevHubs`
    * (first seen this batch) start at the uniform 1e6; authorities are
    * recomputed from hubs in round 1, so hubs are the complete state.
    * Deterministic (integer fixed point) but a different recurrence than
    * from-uniform — spec-audited (GraphSpec), not oracle-hashed; q253
    * keeps the from-uniform replay as its oracle contract. */
  def warmStartHits(edges: DataFrame, src: String, dst: String,
                    prevHubs: DataFrame, iters: Int)
      : (DataFrame, DataFrame) = {
    val spark = edges.sparkSession
    val e = Rounds.narrowed(
      edges.select(col(src).as("u"), col(dst).as("v")).distinct())._1
    val (h, a) = warmHitsRounds(e,
      SessionBridge.rebind(prevHubs.localCheckpoint(), e.sparkSession), iters)
    (Rounds.back(h, spark), Rounds.back(a, spark))
  }

  /** The shared damping-0.85 fixed-point loop over the `u`-partitioned
    * degree-annotated edge list and an initial (id, r) table. */
  private def iterateRanks(edP: DataFrame, r0: DataFrame,
                           iters: Int): DataFrame = {
    var ranks = r0
    for (_ <- 1 to iters) {
      // ONE exchange per iteration: the contribution sum's. Its partial
      // agg runs map-side in the join stage (per-partition repeats of a
      // target node combine before the shuffle — the r12 form
      // repartitioned the raw (v, c) pairs BEFORE the groupBy, shuffling
      // edge-volume rows uncombined, measured 1.5× slower: q109 3.14 s →
      // 4.75 s at sf0.1), and its output partitioning — hash(v) at the
      // clone width, aliased to id — already co-partitions the next
      // iteration's join with edP.
      ranks = edP.join(ranks, col("u") === col("id"))
        .select(col("v"), expr("r div od").as("c"))
        .groupBy("v")
        .agg(expr("CAST(150000 + (85 * sum(c)) div 100 AS BIGINT)").as("r"))
        .select(col("v").as("id"), col("r"))
    }
    ranks
  }

  /** `iters` rounds of damping-0.85 PageRank over `edges` (directed
    * (src, dst) pairs; pass both directions for an undirected graph).
    * Returns (id, rank) for every node with at least one OUT-edge, rank
    * scaled by 1e6: rank'(v) = 0.15 + 0.85 · Σ_{u→v} rank(u)/outdeg(u)
    * in fixed-point (`div`) arithmetic.
    *
    * EAGER: the returned frame is `localCheckpoint`ed — the rank table is
    * node-sized (metadata-scale next to the edge list), and materializing
    * inside the call lets the iterations run in a [[Rounds]] scope sized
    * from the MEASURED edge count (fixed-width iteration stages on a
    * small graph paid task-launch overhead ~4× the useful work —
    * measured 3.0 s → 1.5 s on a 16k-edge graph at local[32]). The
    * degree-annotation pass over the full edge list runs at the caller's
    * session width; only the iterations narrow. The checkpointed result
    * is rebound to the caller's session.
    */
  def fixedPointPageRank(edges: DataFrame, src: String, dst: String,
                         iters: Int): DataFrame = {
    val e = edges.select(col(src).as("u"), col(dst).as("v"))
    val deg = e.groupBy("u").agg(count(lit(1)).as("od"))
    // (u, v, od) enters the scope checkpointed at the caller's width; the
    // single reused narrow exchange inside rankRounds reads it once
    val ed = Rounds.narrowed(e.join(deg, "u"))._1
    Rounds.back(rankRounds(ed, iters).localCheckpoint(), edges.sparkSession)
  }

  /** [[fixedPointPageRank]] warm-started from a previous rank table
    * `prevRanks(id, r)` — the production flag for rank-on-ingest
    * pipelines (q200's scale path, SCALE.md): carry the node-sized rank
    * vector as state alongside the edge store and run a SMALL bounded
    * round count per batch instead of the full from-uniform ladder.
    * Nodes absent from `prevRanks` (first seen this batch) start at the
    * uniform 1e6. Deterministic (integer fixed point) but a different
    * recurrence than from-uniform — spec-audited, not oracle-hashed. */
  def warmStartPageRank(edges: DataFrame, src: String, dst: String,
                        prevRanks: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col(src).as("u"), col(dst).as("v"))
    val deg = e.groupBy("u").agg(count(lit(1)).as("od"))
    val ed = Rounds.narrowed(e.join(deg, "u"))._1
    Rounds.back(
      warmRankRounds(ed,
        SessionBridge.rebind(prevRanks.localCheckpoint(), ed.sparkSession),
        iters).localCheckpoint(),
      edges.sparkSession)
  }

  /** Lazy iteration plan for [[personalizedPageRank]] over the
    * degree-annotated edge list `ed(u, v, od)` and the node universe
    * `nodes(id)` (need not be pre-deduplicated — the distinct rides the
    * narrow exchange). Width comes from the session the inputs are bound
    * to, as in [[rankRounds]]; the per-iteration left join against the
    * node universe consumes the one reused narrow exchange over `nodes`,
    * and the contribution aggregation — each iteration's only exchange —
    * is map-side combined, its hash(v) output co-partitioning the left
    * join.
    */
  private[graft] def personalizedRounds(
      ed: DataFrame, nodes: DataFrame,
      seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      iters: Int): DataFrame = {
    val edP = ed.repartition(col("u"))
    // distinct AFTER the narrow exchange: the hash(id) partitioning
    // satisfies it, so the node universe costs one exchange total, not two
    val nodesP = nodes.repartition(col("id")).distinct()
    val restart = when(seedPred(col("id")), lit(150000L)).otherwise(lit(0L))
    var ranks = nodesP.select(col("id"),
      when(seedPred(col("id")), lit(1000000L)).otherwise(lit(0L)).as("r"))
    for (_ <- 1 to iters) {
      // agg is the iteration's only exchange — map-side combine upstream;
      // see [[rankRounds]]
      val contrib = edP.join(ranks, col("u") === col("id"))
        .select(col("v"), expr("r div od").as("c"))
        .groupBy("v")
        .agg(expr("CAST((85 * sum(c)) div 100 AS BIGINT)").as("rc"))
      ranks = nodesP
        .join(contrib, col("v") === col("id"), "left")
        .select(col("id"), (restart + coalesce(col("rc"), lit(0L))).as("r"))
    }
    ranks
  }

  /** Personalized (seeded) PageRank: the restart mass lands ONLY on the
    * seed set, so rank measures proximity to the seeds along the graph —
    * the quality-propagation primitive (seed = curated/known-good docs,
    * rank = how strongly the match graph vouches for everything else).
    * Same fixed-point integer discipline as [[fixedPointPageRank]]
    * (bit-identical under any partitioning ⇒ oracle-hash-checkable):
    * r'(v) = [v ∈ seeds]·0.15 + 0.85 · Σ_{u→v} r(u)/outdeg(u), r0 =
    * [v ∈ seeds]·1e6. Nodes unreachable from any seed stay at exactly 0.
    * `seedPred` marks the seed rows (a Column over `id`). The node set is
    * the union of BOTH edge endpoints, so sinks (and seeds without
    * out-edges on a directed graph) are ranked rather than dropped.
    */
  def personalizedPageRank(edges: DataFrame, src: String, dst: String,
                           seedPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                           iters: Int): DataFrame = {
    val e = edges.select(col(src).as("u"), col(dst).as("v"))
    val deg = e.groupBy("u").agg(count(lit(1)).as("od"))
    val ed = Rounds.narrowed(e.join(deg, "u"))._1
    // nodes = BOTH endpoint sets, not just out-degree holders: a sink (or
    // an isolated seed on a directed graph) has no out-edges but must
    // still appear — and a seed among them must keep its restart mass.
    // Derived from the CHECKPOINTED ed (u plus its neighbors v), not from
    // the raw edge pipeline: every out-edge holder contributes its u and
    // every in-edge holder appears as some u's v, so the id universe is
    // identical — and the upstream pair pipeline is never re-run for it.
    // Not pre-deduplicated: its only consumers flow through
    // personalizedRounds' single reused narrow exchange (which the
    // distinct rides), and that exchange materializes once.
    val nodes = ed.select(col("u").as("id"))
      .unionByName(ed.select(col("v").as("id")))
    Rounds.back(
      personalizedRounds(ed, nodes, seedPred, iters).localCheckpoint(),
      edges.sparkSession)
  }
}
