package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an edge list — the clustering step that turns
  * near-duplicate PAIRS (MinHash/SimHash/embedding candidates) into dedup
  * CLUSTERS, so a pipeline can keep one canonical document per group of
  * mutual near-dups instead of reasoning about pairwise edges.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) re-expressed in
  * DataFrame operations. Each round is two rounds of keyed groupBy-min +
  * join — no driver-side graph, no vertex collect — and the edge set
  * monotonically contracts toward a union of stars centered at each
  * component's minimum id. Converges in O(log² n) rounds (2–6 in practice;
  * a path graph of 10⁶ nodes needs ~20, which naive min-label propagation
  * — O(diameter) rounds — could never finish).
  *
  * At 100 TB: per round the shuffles are keyed on node id and the edge set
  * only shrinks, so the dominant cost is the first round over the raw pair
  * list. Each round's output is `localCheckpoint`ed — iterative plans nest
  * ~5× per round, so without truncation the logical plan (and every
  * explain/codegen walk over it) grows exponentially; checkpointing resets
  * it to a scan of the materialized round. On a real cluster prefer
  * `sparkContext.setCheckpointDir` + reliable `checkpoint()` — local
  * checkpoints die with an executor. Every round's blocks are released at
  * query end by the caller's [[graft.Stage.query]].
  */
object Components {

  /** (id, component) for every node that appears in `edges`; `component` is
    * the minimum node id of the connected component. Self-loops and
    * duplicate/reversed edges are tolerated. Nodes with no edges don't
    * appear — left-join the vertex set and coalesce to taste.
    *
    * The rounds run in a [[Rounds]] scope re-sized per round from the
    * measured edge count (each round's count already rides the
    * checkpoint job): the edge set contracts monotonically, and late
    * rounds over a few thousand surviving edges at full width spent the
    * round on task launch (5 rounds at width 32 = 6.3 s vs 3.0 s at
    * width 4 on an 8k-edge graph). Every exchange — the stars'
    * neighborhood shuffles, the map-side-combined dedup aggregations,
    * the per-round checkpoint — plans at the measured width; the
    * caller's session conf is never touched.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 25): DataFrame = {
    // canonical big→small orientation, self-loops dropped, one row per pair
    var (e, n) = Rounds.narrowed(edges
      .select(
        greatest(col(srcCol), col(dstCol)).as("u"),
        least(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    var chk: Option[(java.math.BigDecimal, Long)] = None
    var converged = n == 0L
    var rounds = 0
    val spark = edges.sparkSession
    // `<= maxRounds`: detection consumes a round — the loop only learns it
    // converged one iteration AFTER the edge set stops changing, so a graph
    // needing exactly maxRounds productive rounds gets one extra detection
    // round instead of a spurious failure.
    while (!converged && rounds <= maxRounds) {
      Rounds.resize(e, spark, n)
      // the observe metric rides the SAME job that materializes the eager
      // localCheckpoint (which also truncates lineage) — no separate count()
      // action per round
      val metricName = s"__cc_n_$rounds"
      // Convergence = equal count AND equal order-independent digest, all
      // riding the SAME job that materializes the checkpoint — fixpoint
      // detection costs no extra action. Count alone is not enough (the
      // alternating stars can oscillate through equal-size sets). The
      // digest is a PAIR of independent order-independent reductions over
      // the per-edge 64-bit hash: its exact decimal SUM and its bitwise
      // XOR. A lone sum is not collision-resistant on structured ids —
      // two swapped edges whose hash deltas cancel (h(a)+h(b) =
      // h(c)+h(d)) already defeat it — but a cancellation in the additive
      // group and in GF(2)^64 simultaneously, under the same hash, within
      // the one-star-round reachable set, has no structural shortcut:
      // XOR discards the carries that make additive cancellation
      // constructible, so a collision needs h-values agreeing in both
      // groups at once (~2⁻¹²⁸ accidental). The previous implementation
      // confirmed with an authoritative exceptAll job; that paid a full
      // extra set-difference action at every fixpoint to close a window
      // this digest pair closes for free.
      val obs = starRound(e).observe(metricName, count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        expr("bit_xor(xxhash64(u, v))"))
      val next = obs.localCheckpoint()
      val metric = obs.queryExecution.observedMetrics.get(metricName)
      val nNext = metric.map(_.getLong(0))
        .getOrElse(next.count()) // defensive: metrics missing ⇒ count directly
      val chkNext = metric.map(r => (
        Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
      converged = nNext == n && ((chk, chkNext) match {
        case (Some((sa, xa)), Some((sb, xb))) =>
          sa.compareTo(sb) == 0 && xa == xb
        // defensive: observed metrics unavailable — fall back to the exact
        // set-difference so the loop can still terminate
        case _ => next.exceptAll(e).isEmpty
      })
      // the superseded round's checkpoint blocks are released at the
      // latest by the caller's Stage.query at query end
      e = next
      n = nNext
      chk = chkNext
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds productive rounds " +
          "+ 1 detection round (raise maxRounds; expected O(log² n))")
    // fixpoint is a union of stars: every non-min node has exactly one edge
    // to its component min; the mins label themselves.
    Rounds.back(
      e.select(col("u").as("id"), col("v").as("component"))
        .unionByName(
          e.select(col("v").as("id")).distinct()
            .select(col("id"), col("id").as("component"))),
      spark)
  }

  /** One large-star + small-star round — the lazy plan
    * [[connectedComponents]] checkpoints per round. Width comes from the
    * session `e` is bound to (the [[Rounds]] scope in production; a
    * narrowed test scope in PlanSpec). Exposed for plan tests: every
    * exchange in a round — each star's min-table aggregation and its
    * closing `distinct` — is map-side combined and at the clone width,
    * and the edge list itself is never raw-shuffled while the min table
    * broadcasts (see [[largeStar]]).
    */
  private[graft] def starRound(e: DataFrame): DataFrame =
    smallStar(largeStar(e))

  /** Large-star: every node connects its strictly-larger neighbors to the
    * minimum of its neighborhood (including itself). Output keeps the
    * big→small orientation: emitted (v, m) has v > u ≥ m.
    *
    * The closing `distinct()` plans its OWN exchange (partial hash-agg →
    * exchange → final) rather than riding an explicit `repartition(w, u,
    * v)`: the partial agg runs map-side IN the join stage, so the clique
    * fan-in this star produces (every member of a dense component emits
    * the same (v, m) pair) collapses before it is shuffled. The r12 form
    * pre-repartitioned and shipped those duplicates raw — measured
    * 1.5–2.5× slower across the CC family at sf0.1 (q74 2.37 s → 5.85 s).
    * Inside the [[Rounds]] scope that exchange (like every other) plans
    * at the measured round width.
    *
    * No explicit repartition anywhere: the neighborhood join is left to
    * Catalyst, which broadcasts the node-sized min table while it fits
    * (zero edge shuffle for the join — the r12 form force-shuffled the
    * probe side even under a broadcast) and falls back to a sort-merge
    * join over clone-width keyed exchanges when it doesn't. The round's
    * input is the previous round's checkpoint, already materialized at
    * the clone width, so the scan-side stages are narrow too.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = e.select(col("u"), col("v"))
      .unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = und.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    und.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: every node connects its smaller-or-equal neighbors (and
    * itself) to its minimum neighbor. Input and output are big→small
    * oriented (u > v). Same map-side-combined `distinct()` as
    * [[largeStar]].
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min("v").as("m"))
    e.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }
}
