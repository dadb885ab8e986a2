package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pointer-doubling over a FUNCTIONAL graph (every node has exactly one
  * out-edge) — the classic parallel successor-chain primitive (Wyllie's
  * list-ranking doubling, JACM 1979; the rho-shape census is the same
  * structure Pollard-style cycle analysis reads off). After K doubling
  * rounds each node carries the node 2^K steps ahead (`p`) and the minimum
  * id over its forward window of 2^K nodes (`mn`). With 2^K ≥ N:
  *
  *   - `p(v)` lies ON the terminal cycle of v's rho (any walk of ≥ N steps
  *     ends up there), so the distinct p-image IS the set of cycle nodes;
  *   - for a cycle node c, `mn(c)` = the minimum id of its cycle — a
  *     canonical SCC id. In a functional graph the non-trivial SCCs are
  *     exactly the cycles (every tree node is a singleton SCC), so this
  *     closes the directed-components gap next to [[Components]]'
  *     undirected CC.
  *
  * Scale shape: each round is ONE self-equi-join of the N-row state at the
  * measured [[Rounds]] width, localCheckpointed so round t never replans
  * rounds < t — K·N join rows total, K = ⌈log₂ N⌉ (vs. the O(N) sequential
  * chase). Extra rounds past convergence are idempotent: callers can pin K
  * for a fleet of scale factors and stay bit-identical.
  */
object Successor {

  /** `succ(v, p)`: one row per node, `p` = the node's unique successor.
    * Returns (v, p, mn) after `rounds` doublings: p = 2^rounds steps
    * ahead, mn = min id over the window [v .. f^(2^rounds − 1)(v)]. */
  def doubled(succ: DataFrame, rounds: Int): DataFrame = {
    var cur = Rounds.narrowed(
      succ.select(col("v"), col("p"), col("v").as("mn")))._1
    for (_ <- 1 to rounds) {
      val b = cur.select(
        col("v").as("bv"), col("p").as("bp"), col("mn").as("bmn"))
      cur = cur.join(b, cur("p") === col("bv"))
        .select(cur("v"), col("bp").as("p"),
          least(cur("mn"), col("bmn")).as("mn"))
        .localCheckpoint()
    }
    Rounds.back(cur, succ.sparkSession)
  }
}
