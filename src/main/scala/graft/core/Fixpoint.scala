package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** Bounded distributed fixpoint — the TOTAL form of the reference's
  * `fix` (Tubes/Core.hs:264, `fix f = f (fix f)` over coroutines).
  * Unbounded coroutine recursion (`diverge`, Core.hs:269) IS
  * divergence and stays deliberately unmapped; the productive use of
  * `fix` — feed a transformation its own output until it stabilizes —
  * is what iterative distributed algorithms (label propagation,
  * closure computation, PageRank-style loops) actually need, and maps
  * cleanly: iterate `step` from `seed` until a caller-supplied
  * convergence measure stops changing.
  *
  * Mechanics, each learned the hard way elsewhere in this repo:
  *  - every round is a [[Pin]]: a lazily-stacked lineage of
  *    self-referential steps re-derives the whole chain per iteration
  *    and was measured exponential past ~12 levels (graft.text.Bpe);
  *    truncation is load-bearing ([[Pin.advance]] releases each
  *    round once the next is materialized).
  *  - the convergence measure rides the pinning job itself via
  *    `Dataset.observe`: ONE job per round, the measure still checked
  *    EVERY round, no second pass over the frame.
  *  - `maxIter` RAISES instead of returning the unconverged frame: a
  *    silently truncated fixpoint is a wrong answer, not a slow one.
  *  - The measure must be an AGGREGATE expression over the frame's
  *    CONTENT that provably changes while iteration progresses (e.g.
  *    the sum of a monotonically decreasing label column):
  *    measure-equal ⇒ fixed.
  */
object Fixpoint {
  /** `measure` is any deterministic aggregate Column whose value is
    * equality-comparable — `sum(cast(... as decimal(38,0)))` when
    * labels are wide hashes whose long sum overflows (q_er_cluster's
    * 60-bit name ids). Returns the converged round's pin: the caller
    * owns it (close it, or let its frame escape — see [[Pin]]). */
  def iterate(seed: DataFrame, maxIter: Int, measure: Column)(
      step: DataFrame => DataFrame): Pin = {
    var cur = Pin(seed, measure.as("m"))
    var fixed = false
    try {
      for (_ <- 1 to maxIter if !fixed) {
        val next = cur.advance(step(cur.df), measure.as("m"))
        fixed = next.metric("m") == cur.metric("m")
        cur = next
      }
      if (!fixed) throw new IllegalStateException(
        s"Fixpoint.iterate: no convergence within $maxIter iterations " +
          "(raise maxIter, or check the measure is fixpoint-faithful)")
    } catch { case e: Throwable => cur.close(); throw e }
    cur
  }
}
