package graft.llm

import org.apache.spark.sql.{DataFrame, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow

/** The one round loop behind every iterative operator ([[Graph]]'s
  * PageRank/TrustRank, HITS and BFS, [[Dedup.connectedComponents]],
  * [[Similarity.nnDescentGraph]], the RP-tree trainer's level descent
  * and [[Bpe.train]]'s merge rounds).
  *
  * A round is ONE job: `step(state, scalar, round)` returns the round's
  * plan and a row fold; [[GraftSql.sizedView]] materializes the plan
  * (measured stats on the new leaf, flat Catalyst plan, lineage kept)
  * and sums the fold over its rows in that same job. The sum is the
  * next round's scalar — a normalization total, a frontier size, a
  * changed-label count — so no operator needs a convergence job of its
  * own. Once the new state is materialized, every persisted leaf of the
  * superseded state is released, the initial state's included: relations
  * that outlive the loop (edges, vectors) stay out of `init` and are the
  * caller's to release.
  *
  * Runs until `stop(scalar)` (checked before every round, the first
  * included) or `cap` rounds; returns `(state, scalar, roundsRun)`. A
  * round that throws releases the state held and rethrows. `observe`
  * sees each round's plan after it ran. */
private[graft] object Rounds {
  def run(init: DataFrame, scalar: Long, cap: Int,
      stop: Long => Boolean = _ => false,
      observe: DataFrame => Unit = _ => ())(
      step: (DataFrame, Long, Int) => (DataFrame, InternalRow => Long))
      : (DataFrame, Long, Int) = {
    var (state, s, r) = (init, scalar, 0)
    try {
      while (r < cap && !stop(s)) {
        r += 1
        val (plan, fold) = step(state, s, r)
        val (next, folded) = GraftSql.sizedView(plan, fold)
        GraftSql.unpersistCheckpointTree(state)
        state = next
        s = folded
        observe(plan)
      }
    } catch {
      case t: Throwable => GraftSql.unpersistCheckpointTree(state); throw t
    }
    (state, s, r)
  }
}
