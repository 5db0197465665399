package graft.core

import org.apache.spark.sql.DataFrame

import scala.annotation.tailrec

/** The outcome of [[Fixpoint.iterate]]: the last state, the number of
  * rounds run, the last convergence value and whether the convergence
  * test passed before the round cap. */
final case class Fixpoint[V](state: DataFrame, rounds: Int, last: V,
    converged: Boolean)

/** The one convergence loop of the distributed graph families
  * (connected components, PageRank to ε). The reference's job
  * (MRFCore.cpp:252-446) is loop-free; iterating it is the caller's
  * business, so this is the superstep shape GraphX (OSDI 2014) gives
  * Pregel: the family supplies a step function and a convergence
  * measure, and the loop owns the round counter, the lineage cut, the
  * termination test and the cap.
  *
  * Lineage cut: each round's result is eagerly `localCheckpoint`ed
  * before anything reads it. A step references the previous state
  * several times (a join and a union in min-label propagation), so
  * without the cut the logical plan doubles per round: exponential
  * analyze/optimize cost, then OOM around round 8. With it every state
  * plans as one `ExistingRDD` leaf, whatever the round. On a cluster
  * use `checkpoint` to reliable storage for fault tolerance instead.
  *
  * Convergence: `measure` reads one driver scalar per round from the
  * checkpointed frame (optionally against the previous state), so the
  * test is control flow, not data collection, and never re-runs the
  * step's plan. Fixed-round folds (three PageRank rounds, two HITS
  * rounds) test nothing and cut no lineage, so they stay plain folds.
  */
object Fixpoint {
  /** Run `step` from `init` until `done(previous value, value)` holds
    * or `cap` rounds have run. `start` stands in for the value before
    * round 1; `init` is used as given (callers cut its lineage
    * themselves when it matters). */
  def iterate[V](init: DataFrame, start: V, cap: Int)(
      step: DataFrame => DataFrame,
      measure: (DataFrame, DataFrame) => V,
      done: (V, V) => Boolean): Fixpoint[V] = {
    @tailrec def loop(state: DataFrame, rounds: Int, last: V): Fixpoint[V] =
      if (rounds >= cap) Fixpoint(state, rounds, last, converged = false)
      else {
        val next = step(state).localCheckpoint(true)
        val v = measure(state, next)
        if (done(last, v)) Fixpoint(next, rounds + 1, v, converged = true)
        else loop(next, rounds + 1, v)
      }
    loop(init, 0, start)
  }
}
