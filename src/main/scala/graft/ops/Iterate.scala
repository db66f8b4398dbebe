package graft.ops

import org.apache.spark.sql.DataFrame

/** Shared driver for the synchronous fixed-iteration graph loops
  * ([[Graph.graphPagerank]], [[Graph.graphLabelPropagation]],
  * [[Graph.graphKCore]]) — the Pregel-round pattern as a fold, with
  * an explicit checkpoint cadence.
  *
  * Why a cadence knob instead of a policy: the loop cost at bench SF
  * is per-iteration SYNCHRONOUS BARRIERS, not data, and the right
  * checkpoint frequency is a measured trade between plan-growth and
  * materialization cost. PageRank at sf0.1 (294k edges, 10
  * iterations, local[32]) measured: checkpoint EVERY iteration
  * 11.1 s (each materialization is a barrier), NO checkpoints — one
  * lazy 40-stage DAG — 6.1 s (plan growth + whole-DAG recompute on
  * the single action), every-3 4.1 s (BASELINE.md r7; the shipped
  * cadence). Short loops (3 rounds over a static checkpointed base)
  * measured best with NO in-loop checkpoint at all — label
  * propagation and k-core pass `checkpointAt = never`. At 100 TB the
  * same trade holds with bigger constants: each barrier is a full
  * cluster sync, and an uncheckpointed lineage chain re-executes
  * every prior round's shuffle on failure — so the cadence stays an
  * explicit, per-operator measured choice.
  *
  * The LAST iteration never checkpoints (the consumer's action
  * materializes it anyway — a trailing checkpoint would add one
  * barrier for nothing).
  */
private[ops] object Iterate {

  val never: Int => Boolean = _ => false

  /** Fold `step` over `rounds` (the round index is passed through —
    * loops like PageRank vary the first round), checkpointing after
    * any non-final round where `checkpointAt(k)` holds.
    */
  def fixed(rounds: Range, checkpointAt: Int => Boolean)(init: DataFrame)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    // checkpoint hygiene (round 18): a cadence checkpoint's only
    // consumer is the chain up to the NEXT cadence checkpoint, so
    // once that one materializes the older blocks are dead — free
    // them deterministically instead of waiting on GC; the caller's
    // init is never ours to free.
    var lastCkpt: Option[DataFrame] = None
    rounds.foldLeft(init) { (state, k) =>
      val next = step(state, k)
      if (checkpointAt(k) && k != rounds.last) {
        val ck = Checkpoints.pin(next)
        lastCkpt.foreach(Checkpoints.free)
        lastCkpt = Some(ck)
        ck
      } else next
    }
  }

  /** Terminal state of [[untilFixpoint]]: the last state (always
    * pinned), its measure, rounds executed, and which exit
    * fired (`converged` per the caller's test; `!converged` means the
    * measure fell to `exitBelow` or `maxRounds` ran out — the caller
    * distinguishes those two from `measure`/`rounds`).
    */
  final case class Fixpoint(state: DataFrame, measure: Long, rounds: Int,
      converged: Boolean)

  /** Data-dependent iteration driver for the loops whose round count
    * is not known up front ([[Llm.connectedComponents]]' star
    * contraction). Contract for the ONE permitted driver scalar in
    * iterative operators: `measure` returns a single Long per round
    * (a `count()` — O(1) driver memory, never rows), and the loop
    * cannot be folded into a lazy plan precisely because the
    * CONTINUATION depends on that scalar — Spark has no
    * iterate-until-empty plan node, so a driver-side count per round
    * is the minimum possible driver involvement, and it doubles as
    * the per-round lineage barrier (each state is pinned here, not in
    * `step`).
    *
    * Loop shape (exactly the while-loop it replaces): while the
    * previous measure is above `exitBelow`, rounds remain, and the
    * caller's `test(prevMeasure, nextState, nextMeasure)` has not
    * declared convergence, advance. `test` sees both measures so
    * "count stopped shrinking" guards (which make a more expensive
    * structural check conditional) stay cheap.
    */
  def untilFixpoint(init: DataFrame, measure: DataFrame => Long,
      exitBelow: Long, maxRounds: Int)(step: DataFrame => DataFrame)(
      test: (Long, DataFrame, Long) => Boolean): Fixpoint = {
    var state = Checkpoints.pin(init)
    var m = measure(state)
    var round = 0
    var converged = false
    while (!converged && m > exitBelow && round < maxRounds) {
      val next = Checkpoints.pin(step(state))
      val m2 = measure(next)
      converged = test(m, next, m2)
      // `state` is superseded: `next` is materialized and measured,
      // and no caller ever sees an intermediate round — free its
      // blocks now (round 18 checkpoint hygiene), unless it is the
      // caller's own handle (`init` pinned in place) or `step`
      // returned it unchanged as `next`
      if (!(state eq init) && !(next eq state)) Checkpoints.free(state)
      state = next
      m = m2
      round += 1
    }
    Fixpoint(state, m, round, converged)
  }
}
