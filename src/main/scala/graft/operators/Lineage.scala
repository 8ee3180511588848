package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage truncation for operators that materialize an intermediate (LSH
  * signature tables, iterative CC rounds, log-prob tables, gated corpora),
  * and the one fixpoint loop ([[Lineage.iterate]]) whose rounds it truncates.
  *
  * `localCheckpoint` is executor-local and non-replicated, and it SEVERS
  * lineage — so on a real cluster, losing one executor mid-job makes the
  * downstream unrecoverable (nothing left to recompute from). Local mode and
  * tests keep that cheap default; a 100 TB run on preemptible executors sets
  * `spark.graft.reliableCheckpoints=true` (plus
  * `sparkContext.setCheckpointDir` to an HDFS/object-store path) and EVERY
  * operator in the engine switches to replicated checkpoints — one knob, no
  * per-operator API change.
  */
object Lineage {

  val ConfKey = "spark.graft.reliableCheckpoints"

  /** Truncate `df`'s lineage. `eager = false` defers materialization to the
    * caller's next action (used inside [[iterate]] rounds, so a CC round's
    * convergence aggregation doubles as the materializer — one job per
    * round — and a fixed-iteration loop's rounds all materialize under the
    * caller's one action). Replicated or executor-local is the session
    * conf's choice alone; no operator overrides it.
    */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame = {
    val reliable = df.sparkSession.conf.getOption(ConfKey).exists { v =>
      // accept the common truthy/falsy spellings; anything else names the
      // key instead of throwing toBoolean's bare "For input string" error
      v.trim.toLowerCase match {
        case "true" | "1" | "yes"  => true
        case "false" | "0" | "no" => false
        case other =>
          throw new IllegalArgumentException(
            s"$ConfKey must be true/false (got '$other')"
          )
      }
    }
    if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
  }

  /** Where a fixpoint loop stopped: its last state, the rounds it ran, and
    * whether `done` held (false means it stopped at the round cap).
    */
  final case class Fixpoint[S](state: S, rounds: Int, converged: Boolean)

  /** The one driver loop of every iterative operator (PageRank, label
    * propagation, k-core, the frontier BFS, both CC kernels): run
    * `step(state, round)` for rounds 1, 2, … until `done(state, round)`
    * holds or `maxRounds` rounds have run. The loop owns only the round
    * counter and the cap. Each caller keeps its own truncation policy inside
    * `step` and its own answer to an unconverged stop (throw, escape, or
    * take the state as is). A fixed-iteration loop passes a `done` that
    * never holds.
    */
  def iterate[S](init: S, maxRounds: Int)(step: (S, Int) => S)(done: (S, Int) => Boolean): Fixpoint[S] = {
    var state = init
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      state = step(state, round)
      converged = done(state, round)
    }
    Fixpoint(state, round, converged)
  }
}
