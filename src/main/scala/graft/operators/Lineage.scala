package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage truncation for operators that materialize an intermediate (LSH
  * signature tables, iterative CC rounds, log-prob tables, gated corpora).
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
    * caller's next action (used by the iterative CC operators so the
    * convergence aggregation doubles as the materializer — one job per
    * round). `forceReliable` lets call sites with an explicit `reliable`
    * parameter override the session conf.
    */
  def truncate(df: DataFrame, eager: Boolean = true, forceReliable: Boolean = false): DataFrame = {
    val reliable = forceReliable || df.sparkSession.conf.getOption(ConfKey).exists { v =>
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
}
