package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Structural parallelism pin for quadratic bucket self-joins.
  *
  * Every bucket-local pairing operator in the engine (LSH banding, SimHash /
  * Hamming prefix buckets, block-scoped Jaccard, co-occurrence, triangle
  * wedges, fingerprint overlap) has the same cost shape: INPUT bytes tiny,
  * OUTPUT rows (and the per-pair verify fused behind the join) quadratic in
  * bucket size. That cost is invisible to every byte-based planner
  * decision, and it has now bitten twice:
  *
  *  - r20 (ScaleBench 16×): the size estimate stayed under the broadcast
  *    threshold, the join chain was broadcast-planned, and a whole tier's
  *    pair emission fused into ONE task (119 s of single-core CPU). The 2×
  *    bigger 32× tier crossed the threshold, planned the shuffle join, and
  *    ran the same logical work 4× faster on 14 post-shuffle tasks (~2 µs
  *    per pair at both tiers: the anomaly was parallelism, never per-pair
  *    cost). Fixed with merge hints on both sides: broadcast is never the
  *    right plan for a self-join, whose sides are same-sized by
  *    construction (a side small enough to broadcast makes the shuffle
  *    cheap too), and a broadcast build side would also discard the pinned
  *    exchange's partitioning after paying for it.
  *  - r21 (bench sf0.1, stage profile): with the merge join planned, AQE's
  *    partition COALESCING re-serialized the same stage one planner path
  *    later — parallelismFirst computes its target from map-output bytes,
  *    clamped below at minPartitionSize (1 MB), so a few-MB banded side
  *    coalesces the join's reduce stage to ONE post-shuffle partition
  *    (measured: the q209 pair build was one 7.0 s task with 6.97 s CPU on a
  *    32-core session; post-pin the same build is 32 tasks, 3.5 s wall —
  *    bounded by the largest bucket, which is the atomic unit of this
  *    algorithm).
  *
  * The fix is structural, not a config: repartition the bucketed table by
  * the join key into the session's CONFIGURED shuffle parallelism. A
  * user-specified `repartition(n, key)` is a REPARTITION_BY_NUM shuffle —
  * AQE never coalesces it — and it satisfies the self-join's clustering
  * requirement exactly, so it REPLACES the join's own exchange instead of
  * adding one. Parallelism follows `spark.sql.shuffle.partitions` (the knob
  * every deployment already sizes to its cluster), never a constant and
  * never this tier's byte census. [[selfJoin]] is the one place the whole
  * rule (pin, both sides from the one pinned frame, merge hints) is written.
  *
  * Trade-off, stated: pinning opts this one exchange out of AQE's skew
  * SPLITTING too — irrelevant here because a bucket is indivisible anyway
  * (splitting a bucket across tasks would lose pairs), and every caller
  * bounds its buckets (requireBoundedGroups / ubiquitous-signature drops).
  */
object Pin {

  /** Repartition `df` by `keys` into the session's configured shuffle
    * parallelism — hash-clustered (all rows of one bucket colocate), AQE
    * coalescing-proof. The planner drops the repartition when `df` is
    * already hash-partitioned on `keys` into that many partitions (by a
    * join or aggregate on the same key), leaving in charge an upstream
    * exchange that AQE may coalesce. So key-grained work that must precede
    * a [[selfJoin]], such as a per-bucket count filter, runs on a `byKey` of
    * its input, and the self-join's own repartition folds into that pin.
    */
  def byKey(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)

  /** The bucket self-join: `df` pinned [[byKey]] `keys`, joined to itself
    * as `l` and `r` on equal keys and `cond`, both sides merge-hinted. One
    * pinned exchange feeds both sides; the reduce stage runs at the
    * session's shuffle parallelism whatever the byte estimates say.
    */
  def selfJoin(df: DataFrame, keys: Seq[String], cond: Column): DataFrame = {
    val pinned = byKey(df, keys.map(col): _*)
    val onKeys = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    pinned.as("l").hint("merge").join(pinned.as("r").hint("merge"), onKeys && cond)
  }

  /** Conditional spread for HEAVY PER-ROW MAP work upstream of the first
    * shuffle (media synthesis/decode, per-token md5 signatures): scan
    * parallelism is bounded by input splits, and parquet cannot split
    * inside a row group — so a small file (one row group) runs the whole
    * map stage on ONE core no matter how many the session has (measured:
    * the q247 synth+decode+hash pass was one 5.7 s task on a 32-core
    * session; the corpus parquet is a single split). When the input is
    * already parallel enough this is a NO-OP — a 100 TB scan with
    * thousands of splits never pays the extra exchange; the
    * degenerate-split case (exactly the guide's "input skew: repartition
    * immediately after the read") pays one hash shuffle of the projected
    * input, which the heavy map work amortizes by construction. Keys must
    * be deterministic row attributes (hash repartition — round-robin
    * re-draws under task retry). Callers: the corpus map passes in
    * [[Dedup]] and [[Multimodal]], and the driving table of both JHU
    * pipelines, [[graft.Pipelines.parser]] (the category fact) and
    * [[graft.Pipelines.parser2]] (`confirmed`), whose one-file daily
    * inputs otherwise cast, zip, probe and write every row in one task.
    *
    * The decision comes from CATALOG METADATA (leaf file counts/bytes,
    * checkpoint RDD partition counts), never from `df.rdd` — which
    * compiled a second physical plan per operator construction (driver
    * work that compounds on the composition paths) and read the PRE-AQE
    * partition count, silently no-op'ing behind any upstream shuffle.
    * Spread protects MAP work over scan-rooted (or checkpoint-rooted)
    * inputs; a plan with its own shuffle boundary (join/aggregate/dedup/
    * set operation/typed grouping/window/sort/repartition/rebalance) below
    * the spread point already runs its map work at the session's shuffle
    * parallelism, so it no-ops there by design.
    *
    * Threshold: repartition only when the input cannot reach HALF the
    * configured parallelism — an input with n-1 splits should not pay a
    * full raw-payload shuffle for one idle core's worth of gain.
    */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    scanParallelism(df) match {
      case Some(est) if est * 2 < n => df.repartition(n, keys: _*)
      case _ => df
    }
  }

  /** Estimated map-stage parallelism of `df`'s input, from metadata only.
    * None = not leaf-bound (an upstream shuffle re-parallelizes anyway)
    * or an unrecognized leaf (leave the plan alone — the conservative
    * direction: a wrong no-op costs the old behavior, a wrong shuffle
    * costs a full pass over payload bytes).
    */
  private def scanParallelism(df: DataFrame): Option[Long] = {
    val plan = df.queryExecution.analyzed
    val shuffling = plan.exists {
      case _: Join | _: Aggregate | _: Distinct | _: Deduplicate | _: Window | _: Sort => true
      case _: Intersect | _: Except => true
      case _: MapGroups | _: FlatMapGroupsWithState | _: CoGroup => true
      case _: RepartitionOperation | _: RebalancePartitions => true
      case _ => false
    }
    if (shuffling) None
    else {
      val maxPartitionBytes = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
      val ests = plan.collectLeaves().map {
        case lr: LogicalRelation =>
          lr.relation match {
            case fs: HadoopFsRelation =>
              // Files pack into splits of at most maxPartitionBytes, and
              // Spark's split sizing adapts DOWN toward per-core splits
              // for small many-file inputs — so max(files, bytes/split)
              // is the right "can this scan reach n tasks" estimate.
              val files = fs.location.inputFiles.length.toLong
              val bytes = fs.location.sizeInBytes
              Some(math.max(files, bytes / math.max(1L, maxPartitionBytes)))
            case _ => None
          }
        case rdd: LogicalRDD => Some(rdd.rdd.getNumPartitions.toLong) // already materialized — free
        case _: LocalRelation => Some(1L) // driver-local rows
        case r: Range => Some(r.numSlices.getOrElse(df.sparkSession.sparkContext.defaultParallelism).toLong)
        case _ => None
      }
      if (ests.contains(None)) None else Some(ests.flatten.sum)
    }
  }
}
