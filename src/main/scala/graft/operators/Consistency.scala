package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CROSS-ARTIFACT consistency — the census and the loud gate for the
  * pipeline shape where ONE ingest batch feeds TWO artifacts of record:
  * the dedup signature index (manifest chain under `_manifest/`) and the
  * ANN codes index (manifest chain under `manifest/`). Each chain commits
  * its own generation per batch, so a crash BETWEEN the two commits leaves
  * the artifacts silently divergent — the batch's documents dedup against
  * the corpus but are unfindable by similarity search, or vice versa — and
  * no single-chain audit can see it ([[Dedup.dedupChainDiff]],
  * [[IvfIndex.adcChainDiff]], [[Dedup.dedupServeDiff]] each audit ONE
  * chain, which stays internally consistent on both sides of the crash).
  * [[crossArtifactCoverage]] makes the divergence a first-class
  * observable; [[requireCoverage]] makes it a loud stop; the standing
  * composition lives in
  * [[graft.streaming.EventStream.dualIngestOneShotManifest]], which
  * verifies its own batches' coverage after every run.
  *
  * WINDOWED BY DESIGN, WITH THE WINDOW'S EDGE PERSISTED: coverage is
  * read from the batch ids the head generations' file refs still carry
  * (the `batch<id>-…` landing names, [[Manifest.batchIdOfLanding]]). A
  * manifest COMPACTION folds landings at or below its watermark into
  * `m<gen>bin-…` / bin files, making their batch ids unobservable from
  * refs — and it records EVERY batch id it ever folded as `fold` refs in
  * the generation it commits (the chain's FOLDED-ID SET,
  * [[Manifest.Chain.foldedBatches]]; one metadata row per id). The census and the gates treat a batch IN a
  * chain's folded-id set as covered THERE — exact membership, never
  * `<= max(folded)`: the max form masked any batch never landed in the
  * chain that sat in a gap below a later folded id, flipping a real
  * one-sided divergence to 'both' forever. It was folded by a compactor —
  * under
  * [[requireFoldCovered]]'s cross-artifact gate when the deployment
  * runs dual artifacts — so its durability rests on the chain's own
  * replay invariants, not on name observability. That closes both
  * ordering races structurally: a concurrent maintenance compaction
  * folding a just-committed batch can no longer make a clean dual
  * ingest's post-drain verification refuse spuriously, and the
  * "run the census before advancing either watermark" rule is no longer
  * operator discipline — the coverage-gated compactor REFUSES to fold a
  * batch the other artifact never covered (see the `coverageGuard`
  * parameter on [[Dedup.compactDedupIndexManifest]] /
  * [[IvfIndex.compactAdcIndexCodesManifest]] and the two maintenance
  * ticks).
  *
  * Scale shape: pure metadata — two head-ref reads (one row per live
  * file, the chains' own design point), set algebra on the driver, a
  * batches-scale result. The same cost class as the chain diffs it runs
  * next to; corpus size never enters.
  */
object Consistency {

  /** Per-batch coverage at both chain heads: one row per batch id either
    * head still references at or above `sinceBatchId`, with
    * `status ∈ both | dedup_only | ann_only`. `in_dedup` / `in_ann`
    * report name-OBSERVABILITY (the head's refs); `status` reports
    * COVERAGE — observable, or in that chain's persisted folded-id set
    * (folded into bins by a compactor; see the object doc) —
    * so a batch one chain has compacted while the other still holds its
    * landing reads `both`, not a divergence. Empty means the window is
    * covered identically (including the trivially-consistent case where
    * neither chain carries a windowed batch). Any `*_only` row is a real
    * divergence: a dual ingest crashed between its two commits, or an
    * operator landed a batch into one artifact only.
    */
  def crossArtifactCoverage(
      spark: SparkSession,
      dedupIndexPath: String,
      annIndexDir: String,
      sinceBatchId: Long = 0L,
  ): DataFrame = {
    import spark.implicits._
    val op = "crossArtifactCoverage"
    val dedup = coverage(op, Dedup.manifest(spark, dedupIndexPath), sinceBatchId)
    val ann = coverage(op, IvfIndex.manifest(spark, annIndexDir), sinceBatchId)
    (dedup.observed ++ ann.observed).toSeq.sorted
      .map { b =>
        val status =
          if (dedup.covers(b) && ann.covers(b)) "both"
          else if (dedup.covers(b)) "dedup_only"
          else "ann_only"
        (b, dedup.observed(b), ann.observed(b), status)
      }
      .toDF("batch_id", "in_dedup", "in_ann", "status")
  }

  /** One chain head's coverage: the batch ids its data refs still name in
    * the window (`observed`), and its whole folded-id set (`folded`).
    * A batch is covered by MEMBERSHIP in either, never by `<= max(folded)`:
    * a max treated as dense-range coverage flipped any one-sided batch
    * sitting in a gap below a later folded id to covered — under that
    * form a chain folding around a batch it never landed let the OTHER
    * chain's gate fold it too, and the divergence became permanently
    * unobservable with every gate reporting clean (r20 VERDICT #1).
    */
  private final case class Coverage(observed: Set[Long], folded: Set[Long]) {
    def covers(b: Long): Boolean = observed(b) || folded(b)
  }

  private def coverage(op: String, chain: Manifest.Chain, sinceBatchId: Long): Coverage = {
    val refs = chain.refs(chain.head(op))
    Coverage(
      chain.data(refs).flatMap(r => Manifest.batchIdOfLanding(r.name)).filter(_ >= sinceBatchId).toSet,
      Manifest.folds(refs),
    )
  }

  /** The loud gate: every batch in `batchIds` must be covered by BOTH
    * heads. The refusal names the missing side(s) and the remediation,
    * which the batch-keyed landing protocol already makes idempotent:
    * re-land the batch into the missing artifact under the SAME batch id
    * ([[Dedup.appendDedupIndex]] / [[IvfIndex.appendToAdcIndex]]) and
    * re-commit ([[Dedup.commitDedupBatchToManifest]] /
    * [[IvfIndex.commitAdcBatchToManifest]]) — a replay of an
    * already-covered side sweeps its own prior landing and heals its
    * refs, so remediation is safe to run on both sides blindly. Fold-aware
    * like the census: without that, a maintenance compaction racing the
    * verifying tick would make a CLEAN dual ingest refuse as a
    * manufactured divergence.
    */
  def requireCoverage(
      spark: SparkSession,
      dedupIndexPath: String,
      annIndexDir: String,
      batchIds: Seq[Long],
  ): Unit = {
    if (batchIds.isEmpty) return
    val since = batchIds.min
    val dedup = coverage("requireCoverage", Dedup.manifest(spark, dedupIndexPath), since)
    val ann = coverage("requireCoverage", IvfIndex.manifest(spark, annIndexDir), since)
    val missingDedup = batchIds.filterNot(dedup.covers).sorted
    val missingAnn = batchIds.filterNot(ann.covers).sorted
    require(
      missingDedup.isEmpty && missingAnn.isEmpty,
      s"cross-artifact divergence: batch(es) ${missingDedup.mkString(",")} missing from the dedup chain " +
        s"head ($dedupIndexPath) and ${missingAnn.mkString(",")} missing from the ANN chain head " +
        s"($annIndexDir) - a dual ingest crashed between its two commits, or a batch was landed into " +
        "one artifact only. Remediation: re-land the batch into the missing artifact under the SAME " +
        "batch id and re-commit its generation; the batch-keyed landing protocol makes the re-land " +
        "idempotent (an already-covered side replays safely).",
    )
  }

  /** The COMPACTION-SIDE gate — the census's window discipline made
    * structural. A manifest compaction that folds batch landings into
    * bins makes their batch ids unobservable from that head's refs
    * FOREVER; if the other artifact never committed one of those
    * batches, the divergence folds where no census can ever see it
    * again. So before folding, every batch id about to lose its name
    * must already be covered by the `other` chain — observable at its
    * head, or in its folded-id set (folded there under this same gate,
    * or durable by that chain's replay invariants). Called by
    * [[Dedup.compactDedupIndexManifest]] /
    * [[IvfIndex.compactAdcIndexCodesManifest]] when their `coverageGuard`
    * names the other artifact (opt-in: a single-artifact deployment has
    * no "other chain"); the refusal names the divergent batch and the
    * idempotent re-land remediation, and fires BEFORE any rewrite — the
    * folding chain is untouched. `folding` names the refusing compactor
    * for the message.
    */
  private[graft] def requireFoldCovered(
      folding: String,
      foldingBatchIds: Seq[Long],
      other: Manifest.Chain,
  ): Unit = {
    if (foldingBatchIds.isEmpty) return
    val cov = coverage(folding, other, foldingBatchIds.min)
    val missing = foldingBatchIds.distinct.filterNot(cov.covers).sorted
    require(
      missing.isEmpty,
      s"$folding: refusing to fold batch(es) ${missing.mkString(",")} into bins - the " +
        s"${other.layout.name} chain (${other.root}) does not cover them (not at its head, not in its " +
        s"folded-id set ${if (cov.folded.isEmpty) "<none>" else cov.folded.toSeq.sorted.mkString("{", ",", "}")}). " +
        "Folding would make the cross-artifact divergence " +
        "permanently unobservable to every census. Remediation: re-land the batch into the missing " +
        "artifact under the SAME batch id and re-commit its generation (the batch-keyed landing " +
        "protocol makes the re-land idempotent), then re-run this compaction.",
    )
  }
}
