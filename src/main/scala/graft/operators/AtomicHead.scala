package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/** The single-object head commit every chain in the engine shares — the
  * manifest generations of both persisted indexes ([[Manifest.Chain.commit]])
  * and the dedup serve-head pointer ([[Dedup.commitServeHead]]) publish by
  * making ONE small object visible, under the same two
  * concurrent-committer fences. Three
  * hand-rolled copies of that skeleton existed; a staged-object leak on
  * exactly one copy's refusal paths was a real prior finding — the bug
  * class the duplication breeds — so the ORDER of operations and the
  * refusal-path hygiene now live here once.
  *
  * The caller stages its payload as one object under a token-unique scratch
  * name (concurrent committers are the acknowledged race: a shared staging
  * path would let one committer's overwrite replace another's staged object
  * BEFORE either fence runs), then commits through [[commit]]:
  *
  *  1. EXPECTED-PARENT (the lost-update fence): the chain is re-listed
  *     HERE — after the payload was staged, so the check covers the whole
  *     read-build window, not just the caller's entry — and a moved head
  *     refuses via the site's own exception (type and message are part of
  *     each site's spec'd contract). The refusal fires BEFORE the commit
  *     move, so the chain is untouched and the loser just re-reads and
  *     retries.
  *  2. TARGET-EXISTS + RENAME: refuses a same-sequence collision where the
  *     filesystem honors it (local FS, HDFS). On an object store the
  *     "rename" is a copy whose target object appears atomically — the
  *     commit becomes visible exactly when the object does, and a crash
  *     before that leaves no partial head.
  *  3. COMMITTER-TOKEN READ-BACK (the PUT-overwrite fence), via the site's
  *     `requireCommitWon`: object stores let a second PUT silently replace
  *     the first, so after the move the site re-reads the published object
  *     and requires its OWN token — the overwritten committer learns its
  *     world is not what readers resolve and refuses loudly. Runs after
  *     the scratch cleanup, so a fence-2 loss leaves nothing staged.
  *
  * On EVERY refusal path the scratch is removed (a parquet staging dir is
  * removed on success too — the payload object was renamed away); only a
  * driver crash can leave scratch behind, and each chain's vacuum ages
  * that out by the wall-clock stamp its scratch NAME embeds
  * ([[Manifest.scratchName]]).
  */
private[graft] object AtomicHead {

  /** Commit one staged object as the chain's next head. See the object
    * doc for the protocol; the site supplies everything spec'd per-chain
    * (listing, refusal exception, messages, read-back) and this owns the
    * order and the cleanup.
    */
  def commit(
      fs: FileSystem,
      staged: Path,
      scratchRoot: Path,
      scratchIsDir: Boolean,
      target: Path,
      headNow: () => Option[Long],
      expectedParent: Option[Long],
      refuseMoved: Option[Long] => Nothing,
      existsMsg: => String,
      renameFailedMsg: => String,
      requireCommitWon: () => Unit,
  ): Unit = {
    var committed = false
    var inFlight: Throwable = null
    try {
      val now = headNow()
      if (now != expectedParent) refuseMoved(now)
      fs.mkdirs(target.getParent)
      require(!fs.exists(target), existsMsg)
      require(fs.rename(staged, target), renameFailedMsg)
      committed = true
    } catch {
      case t: Throwable =>
        inFlight = t
        throw t
    } finally {
      // A parquet staging DIR still holds marker files after its payload
      // object renamed away — removed on success and refusal alike; a
      // directly-staged file exists only until the rename, so it is
      // removed on refusal only. An IO failure in THIS delete must never
      // replace an in-flight protocol refusal (fence-1 head-moved,
      // target-exists, rename-failed — each carries the actionable
      // "re-read and retry" diagnosis): it is suppressed onto the refusal
      // instead, and on the success path it is swallowed outright — the
      // head IS published, and the stamped scratch it strands is exactly
      // what each chain's vacuum ages out by name.
      if (scratchIsDir || !committed) {
        try fs.delete(scratchRoot, scratchIsDir): Unit
        catch {
          case scala.util.control.NonFatal(cleanupFailure) =>
            if (inFlight != null) inFlight.addSuppressed(cleanupFailure)
        }
      }
    }
    requireCommitWon()
  }
}
