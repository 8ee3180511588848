package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The MANIFEST GENERATION CHAIN both persisted indexes commit through:
  * the dedup signature index ([[Dedup.manifest]], chain under
  * `_manifest/`) and the ANN codes index ([[IvfIndex.manifest]], chain
  * under `manifest/`). Each index supplies its on-disk [[Layout]]; the
  * protocol lives here once.
  *
  * A generation object `gen-N.parquet` names the exact file set of the
  * index: one [[Ref]] row per data file, plus the folded-batch set, the
  * committer token and any layout-specific rows. Readers resolve a
  * generation and read THOSE files, so no commit depends on a rename
  * being atomic. Writers only ADD files under fresh names (never
  * colliding, never deleting), and the one atomic step is making a small
  * generation object visible — a single-object PUT on every major store,
  * behind [[AtomicHead.commit]]'s two concurrent-committer fences:
  *
  *  1. EXPECTED-PARENT (the lost-update fence): the caller states which
  *     generation its refs were read from; a committer that built gen N+1
  *     from gen N-1's refs (maintenance that read while ingest committed,
  *     or a restarted driver's twin) refuses before the chain is touched,
  *     instead of publishing a world with the interleaved generation's
  *     files silently dropped — files cleanup would later delete.
  *  2. COMMITTER TOKEN (the PUT-overwrite fence): object stores let a
  *     second PUT of the same generation silently replace the first, so
  *     every generation carries one `committer` row with a fresh UUID and
  *     the committer reads the published object back and requires its OWN
  *     token.
  *
  * Losers re-read the latest refs and retry; nothing is dropped silently.
  * Concurrent APPENDS need no fence: a landing only adds never-referenced
  * files, which the compactors (manifest census) and [[Chain.cleanup]]
  * (reference-set math) both ignore. De-referenced files are swept by
  * [[Chain.cleanup]] under a snapshot-reader grace of `keepGens`
  * generations. The two commit modes do not mix: the rename-mode ops
  * census the live tree and would double-count a manifest index's
  * de-referenced files, so they refuse while a chain exists
  * ([[Chain.requireAbsent]]), and the manifest ops refuse its absence
  * (except the bootstrap).
  */
private[graft] object Manifest {

  /** One manifest row. `kind` is the layout's data kind (one data FILE),
    * `fold` (one batch id a compaction folded into bins; `name` holds the
    * id), `committer` (the commit's token in `name`) or a layout's own
    * kind (the ANN index's `centroids`: the live centroids table's dir).
    * `cell` is the ANN posting-list cell, -1 where there is none.
    */
  final case class Ref(kind: String, cell: Int, name: String, bytes: Long)

  /** What an index's on-disk format forces on its chain.
    *
    * @param name the artifact, as the refusals name it ("dedup", "ANN")
    * @param dir the manifest directory under the index root
    * @param dataKind the ref kind of a data file
    * @param cellsUnder where the data files live: None = flat under the
    *   root; Some(d) = under `<root>/<d>/centroid_id=<cell>/`, and the ref
    *   schema then carries `centroid_id`
    * @param bootstrap the op that writes generation 0, for the refusals
    */
  final case class Layout(name: String, dir: String, dataKind: String, cellsUnder: Option[String], bootstrap: String)

  // The batch id a data file's name carries, if any: batch-keyed landings
  // ([[Dedup.appendDedupIndex]], [[IvfIndex.appendToAdcIndex]]) name their
  // files `batch<id>-<part>.parquet`; base writes and compacted bins carry
  // none.
  private val LandingName = raw"batch(\d+)-.*".r
  def batchIdOfLanding(name: String): Option[Long] = name match {
    case LandingName(id) => Some(id.toLong)
    case _ => None
  }

  // Scratch dirs embed their creation WALL CLOCK in the name
  // (`<prefix>_ts<millis>_<suffix>`) so the cleanup age gate never
  // depends on filesystem mtime: object stores routinely report epoch-0
  // mtimes for fake directory entries — under an mtime gate every
  // scratch looks infinitely stale and the grace is void, reintroducing
  // the delete-an-in-flight-staging race the grace exists to close
  // (client/store clock skew voids it the same way). The committer's own
  // clock names the scratch, the same clock the cleanup compares against
  // when cleanup runs from the maintenance driver; cross-driver skew
  // only narrows or widens the grace, never zeroes it. Names without an
  // embedded stamp (pre-stamp layouts, hand-made test dirs) fall back to
  // mtime — legacy dirs age out rather than leak.
  def scratchName(prefix: String, suffix: String): String =
    s"${prefix}_ts${System.currentTimeMillis()}_$suffix"
  // FIRST parseable `_ts<digits>_` token (lazy prefix), not the last: every
  // scratch prefix is a `_ts`-free literal, so the stamp is always the first
  // such token — a greedy parse would instead read any later `_ts<digits>_`
  // a future SUFFIX happened to contain, misdating a live staging dir and
  // letting the sweep reclaim it mid-staging.
  private val ScratchStamp = raw".*?_ts(\d+)_.*".r
  def scratchBornAt(name: String): Option[Long] = name match {
    case ScratchStamp(ts) => Some(ts.toLong)
    case _ => None
  }
  def scratchIsStale(s: FileStatus, staleBefore: Long): Boolean =
    scratchBornAt(s.getPath.getName).getOrElse(s.getModificationTime) <= staleBefore

  // Every scratch prefix a chain op stages under, at the index root: the
  // commit's `<manifest dir>_tmp`, the landings', the manifest compactors'
  // and the ANN manifest repair's. Each layout only ever creates its own.
  private val ScratchPrefixes = Seq(
    "_manifest_tmp", "_append_tmp", "_mcompact_tmp",
    "manifest_tmp", "codes_append_tmp", "codes_mcompact_tmp", "codes_mrepair_tmp")

  // Maintenance-written data files embed the generation they were built
  // for: a compactor's bins `m<gen>bin…` and the ANN repair's `r<gen>-…`.
  private val OrphanGen = raw"(?:m(\d+)bin|r(\d+)-).*".r

  private val GenName = raw"gen-(\d+)\.parquet".r

  /** The batch ids a generation's `fold` rows record. */
  def folds(refs: Seq[Ref]): Set[Long] = refs.collect { case Ref("fold", _, w, _) => w.toLong }.toSet

  /** One index's chain: the generation objects under `root`/`layout.dir`. */
  final class Chain(spark: SparkSession, val root: String, val layout: Layout) {
    private val conf = spark.sparkContext.hadoopConfiguration
    val fs: FileSystem = new Path(root).getFileSystem(conf)
    private val cells = layout.cellsUnder.isDefined
    private def genPath(g: Long) = new Path(s"$root/${layout.dir}/gen-$g.parquet")
    private def dataRoot = layout.cellsUnder.fold(root)(d => s"$root/$d")

    // The generation object's parquet schema: the Spark writer's column
    // names, types and UTF8 strings from before the direct MetaIO staging,
    // so pre- and post-change generations are read-compatible. They are
    // not byte-identical: every field here is optional, where the Spark
    // writer marked its non-null fields required.
    private[graft] val schema: String =
      "message spark_schema {\n  optional binary kind (UTF8);\n" +
        (if (cells) "  optional int32 centroid_id;\n" else "") +
        "  optional binary name (UTF8);\n  optional int64 bytes;\n}"

    /** The committed generation numbers, ascending. */
    def gens: Seq[Long] = {
      val p = new Path(s"$root/${layout.dir}")
      if (!fs.exists(p)) Nil
      else
        fs.listStatus(p).toSeq.flatMap(_.getPath.getName match {
          case GenName(n) => Some(n.toLong)
          case _ => None
        }).sorted
    }

    /** `gen`, or the head when None — refusing loudly when the chain has
      * no generation or `gen` is not one of them.
      */
    def resolve(op: String, gen: Option[Long] = None): Long = {
      val gs = gens
      require(gs.nonEmpty, s"$op: no ${layout.name} manifest at $root - bootstrap with ${layout.bootstrap}")
      val g = gen.getOrElse(gs.max)
      require(gs.contains(g), s"$op: generation $g not in ${gs.mkString(",")}")
      g
    }

    def head(op: String): Long = resolve(op)

    /** The rename-mode ops' refusal on a manifest-committed index. */
    def requireAbsent(op: String): Unit =
      require(
        gens.isEmpty,
        s"$op: $root is MANIFEST-committed (${layout.dir}/ has generations). The rename-mode ops read " +
          "the whole live tree and would double-count de-referenced files - use the manifest ops " +
          "(the snapshot read, the manifest compactor, the generation cleanup) instead.",
      )

    // One generation's rows, collected. Driver-side by design — a manifest
    // is metadata-scale (one row per FILE) and the explicit-files read
    // needs the list on the driver anyway. Read DIRECTLY (MetaIO), not
    // through a Spark action: the composed lifecycle ops re-read the head
    // refs on every hop, and each spark.read+collect was ~50-150 ms of
    // planning and scheduling to move a few hundred bytes.
    def refs(gen: Long): Seq[Ref] =
      MetaIO.readGroups(conf, genPath(gen).toString).map(g =>
        Ref(MetaIO.str(g, "kind"), if (cells) MetaIO.int32(g, "centroid_id") else -1, MetaIO.str(g, "name"),
          MetaIO.int64(g, "bytes")))

    def data(refs: Seq[Ref]): Seq[Ref] = refs.filter(_.kind == layout.dataKind)

    /** Where a data ref's file lives. */
    def path(r: Ref): String = layout.cellsUnder.fold(s"$root/${r.name}")(d => s"$root/$d/centroid_id=${r.cell}/${r.name}")

    /** The EXACT set of batch ids this chain's manifest compactions ever
      * folded into bins — one `fold` ref PER ID, carried forward by every
      * later generation. The cross-artifact census and gates
      * ([[Consistency]]) test MEMBERSHIP in this set, never `<= max`: a
      * single max watermark treated as dense-range coverage masked any
      * batch that was never landed here but sat below a later folded id —
      * the gap a one-sided crash leaves is exactly the divergence the
      * census exists to keep observable (r20 VERDICT #1). A pre-upgrade
      * layout carrying only the old single max ref under-covers (its
      * below-max folded batches read uncovered and the gates REFUSE), which
      * is the safe direction: re-landing the named batch heals it.
      */
    def foldedBatches: Set[Long] = folds(refs(head("foldedBatches")))

    /** Max of [[foldedBatches]], for messages and specs; coverage never
      * tests against it.
      */
    def foldWatermark: Option[Long] = foldedBatches.maxOption

    /** Commit `refs` as generation `gen` of a chain whose head must still
      * be `expectedParent`. The payload is staged under a token-unique
      * scratch name — concurrent committers are the acknowledged race, and
      * a shared staging path would let one committer's overwrite replace
      * another's staged object BEFORE either fence runs; a crashed commit's
      * scratch is vacuumed by [[cleanup]] under its grace.
      */
    def commit(gen: Long, refs: Seq[Ref], expectedParent: Option[Long]): Long = {
      require(refs.exists(_.kind == layout.dataKind),
        s"${layout.name} manifest: refusing to commit a ${layout.dataKind}-EMPTY generation $gen for $root")
      // Strip inherited committer rows (refs built from a previous
      // generation's rows carry its token) and stamp this commit's own.
      val token = java.util.UUID.randomUUID().toString
      val payload = refs.filterNot(_.kind == "committer") :+ Ref("committer", -1, token, 0L)
      val scratch = new Path(root, scratchName(s"${layout.dir}_tmp", token))
      val staged = new Path(scratch, "part-00000.parquet")
      MetaIO.writeRows(conf, staged.toString, schema, payload.map { r =>
        if (cells) Seq(r.kind, r.cell, r.name, r.bytes) else Seq(r.kind, r.name, r.bytes)
      })
      val target = genPath(gen)
      AtomicHead.commit(
        fs,
        staged = staged,
        scratchRoot = scratch,
        scratchIsDir = true,
        target = target,
        headNow = () => gens.lastOption,
        expectedParent = expectedParent,
        refuseMoved = headNow =>
          throw new IllegalArgumentException(
            s"${layout.name} manifest commit: generation head moved from $expectedParent to $headNow while " +
              "this commit was built - a concurrent committer published first (ingest racing maintenance, " +
              s"or a restarted driver's twin). Committing gen $gen from stale refs would silently drop the " +
              "interleaved generation's files from the chain. Re-read the latest generation's refs and retry."),
        existsMsg = s"${layout.name} manifest commit: generation $gen already exists at $target",
        renameFailedMsg = s"${layout.name} manifest commit: commit move failed for $target",
        requireCommitWon = () => requireCommitWon(gen, token),
      )
      gen
    }

    // The post-commit read-back of fence 2, separate so a spec can drive
    // the LOSING side directly — simulating the object-store PUT
    // overwrite a local-FS test cannot produce through rename.
    def requireCommitWon(gen: Long, token: String): Unit = {
      val winners = refs(gen).collect { case Ref("committer", _, t, _) => t }
      require(
        winners == Seq(token),
        s"${layout.name} manifest commit: generation $gen at $root was committed by ANOTHER writer " +
          s"(its token ${winners.mkString(",")}, ours $token) - on an object store two drivers' PUTs " +
          "for the same generation silently last-write-win, and this driver lost: its file set is NOT " +
          "what readers resolve. Re-read the latest generation's refs and retry as the next generation.",
      )
    }

    // The data files on disk with their cells: every cell dir's, or only
    // the listed cells' where a landing knows what it touched.
    private def listData(onlyCells: Option[Seq[Int]] = None): Seq[(Int, FileStatus)] = layout.cellsUnder match {
      case None => fs.listStatus(new Path(root)).toSeq.filter(_.isFile).map(f => (-1, f))
      case Some(_) =>
        val cellDirs = onlyCells match {
          case Some(cs) => cs.distinct.sorted.map(c => new Path(s"$dataRoot/centroid_id=$c")).filter(fs.exists)
          case None =>
            fs.listStatus(new Path(dataRoot)).toSeq
              .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid_id="))
              .map(_.getPath)
        }
        cellDirs.flatMap { d =>
          val cell = d.getName.stripPrefix("centroid_id=").toInt
          fs.listStatus(d).toSeq.filter(_.isFile).map(f => (cell, f))
        }
    }

    private def dataRef(cell: Int, f: FileStatus) = Ref(layout.dataKind, cell, f.getPath.getName, f.getLen)

    /** BOOTSTRAP: census the live data files into generation 0, plus the
      * layout's `extra` rows. Only legal while no generation exists and
      * the data was never rewritten in place — a census over files that
      * include de-referenced ones would re-reference them. Every later
      * generation comes from an op that knows its delta.
      */
    def bootstrap(op: String, extra: Seq[Ref] = Nil): Long = {
      require(
        gens.isEmpty,
        s"$op: $root already has manifest generations - the census bootstrap would re-reference " +
          "de-referenced files. Incremental gens come from the batch commit and the manifest compactor.",
      )
      val census = listData().collect { case (cell, f) if f.getPath.getName.endsWith(".parquet") => dataRef(cell, f) }
      commit(0L, census ++ extra, expectedParent = None)
    }

    /** Commit a landed batch into the next generation: the head's refs,
      * minus any data refs this SAME batch wrote before (a replay re-lands
      * under fresh part names — the re-commit heals the dangling refs),
      * plus the batch's files now on disk. `onlyCells` bounds the listing
      * to the cells the landing touched.
      */
    def commitBatch(op: String, batchId: Long, onlyCells: Option[Seq[Int]] = None): Long = {
      val parent = head(op)
      val kept = refs(parent).filterNot(r => r.kind == layout.dataKind && batchIdOfLanding(r.name).contains(batchId))
      val landed = listData(onlyCells).collect {
        case (cell, f) if batchIdOfLanding(f.getPath.getName).contains(batchId) => dataRef(cell, f)
      }
      require(landed.nonEmpty, s"$op: batch $batchId left no files under $dataRoot")
      commit(parent + 1, kept ++ landed, expectedParent = Some(parent))
    }

    /** Commit a compaction's rewrite of generation `parent`: `data` is the
      * new generation's whole data-ref set, the other rows of `prev` pass
      * through, and the folded-id set carries forward with `foldedIds`
      * merged in — one ref PER batch id, never a single max (see
      * [[foldedBatches]]).
      */
    def commitCompaction(parent: Long, prev: Seq[Ref], data: Seq[Ref], foldedIds: Seq[Long]): Long = {
      val foldRefs = (folds(prev) ++ foldedIds).toSeq.sorted.map(w => Ref("fold", -1, w.toString, 0L))
      val carried = prev.filterNot(r => r.kind == layout.dataKind || r.kind == "fold")
      commit(parent + 1, data ++ carried ++ foldRefs, expectedParent = Some(parent))
    }

    /** Sweep what no live generation needs; returns the deleted count.
      *
      *  - Crashed-op SCRATCH at the root, age-gated: chain ingest
      *    legitimately races maintenance, so a scratch younger than
      *    `scratchGraceMs` may be an op staging right now and is spared.
      *    Age comes from the stamp the scratch NAME embeds
      *    ([[scratchName]]).
      *  - DE-REFERENCED data files: referenced by a generation beyond the
      *    `keepGens` window and by no retained one. `keepGens` is the
      *    snapshot-reader grace: a reader that resolved a generation keeps
      *    a consistent file set while its generation stays in the window.
      *  - `sweepExtra(keptRefs, oldRefs, head)`: the layout's own
      *    artifacts (the ANN index's centroids versions).
      *  - Crashed-op ORPHANS: maintenance files whose embedded generation
      *    the head has passed ([[OrphanGen]]) yet no generation references
      *    — a compactor or repair that crashed before its commit or lost
      *    the commit race. A re-run lands fresh names, so without this
      *    sweep they leak forever. Files AHEAD of the head may be an op in
      *    flight and are spared; plain `batch<id>-` landings carry no
      *    generation and are never candidates.
      *  - The generation objects beyond the window.
      */
    def cleanup(
        op: String,
        keepGens: Int,
        scratchGraceMs: Long,
        sweepExtra: (Seq[Ref], Seq[Ref], Long) => Long = (_, _, _) => 0L,
    ): Long = {
      require(keepGens >= 1, s"$op: keepGens must be >= 1: $keepGens")
      require(scratchGraceMs >= 0, s"$op: scratchGraceMs must be >= 0: $scratchGraceMs")
      val head = this.head(op)
      val gs = gens
      val staleBefore = System.currentTimeMillis() - scratchGraceMs
      fs.listStatus(new Path(root))
        .filter(s =>
          s.isDirectory && ScratchPrefixes.exists(s.getPath.getName.startsWith) && scratchIsStale(s, staleBefore))
        .foreach(s => fs.delete(s.getPath, true))
      val (old, kept) = gs.splitAt(math.max(0, gs.size - keepGens))
      val keptAll = kept.flatMap(refs)
      val oldAll = old.flatMap(refs)
      def keys(rs: Seq[Ref]) = data(rs).map(r => (r.cell, r.name)).toSet
      val keptKeys = keys(keptAll)
      val oldKeys = keys(oldAll)
      var deleted = 0L
      (oldKeys -- keptKeys).toSeq.sorted.foreach { case (cell, name) =>
        val p = new Path(path(Ref(layout.dataKind, cell, name, 0L)))
        if (fs.exists(p) && fs.delete(p, false)) deleted += 1
      }
      deleted += sweepExtra(keptAll, oldAll, head)
      val referenced = keptKeys ++ oldKeys
      listData().foreach { case (cell, f) =>
        val name = f.getPath.getName
        val g = name match {
          case OrphanGen(mg, rg) => Option(mg).orElse(Option(rg)).map(_.toLong)
          case _ => None
        }
        if (g.exists(_ <= head) && !referenced((cell, name)) && fs.delete(f.getPath, false)) deleted += 1
      }
      old.foreach(g => fs.delete(genPath(g), false))
      deleted
    }

    /** A maintenance tick's sweep retention: `keepGens` widened by the
      * generations the tick itself committed since `headAtEntry`, so a
      * committing tick never spends the snapshot-reader grace on its own
      * commits — the generation that was head at tick ENTRY survives the
      * tick, and the superseded world is retired by the NEXT tick.
      */
    def keepFor(keepGens: Int, headAtEntry: Long): Int = keepGens + (gens.max - headAtEntry).toInt
  }
}
