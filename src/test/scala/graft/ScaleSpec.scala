package graft

import graft.operators.SkewJoin
import graft.ops.Lake
import graft.sources.Csv
import org.apache.spark.sql.functions._

/** Scale-tooling tests: salting, bucketing (co-located joins), manifest
  * scans, strict-cast semantics.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin == plain join; salted rows spread over buckets") {
    val fact = spark.read.parquet(sf() + "/orders.parquet")
    val dim = spark.read.parquet(sf() + "/customer.parquet").select($"c_custkey", $"c_mktsegment")
    val plain = fact
      .join(dim, fact("o_custkey") === dim("c_custkey"))
      .groupBy("c_mktsegment")
      .count()
      .as[(String, Long)]
      .collect()
      .toMap
    val salted = SkewJoin
      .saltedJoin(
        fact.withColumnRenamed("o_custkey", "c_custkey"),
        dim,
        key = "c_custkey",
        saltSource = col("o_orderkey"),
        buckets = 8,
      )
      .groupBy("c_mktsegment")
      .count()
      .as[(String, Long)]
      .collect()
      .toMap
    assert(salted == plain)
    // salt distribution: all 8 buckets used
    val used = fact.select(SkewJoin.salt(col("o_orderkey"), 8).as("s")).distinct().count()
    assert(used == 8)
  }

  test("saltedAgg == plain agg") {
    val li = spark.read.parquet(sf() + "/lineitem.parquet")
    val plain = li.groupBy("l_returnflag").agg(Tables.dsum($"l_quantity").as("q"), count(lit(1)).as("n"))
      .as[(String, Double, Long)].collect().map { case (k, q, n) => k -> ((q, n)) }.toMap
    val salted = graft.operators.SkewJoin
      .saltedAgg(
        li,
        key = "l_returnflag",
        saltSource = col("l_orderkey"),
        buckets = 8,
        partials = Seq(Tables.dsum($"l_quantity").as("q"), count(lit(1)).as("n")),
        finals = Seq(sum($"q").as("q"), sum($"n").as("n")),
      )
      .as[(String, Double, Long)].collect().map { case (k, q, n) => k -> ((q, n)) }.toMap
    assert(salted == plain)
  }

  test("bucketized tables join with no exchange (co-located)") {
    Lake.bucketize(spark.read.parquet(sf() + "/orders.parquet"), "orders_b", Seq("o_custkey"), 4)
    Lake.bucketize(
      spark.read.parquet(sf() + "/customer.parquet").withColumnRenamed("c_custkey", "o_custkey"),
      "customer_b",
      Seq("o_custkey"),
      4,
    )
    // disable auto-broadcast so the co-located sort-merge path is exercised
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b").join(spark.table("customer_b"), "o_custkey")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"), s"bucketed join must not shuffle:\n$p")
      assert(p.contains("Bucketed: true"), p)
      assert(joined.count() == spark.table("orders_b").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketize refuses to clobber foreign tables and locations; own republish survives catalog loss") {
    val hc = spark.sparkContext.hadoopConfiguration
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(hc)
    // A FOREIGN managed table at the target name: refuse loudly, data intact.
    spark.range(5).toDF("x").write.saveAsTable("guard_foreign_tbl")
    val exTbl = intercept[IllegalArgumentException] {
      Lake.bucketize(spark.range(3).toDF("x"), "guard_foreign_tbl", Seq("x"), 2)
    }
    assert(exTbl.getMessage.contains("not published by Lake.bucketize"), exTbl.getMessage)
    assert(spark.table("guard_foreign_tbl").count() == 5, "the foreign table's data must be intact")
    // A FOREIGN non-empty directory at the derived location (no catalog
    // entry — e.g. another application's table the in-memory catalog
    // never knew): refuse loudly, files intact.
    val foreignLoc = new org.apache.hadoop.fs.Path(wh, "guard_foreign_dir")
    fs.mkdirs(foreignLoc)
    fs.create(new org.apache.hadoop.fs.Path(foreignLoc, "part-0.parquet"), true).close()
    val exDir = intercept[IllegalArgumentException] {
      Lake.bucketize(spark.range(3).toDF("x"), "guard_foreign_dir", Seq("x"), 2)
    }
    assert(exDir.getMessage.contains("not written by Lake.bucketize"), exDir.getMessage)
    assert(fs.exists(new org.apache.hadoop.fs.Path(foreignLoc, "part-0.parquet")),
      "the foreign directory's files must be intact")
    // Our OWN table republishes freely in-session...
    Lake.bucketize(spark.range(4).toDF("x"), "guard_own_t", Seq("x"), 2)
    Lake.bucketize(spark.range(6).toDF("x"), "guard_own_t", Seq("x"), 2)
    assert(spark.table("guard_own_t").count() == 6)
    // ...and ACROSS SESSIONS (the in-memory catalog forgets the table,
    // the warehouse dir persists — the 1925a23 state, reconstructed by
    // parking the dir aside over a managed DROP): the sentinel inside
    // the location proves prior ownership and the vacuum proceeds.
    val ownLoc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("guard_own_t", Some("default"))).location)
    val aside = new org.apache.hadoop.fs.Path(wh, "guard_own_t__aside")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, ownLoc, fs, aside, false, hc))
    spark.sql("DROP TABLE guard_own_t") // managed drop deletes the dir
    assert(fs.rename(aside, ownLoc)) // dir back, catalog entry gone
    Lake.bucketize(spark.range(7).toDF("x"), "guard_own_t", Seq("x"), 2)
    assert(spark.table("guard_own_t").count() == 7)
  }

  test("dedupIncrementBucketed == dedupIncrementWithIndex; corpus rows never shuffle") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val b = graft.functions.Hashing.hash64(concat(lit("upd:"), col("text"))) % 10
    val corpus = docs.filter(b < 8)
    val inc = docs.filter(b >= 8)
    val idx = Dedup.buildDedupIndex(corpus, "doc_id", "text")
    Dedup.saveDedupServeTables(idx, "graft_serve_t", buckets = 4)
    val plainRes = Dedup
      .dedupIncrementWithIndex(idx, inc, "doc_id", "text")
      .as[Long].collect().sorted
    // AQE off so the executed plan is a plain walkable tree (query stages
    // hide their subtrees behind leaf nodes); broadcast off so the
    // co-located sort-merge path is what's exercised and pinned.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val res = Dedup.dedupIncrementBucketed(spark, "graft_serve_t", inc, "doc_id", "text")
      assert(res.as[Long].collect().sorted.sameElements(plainRes))
      val root = res.queryExecution.executedPlan
      // The invariant the layout buys: RAW corpus rows never pass an
      // Exchange — below every Exchange, any path that reaches a serve-
      // table scan must cross a join first (post-join rows are candidate-
      // bounded, the batch's own size class, and may shuffle freely).
      def rawCorpusScanBelow(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
        case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
        case leaf if leaf.children.isEmpty => leaf.toString.contains("graft_serve_")
        case other => other.children.exists(rawCorpusScanBelow)
      }
      val exchanges = root.collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }
      assert(exchanges.nonEmpty, "expected the batch side to shuffle (plan shape changed?)")
      exchanges.foreach { e =>
        assert(!rawCorpusScanBelow(e.child), s"corpus rows passed through an Exchange:\n${e.treeString}")
      }
      // and the bucketing must actually be exploited, not planned away
      val pStr = root.toString
      assert("Bucketed: true".r.findAllMatchIn(pStr).size >= 3,
        s"all three corpus scans must read bucketed:\n$pStr")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("publishDedupServeTables stamps the served generation; staleness is observable") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_pubserve").toString
    Dedup.saveDedupIndex(Dedup.buildDedupIndex(docs.filter($"doc_id" % 2 === 0), "doc_id", "text"), dir)
    Dedup.writeDedupManifest(spark, dir) // gen 0
    assert(Dedup.publishDedupServeTables(spark, dir, "graft_pub_t", buckets = 2) == 0L)
    assert(Dedup.dedupServeGeneration(spark, "graft_pub_t").contains(0L))
    // the chain advances (a batch lands and commits gen 1); the serving
    // layout still claims gen 0 — staleness is head minus stamp, observable
    Dedup.appendDedupIndex(
      Dedup.buildDedupIndex(docs.filter($"doc_id" % 2 === 1), "doc_id", "text"), dir, batchId = Some(0L))
    Dedup.commitDedupBatchToManifest(spark, dir, 0L)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Dedup.listDedupGens(fs, dir).max == 1L)
    assert(Dedup.dedupServeGeneration(spark, "graft_pub_t").contains(0L))
    // a re-publish catches the layout up to the head
    assert(Dedup.publishDedupServeTables(spark, dir, "graft_pub_t", buckets = 2) == 1L)
    assert(Dedup.dedupServeGeneration(spark, "graft_pub_t").contains(1L))
    // a raw saveDedupServeTables layout claims no generation
    Dedup.saveDedupServeTables(
      Dedup.buildDedupIndex(docs.filter($"doc_id" % 2 === 0), "doc_id", "text"), "graft_pub_raw", buckets = 2)
    assert(Dedup.dedupServeGeneration(spark, "graft_pub_raw").isEmpty)
  }

  test("refreshDedupServe: corpus rewrite only at the staleness bound, no-op below it") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_refresh").toString
    Dedup.saveDedupIndex(Dedup.buildDedupIndex(docs.filter($"doc_id" % 3 === 0), "doc_id", "text"), dir)
    Dedup.writeDedupManifest(spark, dir) // gen 0
    // never-published -> always refresh
    assert(Dedup.refreshDedupServe(spark, dir, "graft_refresh_t", maxStaleGens = 2, buckets = 2).contains(0L))
    // one committed batch: staleness 1 < bound 2 -> the no-op, layout untouched
    Dedup.appendDedupIndex(
      Dedup.buildDedupIndex(docs.filter($"doc_id" % 3 === 1), "doc_id", "text"), dir, batchId = Some(0L))
    Dedup.commitDedupBatchToManifest(spark, dir, 0L) // gen 1
    assert(Dedup.refreshDedupServe(spark, dir, "graft_refresh_t", maxStaleGens = 2, buckets = 2).isEmpty)
    assert(Dedup.dedupServeGeneration(spark, "graft_refresh_t").contains(0L))
    // a second batch: staleness 2 reaches the bound -> republish at the head
    Dedup.appendDedupIndex(
      Dedup.buildDedupIndex(docs.filter($"doc_id" % 3 === 2), "doc_id", "text"), dir, batchId = Some(1L))
    Dedup.commitDedupBatchToManifest(spark, dir, 1L) // gen 2
    assert(Dedup.refreshDedupServe(spark, dir, "graft_refresh_t", maxStaleGens = 2, buckets = 2).contains(2L))
    assert(Dedup.dedupServeGeneration(spark, "graft_refresh_t").contains(2L))
    // A DANGLING head — the in-memory catalog lost the tables across a
    // session restart while the head file persisted in the warehouse
    // (or an externally-dropped/torn layout) — serves NOTHING: the
    // refresh must republish even though the head claims the chain head,
    // and the republished layout must resolve again.
    val layout = Dedup.resolveDedupServe(spark, "graft_refresh_t")
    Seq(layout.bands, layout.sigs, layout.hashes).foreach(t => spark.sql(s"DROP TABLE $t"))
    intercept[IllegalArgumentException] {
      Dedup.dedupIncrementBucketed(spark, "graft_refresh_t",
        docs.limit(1).withColumn("doc_id", $"doc_id" + 900000000L), "doc_id", "text")
    }
    assert(Dedup.refreshDedupServe(spark, dir, "graft_refresh_t", maxStaleGens = 2, buckets = 2).contains(2L),
      "a dangling head must refresh regardless of its stamped generation")
    assert(Dedup.resolveDedupServe(spark, "graft_refresh_t").gen.contains(2L))
  }

  test("refreshDedupServe: a fresh LEGACY headless layout no-ops; its plain tables retire after a versioned publish supersedes them") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_legacyserve").toString
    Dedup.saveDedupIndex(Dedup.buildDedupIndex(docs.filter($"doc_id" % 3 === 0), "doc_id", "text"), dir)
    Dedup.writeDedupManifest(spark, dir) // gen 0
    // The PRE-HEAD protocol: plain tables + the servedGeneration stamp on
    // sigs — exactly what the original publish wrote before the pointer
    // swap existed.
    Dedup.saveDedupServeTables(Dedup.loadDedupIndexSnapshot(spark, dir), "graft_legacy_t", buckets = 2)
    spark.sql(s"ALTER TABLE graft_legacy_t_sigs SET TBLPROPERTIES ('${Dedup.ServeGenProp}' = '0')")
    assert(Dedup.dedupServeGeneration(spark, "graft_legacy_t").contains(0L))
    // Fresh legacy layout AT the chain head: the refresh must read the
    // legacy stamp and no-op — not call the layout never-published and
    // pay a spurious full corpus republish.
    assert(Dedup.refreshDedupServe(spark, dir, "graft_legacy_t", maxStaleGens = 1, buckets = 2).isEmpty,
      "a fresh legacy headless layout must not pay a spurious corpus republish")
    // The chain advances to the bound: the refresh publishes VERSIONED.
    Dedup.appendDedupIndex(
      Dedup.buildDedupIndex(docs.filter($"doc_id" % 3 === 1), "doc_id", "text"), dir, batchId = Some(0L))
    Dedup.commitDedupBatchToManifest(spark, dir, 0L) // gen 1
    assert(Dedup.refreshDedupServe(spark, dir, "graft_legacy_t", maxStaleGens = 1, buckets = 2).contains(1L))
    assert(Dedup.resolveDedupServe(spark, "graft_legacy_t").gen.contains(1L))
    // The superseded plain set survives the headless readers' grace...
    assert(spark.catalog.tableExists("graft_legacy_t_sigs"),
      "the superseded plain layout survives the headless readers' grace window")
    // The retirement grace is anchored on the FIRST head swing (the
    // `since` every head forwards), not on the oldest live head's stamp:
    // a prefix that republishes more often than the grace must still
    // retire the plain layout once the first swing is old enough —
    // otherwise the dead corpus copy leaks forever on exactly the
    // busiest pipelines.
    val headDirL = graft.ops.Lake.managedLocation(spark, "graft_legacy_t__servehead")
    val fsL = headDirL.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Dedup.appendDedupIndex(
      Dedup.buildDedupIndex(docs.filter($"doc_id" % 3 === 2), "doc_id", "text"), dir, batchId = Some(1L))
    Dedup.commitDedupBatchToManifest(spark, dir, 1L) // gen 2
    Dedup.publishDedupServeTables(spark, dir, "graft_legacy_t", buckets = 2) // seq 1
    val seqsL = Dedup.listServeHeads(fsL, headDirL)
    assert(Dedup.readServeHead(fsL, headDirL, seqsL.max).since ==
      Dedup.readServeHead(fsL, headDirL, seqsL.min).since,
      "every publish must FORWARD the first-swing anchor, not restamp it")
    // fresh anchor + default grace: the plain layout is still inside the
    // headless readers' window — spared
    Dedup.vacuumServePublishes(spark, "graft_legacy_t")
    assert(spark.catalog.tableExists("graft_legacy_t_sigs"),
      "a fresh first-swing anchor spares the plain layout at the default grace")
    // an AGED anchor (crafted head forwarding since=1000, the state a
    // busy prefix reaches a day after its first publish) retires the
    // plain layout even though every live head's own stamp is fresh
    val newestL = Dedup.readServeHead(fsL, headDirL, seqsL.max)
    Dedup.commitServeHead(fsL, headDirL,
      newestL.copy(seq = seqsL.max + 1, since = 1000L), Some(seqsL.max))
    Dedup.vacuumServePublishes(spark, "graft_legacy_t")
    Seq("sigs", "bands", "hashes").foreach(sfx =>
      assert(!spark.catalog.tableExists(s"graft_legacy_t_$sfx"),
        s"a superseded plain $sfx table is a dead corpus copy - the vacuum must retire it once the FIRST swing ages"))
    assert(Dedup.resolveDedupServe(spark, "graft_legacy_t").gen.contains(2L),
      "retiring the plain layout must not touch the live publish")
    // A FOREIGN table that merely collides with the plain name carries no
    // ownership stamp: the vacuum must spare it (bucketize's refusal rule).
    spark.range(5).toDF("id").write.saveAsTable("graft_foreignp_t_sigs")
    val dir2 = java.nio.file.Files.createTempDirectory("graft_legacyserve2").toString
    Dedup.saveDedupIndex(Dedup.buildDedupIndex(docs.filter($"doc_id" % 3 === 2), "doc_id", "text"), dir2)
    Dedup.writeDedupManifest(spark, dir2)
    Dedup.publishDedupServeTables(spark, dir2, "graft_foreignp_t", buckets = 2)
    Dedup.vacuumServePublishes(spark, "graft_foreignp_t", graceMs = 0L)
    assert(spark.catalog.tableExists("graft_foreignp_t_sigs") &&
      spark.table("graft_foreignp_t_sigs").count() == 5L,
      "an unstamped foreign table colliding with the plain serve name must survive the vacuum")
    // ...and so must a foreign table that was published by Lake.bucketize
    // for some UNRELATED purpose: the ownership proof is the
    // SERVE-specific stamp, not the generic bucketize one — accepting
    // publishedBy alone would destroy any bucketized table that merely
    // collides with the plain serve name.
    graft.ops.Lake.bucketize(spark.range(7).toDF("id"), "graft_foreignb_t_sigs", Seq("id"), 2)
    val dir3 = java.nio.file.Files.createTempDirectory("graft_legacyserve3").toString
    Dedup.saveDedupIndex(Dedup.buildDedupIndex(docs.filter($"doc_id" % 3 === 2), "doc_id", "text"), dir3)
    Dedup.writeDedupManifest(spark, dir3)
    Dedup.publishDedupServeTables(spark, dir3, "graft_foreignb_t", buckets = 2)
    Dedup.vacuumServePublishes(spark, "graft_foreignb_t", graceMs = 0L)
    assert(spark.catalog.tableExists("graft_foreignb_t_sigs") &&
      spark.table("graft_foreignb_t_sigs").count() == 7L,
      "a bucketize-published foreign table colliding with the plain serve name must survive the vacuum")
    // a RAW headless layout (no legacy generation stamp at all) still
    // retires through the serve-layout stamp its own save writes
    val dir4 = java.nio.file.Files.createTempDirectory("graft_legacyserve4").toString
    Dedup.saveDedupIndex(Dedup.buildDedupIndex(docs.filter($"doc_id" % 3 === 1), "doc_id", "text"), dir4)
    Dedup.writeDedupManifest(spark, dir4)
    Dedup.saveDedupServeTables(Dedup.loadDedupIndexSnapshot(spark, dir4), "graft_rawplain_t", buckets = 2)
    Dedup.publishDedupServeTables(spark, dir4, "graft_rawplain_t", buckets = 2)
    val headDirR = graft.ops.Lake.managedLocation(spark, "graft_rawplain_t__servehead")
    val fsR = headDirR.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seqR = Dedup.listServeHeads(fsR, headDirR).max
    Dedup.commitServeHead(fsR, headDirR,
      Dedup.readServeHead(fsR, headDirR, seqR).copy(seq = seqR + 1, since = 1000L), Some(seqR))
    Dedup.vacuumServePublishes(spark, "graft_rawplain_t")
    assert(!spark.catalog.tableExists("graft_rawplain_t_sigs"),
      "a superseded RAW plain layout must retire via its serve-layout stamp once the anchor ages")
    graft.streaming.EventStream.registerDeleteOnExit(new java.io.File(dir))
    graft.streaming.EventStream.registerDeleteOnExit(new java.io.File(dir2))
    graft.streaming.EventStream.registerDeleteOnExit(new java.io.File(dir3))
    graft.streaming.EventStream.registerDeleteOnExit(new java.io.File(dir4))
  }

  test("readServeHead: the legacy since fallback anchors on the versioned-name tail, immune to a _ts token inside the prefix") {
    import graft.operators.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft_sincetrap")
    val headDir = new org.apache.hadoop.fs.Path(tmp.toString, "heads")
    val fs = headDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(headDir)
    // a PRE-`since` head (the upgrade case) whose PREFIX itself carries a
    // _ts<digits>_ token: the trap is parsing 2024 as the stamp and
    // misdating the anchor to near-epoch — the fallback must read the
    // versioned tail's stamp instead
    val stamp = 1700000000000L
    val props = new java.util.Properties()
    props.setProperty("gen", "3")
    props.setProperty("token", "tok")
    Seq("bands", "sigs", "hashes").foreach(sfx =>
      props.setProperty(sfx, s"corpus_ts2024_x_g3_ts${stamp}_deadbeef_$sfx"))
    val out = fs.create(new org.apache.hadoop.fs.Path(headDir, "serve-0.properties"), true)
    try props.store(out, null)
    finally out.close()
    assert(Dedup.readServeHead(fs, headDir, 0L).since == stamp,
      "the legacy anchor must come from the versioned tail, not the prefix's own _ts token")
    // firstSwingAnchor: a parent RETIRED between the head listing and the
    // read (concurrent publisher + vacuum) falls back to the publish's
    // own stamp — the subsequent commit refuses on fence 1 as spec'd
    // instead of surfacing a raw FileNotFoundException mid-protocol
    assert(Dedup.firstSwingAnchor(fs, headDir, Some(9L), 777L) == 777L,
      "a vanished parent head must fall back to the publish stamp")
    assert(Dedup.firstSwingAnchor(fs, headDir, Some(0L), 777L) == stamp,
      "a present parent head forwards its anchor")
    assert(Dedup.firstSwingAnchor(fs, headDir, None, 777L) == 777L,
      "the very first publish stamps the anchor")
    graft.streaming.EventStream.registerDeleteOnExit(tmp.toFile)
  }

  test("AtomicHead: a cleanup IO failure is suppressed onto the protocol refusal, never replacing it") {
    import graft.operators.AtomicHead
    val tmp = java.nio.file.Files.createTempDirectory("graft_athead")
    val raw = new org.apache.hadoop.fs.Path(tmp.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new org.apache.hadoop.fs.Path(tmp.toString, "staged.obj")
    raw.create(staged, true).close()
    // a filesystem whose DELETE fails (an object-store blip during
    // refusal-path hygiene) — the in-flight refusal must still propagate,
    // with the cleanup failure attached as suppressed
    val failingDelete = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
        throw new java.io.IOException("injected cleanup failure")
    }
    val ex = intercept[IllegalStateException] {
      AtomicHead.commit(
        failingDelete,
        staged = staged,
        scratchRoot = staged,
        scratchIsDir = false,
        target = new org.apache.hadoop.fs.Path(tmp.toString, "head-1"),
        headNow = () => Some(5L),
        expectedParent = Some(0L),
        refuseMoved = h => throw new IllegalStateException(s"head moved to $h - retry"),
        existsMsg = "exists",
        renameFailedMsg = "rename failed",
        requireCommitWon = () => (),
      )
    }
    assert(ex.getMessage.contains("head moved"), ex.getMessage)
    assert(ex.getSuppressed.exists(_.getMessage.contains("injected cleanup failure")),
      "the cleanup failure must ride the refusal as suppressed, not replace it")
    // the SUCCESS path with a failing dir cleanup: the head IS published —
    // the commit must report success (stranded stamped scratch is the
    // vacuums' job), not fail a commit readers already resolve
    val scratchDir = new org.apache.hadoop.fs.Path(tmp.toString, "scratch_dir")
    raw.mkdirs(scratchDir)
    val staged2 = new org.apache.hadoop.fs.Path(scratchDir, "payload.obj")
    raw.create(staged2, true).close()
    val target2 = new org.apache.hadoop.fs.Path(tmp.toString, "head-2")
    AtomicHead.commit(
      failingDelete,
      staged = staged2,
      scratchRoot = scratchDir,
      scratchIsDir = true,
      target = target2,
      headNow = () => Some(0L),
      expectedParent = Some(0L),
      refuseMoved = h => throw new IllegalStateException(s"head moved to $h"),
      existsMsg = "exists",
      renameFailedMsg = "rename failed",
      requireCommitWon = () => (),
    )
    assert(raw.exists(target2), "the success-path commit must stand despite the failed scratch delete")
    graft.streaming.EventStream.registerDeleteOnExit(tmp.toFile)
  }

  test("vacuumServePublishes: the inline shallow vacuum skips the warehouse listing; deep maintenance reclaims cross-session dir orphans") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_shallowvac").toString
    Dedup.saveDedupIndex(Dedup.buildDedupIndex(docs.filter($"doc_id" % 3 === 0), "doc_id", "text"), dir)
    Dedup.writeDedupManifest(spark, dir) // gen 0
    Dedup.publishDedupServeTables(spark, dir, "graft_shvac_t", buckets = 2)
    // Cross-session residue: a versioned, aged, DIR-ONLY orphan (its
    // catalog entry died with another session; the warehouse dir and the
    // bucketize sentinel persist).
    val orphanLoc = graft.ops.Lake.managedLocation(spark, "graft_shvac_t_g9_ts1000_deadbeef_sigs")
    val fs = orphanLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(orphanLoc)
    fs.create(new org.apache.hadoop.fs.Path(orphanLoc, graft.ops.Lake.BucketizeSentinel), true).close()
    // A clean publish (no retired head, no catalog orphan) runs the
    // SHALLOW inline vacuum: the O(all-tables) warehouse listing is
    // skipped, so the cross-session dir survives — by design, it is the
    // standalone maintenance cadence's job.
    Dedup.publishDedupServeTables(spark, dir, "graft_shvac_t", buckets = 2)
    assert(fs.exists(orphanLoc),
      "a clean inline publish must not pay the warehouse-root listing for cross-session residue")
    // STEADY STATE: the third publish retires a head (the routine path
    // past keepPublishes) — that is NOT evidence of cross-session
    // residue, and the shallow inline vacuum must STILL skip the
    // warehouse listing (gating on a retired head would re-pay the
    // O(all-tables) listing on every publish forever).
    Dedup.publishDedupServeTables(spark, dir, "graft_shvac_t", buckets = 2)
    assert(fs.exists(orphanLoc),
      "a steady-state publish (one head retired) must still skip the warehouse-root listing")
    // The standalone DEEP vacuum reclaims it.
    Dedup.vacuumServePublishes(spark, "graft_shvac_t")
    assert(!fs.exists(orphanLoc), "the deep maintenance vacuum must reclaim the cross-session dir orphan")
    graft.streaming.EventStream.registerDeleteOnExit(new java.io.File(dir))
  }

  test("atomic serve publish: wholly-old-or-wholly-new, torn publish refuses, head fences, orphan vacuum") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val b = graft.functions.Hashing.hash64(concat(lit("upd:"), col("text"))) % 10
    val dir = java.nio.file.Files.createTempDirectory("graft_atomicpub").toString
    val inc = docs.filter(b >= 8)
    Dedup.saveDedupIndex(Dedup.buildDedupIndex(docs.filter(b < 5), "doc_id", "text"), dir)
    Dedup.writeDedupManifest(spark, dir) // gen 0
    assert(Dedup.publishDedupServeTables(spark, dir, "graft_apub", buckets = 2) == 0L)
    // A reader resolves the CURRENT publish when it builds its plan...
    val oldRes = Dedup.dedupIncrementBucketed(spark, "graft_apub", inc, "doc_id", "text")
    val oldRows = oldRes.as[Long].collect().sorted
    val gen0Sigs = Dedup.resolveDedupServe(spark, "graft_apub").sigs
    // ...the chain advances and a REPUBLISH swings the pointer...
    Dedup.appendDedupIndex(
      Dedup.buildDedupIndex(docs.filter(b >= 5 && b < 8), "doc_id", "text"), dir, batchId = Some(0L))
    Dedup.commitDedupBatchToManifest(spark, dir, 0L)
    assert(Dedup.publishDedupServeTables(spark, dir, "graft_apub", buckets = 2) == 1L)
    // ...and the pre-republish reader still serves WHOLLY gen 0 (the keep
    // window is its grace), while a fresh resolution serves WHOLLY gen 1
    // — never a mixed layout, never a missing table.
    assert(oldRes.as[Long].collect().sorted.sameElements(oldRows))
    val newRows =
      Dedup.dedupIncrementBucketed(spark, "graft_apub", inc, "doc_id", "text").as[Long].collect().sorted
    val expect = Dedup
      .dedupIncrementWithIndex(Dedup.loadDedupIndexSnapshot(spark, dir), inc, "doc_id", "text")
      .as[Long].collect().sorted
    assert(newRows.sameElements(expect))
    assert(!newRows.sameElements(oldRows), "gen 1 serves more corpus, so the drop set must differ")
    // TORN PUBLISH: a table whose stamp disagrees with the head (a crash
    // between saves on a persistent metastore, or doctoring) refuses
    // loudly instead of serving a mixed-generation layout.
    val layout = Dedup.resolveDedupServe(spark, "graft_apub")
    spark.sql(s"ALTER TABLE ${layout.sigs} SET TBLPROPERTIES ('${Dedup.ServeTokenProp}' = 'doctored')")
    val exTorn = intercept[IllegalArgumentException] {
      Dedup.dedupIncrementBucketed(spark, "graft_apub", inc, "doc_id", "text")
    }
    assert(exTorn.getMessage.contains("TORN or doctored"), exTorn.getMessage)
    spark.sql(s"ALTER TABLE ${layout.sigs} SET TBLPROPERTIES ('${Dedup.ServeTokenProp}' = '${layout.token.get}')")
    // HEAD COMMIT FENCES, driven from the losing side (the chains' rule):
    val headDir = graft.ops.Lake.managedLocation(spark, "graft_apub__servehead")
    val fs = headDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seqs = Dedup.listServeHeads(fs, headDir)
    val exF1 = intercept[IllegalStateException] {
      Dedup.commitServeHead(fs, headDir,
        Dedup.ServeHead(seqs.max + 1, 9L, "tok-x", layout.bands, layout.sigs, layout.hashes),
        expectedParent = Some(seqs.max - 1))
    }
    assert(exF1.getMessage.contains("head moved"), exF1.getMessage)
    assert(!fs.listStatus(headDir).exists(_.getPath.getName.startsWith("_head_tmp")),
      "a refused head commit must leave no staged tmp behind (the shared head-commit protocol's hygiene rule)")
    val exF2 = intercept[IllegalArgumentException] {
      Dedup.requireServeHeadCommitWon(fs, headDir, seqs.max, "not-the-winner")
    }
    assert(exF2.getMessage.contains("ANOTHER publisher"), exF2.getMessage)
    // A THIRD publish retires the seq-0 publish (beyond keepPublishes=2):
    // its tables are dropped — the keep window IS the reader grace.
    assert(Dedup.publishDedupServeTables(spark, dir, "graft_apub", buckets = 2) == 1L)
    assert(!spark.catalog.tableExists(gen0Sigs), "the superseded publish's tables must be retired")
    // ORPHAN VACUUM: an unreferenced versioned table with an aged
    // name-stamp (a crashed publish) is swept; a fresh one (a publish
    // staging right now) is spared. Stamps live in the NAME — mtime-free.
    graft.ops.Lake.bucketize(spark.range(3).toDF("id"), "graft_apub_g9_ts1000_deadbeef_sigs", Seq("id"), 2)
    val freshOrphan = s"graft_apub_g9_ts${System.currentTimeMillis()}_cafebabe_sigs"
    graft.ops.Lake.bucketize(spark.range(3).toDF("id"), freshOrphan, Seq("id"), 2)
    Dedup.vacuumServePublishes(spark, "graft_apub")
    assert(!spark.catalog.tableExists("graft_apub_g9_ts1000_deadbeef_sigs"), "aged crashed-publish orphan dies")
    assert(spark.catalog.tableExists(freshOrphan), "fresh staging orphan is spared")
    assert(Dedup.dedupServeGeneration(spark, "graft_apub").contains(1L), "vacuum never touches the live head")
  }

  test("dedupServeDiff: clean publish is empty; stale probes and doctored tables surface rows") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_sdiff").toString
    Dedup.saveDedupIndex(Dedup.buildDedupIndex(docs.filter($"doc_id" % 2 === 0), "doc_id", "text"), dir)
    Dedup.writeDedupManifest(spark, dir) // gen 0
    Dedup.publishDedupServeTables(spark, dir, "graft_sdiff_t", buckets = 2)
    assert(Dedup.dedupServeDiff(spark, dir, "graft_sdiff_t").isEmpty, "a clean publish diffs empty")
    // The chain advances without a republish: the layout stays clean
    // against its OWN stamped generation, and probing it against the new
    // head shows exactly the pending republish's content (the serve-side
    // staleness CONTENT, not just its count).
    Dedup.appendDedupIndex(
      Dedup.buildDedupIndex(docs.filter($"doc_id" % 2 === 1), "doc_id", "text"), dir, batchId = Some(0L))
    Dedup.commitDedupBatchToManifest(spark, dir, 0L) // gen 1
    assert(Dedup.dedupServeDiff(spark, dir, "graft_sdiff_t").isEmpty, "clean vs its own stamped gen")
    val pending = Dedup.dedupServeDiff(spark, dir, "graft_sdiff_t", gen = Some(1L))
    assert(pending.filter($"op" === "index_only").count() > 0, "the un-served batch surfaces as index_only")
    assert(pending.filter($"op" === "serve_only").count() == 0)
    // DOCTOR one serve table: a row the snapshot never produced surfaces,
    // named by table — the content gate behind the stamp checks.
    val layout = Dedup.resolveDedupServe(spark, "graft_sdiff_t")
    spark.sql(s"INSERT INTO ${layout.hashes} VALUES (CAST(-42 AS BIGINT))")
    val rows = Dedup.dedupServeDiff(spark, dir, "graft_sdiff_t").collect()
    assert(rows.length == 1, rows.mkString(","))
    assert(rows.head.getString(0) == "hashes" && rows.head.getString(1) == "serve_only", rows.head.toString)
  }

  test("readManifest: one scan over N category files, category derived from path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest")
    def write(name: String, rows: String): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.writeString(p, s"Country/Region,1/22/20\n$rows")
      p.toString
    }
    val paths = Map(
      "confirmed" -> write("time_series_confirmed.csv", "X,1\nY,2"),
      "deaths" -> write("time_series_deaths.csv", "X,0"),
    )
    val df = Csv.readManifest(spark, paths)
    val got = df.select($"category", $"`Country/Region`").as[(String, String)].collect().toSet
    assert(got == Set(("confirmed", "X"), ("confirmed", "Y"), ("deaths", "X")))
    // all-string schema (DictReader parity)
    assert(df.schema.filter(_.name != "category").forall(_.dataType.typeName == "string"))
  }

  test("strict CSV: a malformed cell fails the scan (E1 parity)") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_badcsv")
    val p = dir.resolve("bad.csv")
    java.nio.file.Files.writeString(p, "id,v\n1,10\nnot_an_int,20\n3,30\n")
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("v", IntegerType)))
    val strict = Csv.readCsvStrict(spark, p.toString, schema)
    intercept[Exception](strict.collect())
  }

  test("HLL sketch: approx_count_distinct within 5% of exact on high-cardinality keys") {
    val li = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
    val r = li
      .agg(
        countDistinct($"l_orderkey").as("exact"),
        approx_count_distinct($"l_orderkey", 0.02).as("approx"),
      )
      .head()
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("Curate default candidate generator is LSH: banded equi-join, no block-quadratic join") {
    import graft.operators.Curate
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    def blockKeyedJoins(cfg: Curate.Config): Int = {
      val plan = Curate.candidatePairs(docs, cfg).queryExecution.optimizedPlan
      plan
        .collect { case j: Join => j }
        .count(_.condition.exists(_.references.exists(a => a.name == "source" || a.name == "block")))
    }
    // default (LSH): every join keys on band structs / candidate ids — a join
    // keyed on the block column is the N²/|blocks| quadratic shape at scale
    assert(blockKeyedJoins(Curate.Config()) == 0, "LSH path must not join on the block column")
    // contrast: the opt-in block variant is exactly the one keyed on it
    assert(blockKeyedJoins(Curate.Config(useLsh = false)) == 1)
  }

  test("star-contraction CC handles a chain that min-label propagation refuses") {
    import graft.operators.Dedup
    // a 1000-node path graph: diameter 999, so min-label needs 999 rounds
    val chain = spark.range(999).selectExpr("id AS src", "id + 1 AS dst")
    intercept[IllegalStateException](Dedup.connectedComponents(chain, maxRounds = 20).count())
    val labels = Dedup.connectedComponentsStar(chain).as[(Long, Long)].collect()
    assert(labels.length == 1000)
    assert(labels.forall(_._2 == 0L), s"single chain must collapse to component 0: ${labels.filter(_._2 != 0L).take(3)}")
    // multiple components + equivalence with min-label on a small graph
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val star = Dedup.connectedComponentsStar(edges).as[(Long, Long)].collect().toMap
    val label = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(star == label, s"star=$star label=$label")
  }

  test("writeBloomFiltered: footer carries a bloom filter for the keyed column only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    val docs = spark.read.parquet(sf() + "/documents.parquet").select($"doc_id", $"source", $"text")
    Lake.writeBloomFiltered(docs, dir, Map("doc_id" -> 500L))
    // footer-level proof, not just a round trip: the column chunk metadata
    // must record a bloom filter for doc_id and none for source
    import scala.jdk.CollectionConverters._
    val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath),
        new org.apache.hadoop.conf.Configuration(),
      )
    )
    try {
      val block = reader.getFooter.getBlocks.get(0)
      val byName = block.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
      assert(byName("doc_id").getBloomFilterOffset >= 0, "doc_id must carry a bloom filter")
      assert(reader.readBloomFilter(byName("doc_id")) != null)
      assert(byName("source").getBloomFilterOffset < 0, "source must not carry one")
    } finally reader.close()
    // read-back correctness under an equality probe (the pruning consumer)
    val probe = docs.select($"doc_id").as[Long].head()
    val got = spark.read.parquet(dir).filter($"doc_id" === probe).count()
    val want = docs.filter($"doc_id" === probe).count()
    assert(got == want && want >= 1)
    // guards: unknown column and bad ndv fail loudly
    intercept[IllegalArgumentException](Lake.writeBloomFiltered(docs, dir, Map("nope" -> 10L)))
    intercept[IllegalArgumentException](Lake.writeBloomFiltered(docs, dir, Map("doc_id" -> 0L)))
  }

  test("writeBloomFiltered: blooms skip most row groups where min/max stats cannot") {
    // the pruning claim, MEASURED at the parquet level (no scheduler noise):
    // scramble doc_id order so every row group's min/max straddles nearly the
    // whole key range (min/max prunes nothing), force many small row groups,
    // then count row groups whose bloom filter admits a probe key — the
    // exact set a footer-reading scan visits.
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom_skip").toString
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
      .select($"doc_id", $"text")
      .orderBy(xxhash64($"doc_id")) // deterministic scramble, kills range pruning
      .coalesce(1)                  // one file => row groups split by block size only
    Lake.writeBloomFiltered(
      docs, dir, Map("doc_id" -> 10000L),
      writeOptions = Map(
        "parquet.block.size" -> (16 * 1024).toString,
        // the writer only checks accumulated size every so many records;
        // tighten it so tiny blocks actually close at the requested size
        "parquet.block.size.row.check.min" -> "20",
        "parquet.block.size.row.check.max" -> "20",
      ),
    )
    import scala.jdk.CollectionConverters._
    val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath),
        new org.apache.hadoop.conf.Configuration(),
      )
    )
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      assert(blocks.size >= 4, s"need multiple row groups to measure pruning, got ${blocks.size}")
      // probe mid-range (doc_ids are dense 1..N): an extreme key would let
      // min/max prune trivially; the middle is where range stats are blind
      val probe = docs.agg(max($"doc_id")).as[Long].head() / 2
      var rangeHits = 0
      var bloomHits = 0
      blocks.foreach { b =>
        val col = b.getColumns.asScala.find(_.getPath.toDotString == "doc_id").get
        val stats = col.getStatistics
        val lo = stats.genericGetMin.asInstanceOf[java.lang.Long]
        val hi = stats.genericGetMax.asInstanceOf[java.lang.Long]
        if (lo <= probe && probe <= hi) rangeHits += 1
        val bf = reader.readBloomFilter(col)
        assert(bf != null, "every row group must carry the doc_id bloom")
        if (bf.findHash(bf.hash(probe))) bloomHits += 1
      }
      // min/max is blind on the scrambled layout; the bloom admits at most a
      // small minority (exactly the groups that might hold the key + fpp)
      info(s"bloom pruning measured: ${blocks.size} row groups, range admits $rangeHits, bloom admits $bloomHits")
      assert(rangeHits == blocks.size, s"scramble failed: range pruned ${blocks.size - rangeHits}")
      assert(bloomHits >= 1, "the true row group must be admitted")
      assert(
        bloomHits * 2 <= blocks.size,
        s"bloom should skip at least half the row groups: $bloomHits of ${blocks.size}",
      )
    } finally reader.close()
  }

  test("adaptive CC dispatches on edge count and both branches label identically") {
    import graft.operators.Dedup
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("src", "dst")
    // threshold above the edge count -> label-prop branch; below -> star
    // branch; the (id, comp = min id) contract must make both labelings
    // identical, and equal to the hand-computed min labels
    val viaLabel = Dedup.connectedComponentsAdaptive(edges, starThreshold = 1000000L)
      .as[(Long, Long)].collect().toMap
    val viaStar = Dedup.connectedComponentsAdaptive(edges, starThreshold = 1L)
      .as[(Long, Long)].collect().toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(viaLabel == want, s"label branch: $viaLabel")
    assert(viaStar == want, s"star branch: $viaStar")
  }

  test("jaccardPairs: oversized block fails loudly instead of running N² silently") {
    import graft.operators.Dedup
    val docs = Seq((1L, "a b", "s"), (2L, "a b", "s"), (3L, "a c", "s")).toDF("doc_id", "text", "source")
    val e = intercept[IllegalStateException](
      Dedup.jaccardPairs(docs, "doc_id", "text", "source", 0.5, maxBlockRows = 2)
    )
    assert(e.getMessage.contains("maxBlockRows") && e.getMessage.contains("minhashNearDupPairs"), e.getMessage)
    // under the cap the same call runs
    val ok = Dedup.jaccardPairs(docs, "doc_id", "text", "source", 0.5, maxBlockRows = 3)
    assert(ok.filter($"id_a" === 1 && $"id_b" === 2).count() == 1)
  }

  test("containmentPairs: catches the excerpt Jaccard misses; oversized block fails loudly") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "a b c d e f g h i j", "s"), // long doc
      (2L, "a b c", "s"), // fully contained excerpt: cont_b = 1.0 but jaccard = 0.3
      (3L, "x y z", "s"),
    ).toDF("doc_id", "text", "source")
    val got = Dedup
      .containmentPairs(docs, "doc_id", "text", "source", threshold = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(got == Seq((1L, 2L, 0.3, 1.0)), got.toString)
    assert(Dedup.jaccardPairs(docs, "doc_id", "text", "source", 0.9).count() == 0)
    val e = intercept[IllegalStateException](
      Dedup.containmentPairs(docs, "doc_id", "text", "source", 0.5, maxBlockRows = 2)
    )
    assert(e.getMessage.contains("maxBlockRows"), e.getMessage)
  }

  test("simhashPairs + rotated: low-entropy corpus collapsing into one bucket fails loudly") {
    import graft.operators.Dedup
    // identical boilerplate text -> identical simhash -> ONE prefix bucket
    val docs = (1L to 4L).map(i => (i, "the same boilerplate text")).toDF("doc_id", "text")
    val e = intercept[IllegalStateException](
      Dedup.simhashPairs(docs, "doc_id", "text", maxBucketRows = 3)
    )
    assert(e.getMessage.contains("maxBucketRows") && e.getMessage.contains("simhashPairs"), e.getMessage)
    val er = intercept[IllegalStateException](
      Dedup.simhashPairsRotated(docs, "doc_id", "text", rotations = 2, maxBucketRows = 3)
    )
    assert(er.getMessage.contains("maxBucketRows") && er.getMessage.contains("rot"), er.getMessage)
    // under the cap the same calls run and still find all 6 identical pairs
    assert(Dedup.simhashPairs(docs, "doc_id", "text", maxBucketRows = 4).count() == 6)
    assert(Dedup.simhashPairsRotated(docs, "doc_id", "text", rotations = 2, maxBucketRows = 4).count() == 6)
  }

  test("cooccurrenceEdges: oversized bucket fails loudly instead of running B² silently") {
    import graft.operators.Graph
    val acts = Seq((1L, "A", 1L), (2L, "A", 1L), (3L, "A", 1L), (1L, "B", 2L)).toDF("user", "et", "hr")
    val e = intercept[IllegalStateException](
      Graph.cooccurrenceEdges(acts, "user", Seq("et", "hr"), minSupport = 1, maxBucketRows = 2)
    )
    assert(e.getMessage.contains("maxBucketRows") && e.getMessage.contains("et=A"), e.getMessage)
    // under the cap the same call runs
    val ok = Graph.cooccurrenceEdges(acts, "user", Seq("et", "hr"), minSupport = 1, maxBucketRows = 3)
    assert(ok.count() == 3)
  }

  test("strict casts (E4): ANSI mode crashes on junk like the reference's int()") {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val bad = Seq("12", "abc").toDF("v").select($"v".cast("int"))
      val e = intercept[Exception](bad.collect())
      assert(e.getMessage.contains("CAST_INVALID_INPUT") || e.getCause != null)
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val lax = Seq("12", "abc").toDF("v").select($"v".cast("int").as("v")).as[Option[Int]].collect()
      assert(lax.toSet == Set(Some(12), None))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }
}
