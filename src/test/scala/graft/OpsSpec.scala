package graft

import graft.ops._
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Unit tests for the individual ops: column classification, date-name
  * normalization (Python %y pivot parity), melt/renest round-trip, first-match
  * determinism, sinks (partition layout + per-record filenames).
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("Normalize.classify splits date/latlong/other preserving order") {
    val cls = Normalize.classify(Seq("Province/State", "Country/Region", "Lat", "Long", "1/22/20", "12/31/21"))
    assert(cls.dateCols == Seq("1/22/20", "12/31/21"))
    assert(cls.latLong == Seq("Lat", "Long"))
    assert(cls.other == Seq("Province/State", "Country/Region"))
  }

  test("Normalize.normalizeDateName: Python %y pivot (69->1969, 68->2068), leap day") {
    assert(Normalize.normalizeDateName("1/22/20") == "2020-01-22 00:00:00")
    assert(Normalize.normalizeDateName("2/29/20") == "2020-02-29 00:00:00")
    assert(Normalize.normalizeDateName("12/31/69") == "1969-12-31 00:00:00")
    assert(Normalize.normalizeDateName("1/1/68") == "2068-01-01 00:00:00")
    assert(Normalize.normalizeDateName("1/1/95") == "1995-01-01 00:00:00")
  }

  test("melt + renest round-trips to the projection nest") {
    val wide = Seq(("a", "1", "2"), ("b", "3", "4")).toDF("k", "1/22/20", "1/23/20")
    val nested = Unpivot.nest(wide, Seq("1/22/20", "1/23/20"))
    val viaLong = Unpivot.renest(
      Unpivot.meltDates(wide),
      keyCols = Seq("k"),
      orderCol = "date",
      valueCols = Seq("value"),
    )
    val a = nested.select($"k", $"time_series").collect().map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    val b = viaLong.select($"k", $"time_series").collect().map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
    assert(a.keySet == b.keySet)
    // Same (date, value) sequence in chronological order via both paths.
    assert(a.mapValues(_.toString).toMap == b.mapValues(_.toString).toMap)
  }

  test("Enrich.firstMatch keeps the first row per key by the order column") {
    val lookup = Enrich.withFileOrder(
      Seq(("k1", "first"), ("k1", "second"), ("k2", "only")).toDF("key", "val")
    )
    val got = Enrich
      .firstMatch(lookup, Seq("key"), "__row_id")
      .select($"key", $"val")
      .as[(String, String)]
      .collect()
      .toMap
    assert(got == Map("k1" -> "first", "k2" -> "only"))
  }

  test("Sink.partitionedJson writes Hive-style type= layout; nulls omitted") {
    val dir = SparkSpec.tempDir("graft_sink").toString
    val df = Seq(("x", Some(1)), ("y", None)).toDF("name", "opt")
    Sink.partitionedJson(df, "confirmed", dir)
    val typeDir = new java.io.File(s"$dir/type=confirmed")
    assert(typeDir.isDirectory, s"expected $typeDir")
    val back = spark.read.json(dir)
    assert(back.count() == 2)
    assert(back.columns.toSet == Set("name", "opt", "type"))
    // absent-key behavior: the row with null opt serializes without the field
    val raw = Files.list(typeDir.toPath).toArray.map(_.toString).filter(_.endsWith(".json"))
    val lines = raw.flatMap(p => scala.io.Source.fromFile(p).getLines())
    assert(lines.exists(l => l.contains(""""name":"y"""") && !l.contains("opt")))
  }

  test("Sink.writePerRecord: data-derived filenames via foreachPartition") {
    val dir = SparkSpec.tempDir("graft_rec").toString
    val df = Seq(("Freedonia", ""), ("Sylvania", "North"))
      .toDF("country/region", "province/state")
      .withColumn("key", Pipelines.recordKey("confirmed"))
      .withColumn("json", to_json(struct(col("`country/region`"))))
    val n = Sink.writePerRecord(df, "key", "json", new Sink.LocalFsWriter(dir))
    assert(n == 2)
    assert(new java.io.File(s"$dir/type=confirmed/Freedonia.json").exists())
    assert(new java.io.File(s"$dir/type=confirmed/Sylvania-North.json").exists())
  }

  test("Lake: explicit schema skips inference; partition column still discovered") {
    import org.apache.spark.sql.types._
    val dir = SparkSpec.tempDir("graft_lake_schema").toString
    Seq(("a", 1, "confirmed"), ("b", 2, "deaths"))
      .toDF("name", "v", "type")
      .write.partitionBy("type").mode("overwrite").json(dir)
    // schema omits the partition column -> discovery appends it
    val s1 = StructType(Seq(StructField("name", StringType), StructField("v", LongType)))
    val df1 = Lake.readPartitioned(spark, dir, Some(s1))
    assert(df1.columns.toSeq == Seq("name", "v", "type"))
    assert(df1.filter(col("type") === "deaths").count() == 1)
    // schema includes the partition column -> honored, no duplicate
    val s2 = s1.add(StructField("type", StringType))
    val df2 = Lake.readPartitioned(spark, dir, Some(s2))
    assert(df2.columns.toSeq == Seq("name", "v", "type"))
    assert(df2.select("type").distinct().count() == 2)
    // registerTable threads the schema through to the SQL surface
    Lake.registerTable(spark, dir, "lake_s", Some(s1))
    assert(spark.sql("SELECT sum(v) FROM lake_s WHERE type = 'confirmed'").head().getLong(0) == 1L)
  }

  test("Lake: partition discovery recovers type column; SQL surface works") {
    val dir = SparkSpec.tempDir("graft_lake").toString
    // dynamic partition overwrite: per-category writes must NOT truncate
    // each other (K3 idempotent daily re-run is per category)
    Sink.partitionedJson(Seq(("a", 1), ("b", 2)).toDF("name", "v"), "confirmed", dir)
    Sink.partitionedJson(Seq(("x", 9)).toDF("name", "v"), "deaths", dir)
    Sink.partitionedJson(Seq(("c", 3)).toDF("name", "v"), "deaths", dir) // re-run replaces deaths only
    Lake.registerTable(spark, dir, "lake")
    val got = spark.sql("SELECT type, count(*) n, sum(v) s FROM lake GROUP BY type ORDER BY type")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("confirmed", 2L, 3L), ("deaths", 1L, 3L)))
  }

  test("dedup index: save/load round-trip; index path ≡ recompute path; disjoint-id guard") {
    import graft.operators.Dedup
    val ex = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
    ).toDF("doc_id", "text")
    val inc = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (11L, "my box pack with five dozen liquor jugs"), // token-set dup of 2 (reordered)
      (12L, "sphinx of black quartz judge my vow"), // novel
    ).toDF("doc_id", "text")
    val idx = Dedup.buildDedupIndex(ex, "doc_id", "text")
    val dir = SparkSpec.tempDir("graft_dedup_idx").resolve("index").toString
    Dedup.saveDedupIndex(idx, dir)
    val loaded = Dedup.loadDedupIndex(spark, dir)
    assert(loaded.collect().toSet == idx.collect().toSet) // parquet round-trip is lossless
    val viaIndex = Dedup.dedupIncrementWithIndex(loaded, inc, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    val direct = Dedup.dedupIncrement(ex, inc, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(viaIndex == direct && viaIndex == Set(12L), s"viaIndex=$viaIndex direct=$direct")
    // loading with a mismatched k names the problem
    val eK = intercept[IllegalArgumentException](Dedup.loadDedupIndex(spark, dir, k = 16))
    assert(eK.getMessage.contains("mh8"), eK.getMessage)
    // extra columns are rejected too (the downstream union is positional)
    val dirX = SparkSpec.tempDir("graft_dedup_idx_x").resolve("index").toString
    Dedup.saveDedupIndex(idx.withColumn("junk", lit(1)), dirX)
    val eX = intercept[IllegalArgumentException](Dedup.loadDedupIndex(spark, dirX))
    assert(eX.getMessage.contains("junk"), eX.getMessage)
    // shared ids across sides fail loudly instead of mis-orienting pairs
    val eId = intercept[IllegalStateException](Dedup.dedupIncrement(ex, ex, "doc_id", "text"))
    assert(eId.getMessage.contains("BOTH sides"), eId.getMessage)
    // append: build(A) + append(B) loads as exactly index(A ∪ B)
    val more = Seq((20L, "how vexingly quick daft zebras jump")).toDF("doc_id", "text")
    Dedup.appendDedupIndex(Dedup.buildDedupIndex(more, "doc_id", "text"), dir)
    assert(
      Dedup.loadDedupIndex(spark, dir).collect().toSet ==
        (idx.collect().toSet ++ Dedup.buildDedupIndex(more, "doc_id", "text").collect().toSet)
    )
    // a different-k append is refused BEFORE writing (heterogeneous files
    // would read back with NULL mh columns -> silent under-dedup)
    val eA = intercept[IllegalArgumentException](
      Dedup.appendDedupIndex(Dedup.buildDedupIndex(more, "doc_id", "text", k = 4), dir)
    )
    assert(eA.getMessage.contains("appendDedupIndex") && eA.getMessage.contains("mh4"), eA.getMessage)
  }

  test("compactDedupIndex: file count drops, dedup output identical, swap leaves no debris") {
    import graft.operators.Dedup
    val docs = (1L to 40L).map(i => (i, s"document number $i with shared filler words")).toDF("doc_id", "text")
    val inc = Seq(
      (101L, "document number 7 with shared filler words"), // near/exact dup of 7
      (102L, "an entirely novel zebra sentence"),
    ).toDF("doc_id", "text")
    val dir = SparkSpec.tempDir("graft_dedup_cmp").resolve("index").toString
    // ten appended batches -> many small files
    Dedup.saveDedupIndex(Dedup.buildDedupIndex(docs.filter($"doc_id" <= 4), "doc_id", "text"), dir)
    (1 to 9).foreach { b =>
      Dedup.appendDedupIndex(
        Dedup.buildDedupIndex(docs.filter($"doc_id" > b * 4 && $"doc_id" <= (b + 1) * 4), "doc_id", "text"),
        dir,
      )
    }
    def parquetFiles() = Option(new java.io.File(dir).listFiles()).get.count(_.getName.endsWith(".parquet"))
    val before = parquetFiles()
    assert(before >= 10, s"expected >=10 files from 10 writes, got $before")
    val preCompact = Dedup.loadDedupIndex(spark, dir).collect().toSet
    val preDedup = Dedup.dedupIncrementWithIndex(Dedup.loadDedupIndex(spark, dir), inc, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    Dedup.compactDedupIndex(spark, dir, targetFiles = 1)
    assert(parquetFiles() == 1, s"expected 1 file post-compaction, got ${parquetFiles()}")
    assert(Dedup.loadDedupIndex(spark, dir).collect().toSet == preCompact) // compaction is content-lossless
    val postDedup = Dedup.dedupIncrementWithIndex(Dedup.loadDedupIndex(spark, dir), inc, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(postDedup == preDedup && postDedup == Set(102L), s"pre=$preDedup post=$postDedup")
    // no stray swap dirs left behind
    val siblings = Option(new java.io.File(dir).getParentFile.listFiles()).get.map(_.getName).toSet
    assert(!siblings.exists(n => n.contains("compacting") || n.contains("precompact")), siblings.toString)
  }

  test("dedup index batch landings: replay converges, watermark splits compaction, unfenced refusal") {
    import graft.operators.Dedup
    val docs = (1L to 40L).map(i => (i, s"document number $i with shared filler words")).toDF("doc_id", "text")
    val dir = SparkSpec.tempDir("graft_dedup_batch").resolve("index").toString
    Dedup.saveDedupIndex(Dedup.buildDedupIndex(docs.filter($"doc_id" <= 20), "doc_id", "text"), dir)
    val b0 = Dedup.buildDedupIndex(docs.filter($"doc_id" > 20 && $"doc_id" <= 30), "doc_id", "text")
    val b1 = Dedup.buildDedupIndex(docs.filter($"doc_id" > 30), "doc_id", "text")
    Dedup.appendDedupIndex(b0, dir, batchId = Some(0L))
    Dedup.appendDedupIndex(b1, dir, batchId = Some(1L))
    val full = Dedup.loadDedupIndex(spark, dir).collect().toSet
    assert(full.size == 40, s"40 docs indexed, got ${full.size}")
    // a replayed landing (crash between landing and checkpoint commit)
    // converges to the identical state — never double rows
    Dedup.appendDedupIndex(b1, dir, batchId = Some(1L))
    assert(Dedup.loadDedupIndex(spark, dir).collect().toSet == full)
    assert(Dedup.loadDedupIndex(spark, dir).count() == 40L)
    // rewriting batch landings with NO watermark is a loud refusal
    val e = intercept[IllegalArgumentException](Dedup.compactDedupIndex(spark, dir, targetFiles = 1))
    assert(e.getMessage.contains("minRetainedBatchId"), e.getMessage)
    // the watermark splits: batch 0 (checkpoint-committed) compacts,
    // batch 1 keeps its replay names
    Dedup.compactDedupIndex(spark, dir, targetFiles = 1, minRetainedBatchId = Some(1L))
    def files(prefix: String) =
      Option(new java.io.File(dir).listFiles()).get.count(_.getName.startsWith(prefix))
    assert(files("batch0-") == 0, "the fenced batch 0 landing must have been compacted")
    assert(files("batch1-") > 0, "the retained batch 1 landing must keep its replay names")
    assert(Dedup.loadDedupIndex(spark, dir).collect().toSet == full, "compaction is content-lossless")
    // the crash-recovery replay AFTER compaction still converges
    Dedup.appendDedupIndex(b1, dir, batchId = Some(1L))
    assert(Dedup.loadDedupIndex(spark, dir).collect().toSet == full)
    // an ALL-retained index is a legal nightly state: the compactor no-ops
    val dir2 = SparkSpec.tempDir("graft_dedup_batch2").resolve("index").toString
    Dedup.appendDedupIndex(b0, dir2, batchId = Some(5L))
    val pre2 = Dedup.loadDedupIndex(spark, dir2).collect().toSet
    Dedup.compactDedupIndex(spark, dir2, targetFiles = 1, minRetainedBatchId = Some(5L))
    assert(Dedup.loadDedupIndex(spark, dir2).collect().toSet == pre2)
    assert(files("batch1-") > 0 && Option(new java.io.File(dir2).listFiles()).get
      .count(_.getName.startsWith("batch5-")) > 0, "a no-op pass must leave the retained landing untouched")
  }

  test("dedup manifest: lifecycle, snapshot isolation, mode-twin refusals, post-compaction replay") {
    import graft.operators.Dedup
    val docs = (1L to 40L).map(i => (i, s"document number $i with shared filler words")).toDF("doc_id", "text")
    val dir = SparkSpec.tempDir("graft_dedup_manifest").resolve("index").toString
    Dedup.saveDedupIndex(Dedup.buildDedupIndex(docs.filter($"doc_id" <= 20), "doc_id", "text"), dir)
    Dedup.writeDedupManifest(spark, dir) // gen 0
    val eB = intercept[IllegalArgumentException](Dedup.writeDedupManifest(spark, dir))
    assert(eB.getMessage.contains("already has manifest"), eB.getMessage)
    val b0 = Dedup.buildDedupIndex(docs.filter($"doc_id" > 20 && $"doc_id" <= 30), "doc_id", "text")
    val b1 = Dedup.buildDedupIndex(docs.filter($"doc_id" > 30), "doc_id", "text")
    // a landed-but-UNCOMMITTED batch is invisible to snapshot readers
    Dedup.appendDedupIndex(b0, dir, batchId = Some(0L))
    assert(Dedup.loadDedupIndexSnapshot(spark, dir).count() == 20L,
      "an uncommitted landing must be invisible to the snapshot")
    Dedup.commitDedupBatchToManifest(spark, dir, 0L) // gen 1
    assert(Dedup.loadDedupIndexSnapshot(spark, dir).count() == 30L)
    Dedup.appendDedupIndex(b1, dir, batchId = Some(1L))
    Dedup.commitDedupBatchToManifest(spark, dir, 1L) // gen 2
    val full = Dedup.loadDedupIndexSnapshot(spark, dir).collect().toSet
    assert(full.size == 40)
    // the mode twins refuse each other's layout
    val eP = intercept[IllegalArgumentException](Dedup.appendDedupIndex(b1, dir))
    assert(eP.getMessage.contains("batch-keyed"), eP.getMessage)
    val eL = intercept[IllegalArgumentException](Dedup.loadDedupIndex(spark, dir))
    assert(eL.getMessage.contains("MANIFEST"), eL.getMessage)
    val eC = intercept[IllegalArgumentException](Dedup.compactDedupIndex(spark, dir, targetFiles = 1))
    assert(eC.getMessage.contains("MANIFEST"), eC.getMessage)
    val eM = intercept[IllegalArgumentException](
      Dedup.compactDedupIndexManifest(spark, SparkSpec.tempDir("graft_nomanifest").toString))
    assert(eM.getMessage.contains("bootstrap"), eM.getMessage)
    // unfenced manifest compaction refuses; the watermark splits batches
    val eU = intercept[IllegalArgumentException](
      Dedup.compactDedupIndexManifest(spark, dir, targetFiles = 1))
    assert(eU.getMessage.contains("minRetainedBatchId"), eU.getMessage)
    Dedup.compactDedupIndexManifest(spark, dir, targetFiles = 1, minRetainedBatchId = Some(1L)) // gen 3
    // snapshot isolation THROUGH the compaction: the pre-compaction
    // generation still resolves its exact file set (nothing was deleted)
    assert(Dedup.loadDedupIndexSnapshot(spark, dir, gen = Some(2L)).collect().toSet == full)
    assert(Dedup.loadDedupIndexSnapshot(spark, dir).collect().toSet == full)
    // the retained batch REPLAYS after compaction; its re-commit heals refs
    Dedup.appendDedupIndex(b1, dir, batchId = Some(1L))
    Dedup.commitDedupBatchToManifest(spark, dir, 1L) // gen 4
    assert(Dedup.loadDedupIndexSnapshot(spark, dir).collect().toSet == full,
      "a post-compaction replay + re-commit must converge, never double rows")
    // cleanup retires the superseded worlds; the head keeps serving
    assert(Dedup.cleanupDedupGenerations(spark, dir, keepGens = 1) > 0L)
    assert(Dedup.loadDedupIndexSnapshot(spark, dir).collect().toSet == full)
  }

  test("dedup manifest: orphan sweep spares in-flight gens") {
    import graft.operators.{Dedup, Manifest}
    // orphan sweep on a real index: passed-gen orphans die, ahead-of-head spared
    val docs = (1L to 10L).map(i => (i, s"document number $i with shared filler words")).toDF("doc_id", "text")
    val idx = SparkSpec.tempDir("graft_dedup_orphans").resolve("index").toString
    Dedup.saveDedupIndex(Dedup.buildDedupIndex(docs, "doc_id", "text"), idx)
    Dedup.writeDedupManifest(spark, idx) // gen 0 = the head
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$idx/m0bin-orphan.parquet")).close()
    fs.create(new org.apache.hadoop.fs.Path(s"$idx/m5bin-inflight.parquet")).close()
    val before = Dedup.loadDedupIndexSnapshot(spark, idx).collect().toSet
    val deleted = Dedup.cleanupDedupGenerations(spark, idx, keepGens = 2)
    assert(deleted == 1L, s"exactly the passed-gen orphan dies: $deleted")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/m0bin-orphan.parquet")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/m5bin-inflight.parquet")), "ahead-of-head spared")
    assert(Dedup.loadDedupIndexSnapshot(spark, idx).collect().toSet == before)
    // the scratch sweep is age-gated (the ANN chain's rule): a scratch an
    // op may be staging RIGHT NOW is spared at the default grace,
    // reclaimed once it ages past it (grace 0 here)
    val youngScratch = new org.apache.hadoop.fs.Path(s"$idx/_mcompact_tmp_inflight")
    fs.mkdirs(youngScratch)
    Dedup.cleanupDedupGenerations(spark, idx, keepGens = 2)
    assert(fs.exists(youngScratch), "young scratch spared at default grace")
    Dedup.cleanupDedupGenerations(spark, idx, keepGens = 2, scratchGraceMs = 0L)
    assert(!fs.exists(youngScratch), "grace 0 reclaims crashed-op scratch")
    // The age gate reads the WALL-CLOCK STAMP embedded in the scratch
    // name, not filesystem mtime: an old-stamped scratch with a fresh
    // mtime is reclaimed at the default grace, and a fresh-stamped
    // scratch whose mtime reads epoch 0 (what object stores report for
    // directory entries — the case that would void an mtime gate) is
    // spared.
    // Standing-maintenance tick (the ANN tick's twin): idle below the
    // file bound commits nothing; the committing tick spares the
    // pre-tick head (retention widens by its own commits); the next
    // tick retires the superseded world; content identical throughout.
    val mDocs = (1L to 12L).map(i => (i, s"maintenance doc number $i sharing filler words")).toDF("doc_id", "text")
    val mIdx = SparkSpec.tempDir("graft_dedup_maint").resolve("index").toString
    Dedup.saveDedupIndex(Dedup.buildDedupIndex(mDocs.filter($"doc_id" <= 6), "doc_id", "text"), mIdx)
    Dedup.writeDedupManifest(spark, mIdx) // gen 0
    Dedup.appendDedupIndex(
      Dedup.buildDedupIndex(mDocs.filter($"doc_id" > 6), "doc_id", "text"), mIdx, batchId = Some(0L))
    Dedup.commitDedupBatchToManifest(spark, mIdx, 0L) // gen 1
    def snap() = Dedup.loadDedupIndexSnapshot(spark, mIdx).collect().toSet
    val contentBefore = snap()
    val idleT = Dedup.maintainDedupIndexManifest(spark, mIdx, maxFiles = 1000, minRetainedBatchId = Some(1L))
    assert(!idleT.compacted && Dedup.manifest(spark, mIdx).gens == Seq(0L, 1L), "idle tick must not grow the chain")
    val commitT = Dedup.maintainDedupIndexManifest(spark, mIdx, maxFiles = 2, targetFiles = 1,
      minRetainedBatchId = Some(1L), keepGens = 1)
    assert(commitT.compacted && commitT.filesAfter == 1L, commitT.toString)
    assert(Dedup.manifest(spark, mIdx).gens == Seq(1L, 2L),
      "a committing tick must keep the pre-tick head readable (keepGens counts beyond its own commits)")
    assert(snap() == contentBefore, "maintenance must be content-invisible")
    val nextT = Dedup.maintainDedupIndexManifest(spark, mIdx, maxFiles = 1000, keepGens = 1,
      minRetainedBatchId = Some(1L))
    assert(!nextT.compacted && nextT.sweptFiles > 0L, s"the next tick reclaims the superseded files: $nextT")
    assert(Dedup.manifest(spark, mIdx).gens == Seq(2L))
    assert(snap() == contentBefore)

    val oldStamped = new org.apache.hadoop.fs.Path(s"$idx/_mcompact_tmp_ts1000_crashed")
    fs.mkdirs(oldStamped)
    val freshStamped =
      new org.apache.hadoop.fs.Path(s"$idx/${Manifest.scratchName("_mcompact_tmp", "staging-now")}")
    fs.mkdirs(freshStamped)
    fs.setTimes(freshStamped, 0L, 0L) // simulate the object-store epoch-0 dir mtime
    Dedup.cleanupDedupGenerations(spark, idx, keepGens = 2)
    assert(!fs.exists(oldStamped), "an old-stamped scratch dies at default grace despite a fresh mtime")
    assert(fs.exists(freshStamped), "a fresh-stamped scratch survives an epoch-0 mtime")
  }

  test("dedupChainDiff: batch = added; backward diff = removed; compaction and identity invisible") {
    import graft.operators.Dedup
    val docs = (1L to 20L).map(i => (i, s"chain diff document $i with filler words")).toDF("doc_id", "text")
    val dir = SparkSpec.tempDir("graft_chain_diff").resolve("index").toString
    Dedup.saveDedupIndex(Dedup.buildDedupIndex(docs.filter($"doc_id" <= 12), "doc_id", "text"), dir)
    Dedup.writeDedupManifest(spark, dir) // gen 0
    Dedup.appendDedupIndex(
      Dedup.buildDedupIndex(docs.filter($"doc_id" > 12), "doc_id", "text"), dir, batchId = Some(0L))
    Dedup.commitDedupBatchToManifest(spark, dir, 0L) // gen 1
    def diff(a: Long, b: Long): Map[String, Set[Long]] =
      Dedup.dedupChainDiff(spark, dir, a, b)
        .select($"op", $"id")
        .as[(String, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val fwd = diff(0L, 1L)
    assert(fwd.getOrElse("added", Set.empty) == (13L to 20L).toSet, fwd.toString)
    assert(!fwd.contains("removed"), "a pure batch commit removes nothing")
    val bwd = diff(1L, 0L)
    assert(bwd.getOrElse("removed", Set.empty) == (13L to 20L).toSet, bwd.toString)
    assert(!bwd.contains("added"))
    assert(diff(1L, 1L).isEmpty, "a generation diffs empty against itself")
    // compaction rewrites every file (disjoint sets) yet the CONTENT diff
    // is empty — the cheapest "maintenance changed nothing" gate
    Dedup.compactDedupIndexManifest(spark, dir, targetFiles = 1, minRetainedBatchId = Some(1L)) // gen 2
    assert(diff(1L, 2L).isEmpty, "a manifest compaction must be content-invisible")
    assert(diff(2L, 1L).isEmpty)
    val ex = intercept[IllegalArgumentException](Dedup.dedupChainDiff(spark, dir, 0L, 9L))
    assert(ex.getMessage.contains("generation 9 not in"), ex.getMessage)
  }

  test("connectedComponentsAdaptive: a long-diameter graph escapes the rounds budget to star") {
    import graft.operators.Dedup
    // a 64-node path: diameter 63 — min-label propagation moves the min
    // one hop per round, so the 12-round budget must trip the escape
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val (out, arm) = Dedup.connectedComponentsAdaptiveArm(chain)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(arm == "escaped", s"the 12-round budget must trip on a diameter-63 path: $arm")
    assert(got == (0L to 63L).map(i => (i, 0L)).toSet,
      "the star escape must still label the whole chain comp = min id")
    // the dense near-dup regime (diameter 2) never escapes
    val dense = (1L to 20L).map(i => (0L, i)).toDF("src", "dst")
    val (out2, arm2) = Dedup.connectedComponentsAdaptiveArm(dense)
    val got2 = out2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(arm2 == "labelprop", s"a star graph converges inside the budget: $arm2")
    assert(got2 == (0L to 20L).map(i => (i, 0L)).toSet)
  }
}
