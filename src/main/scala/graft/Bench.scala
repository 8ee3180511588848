package graft
import org.apache.spark.sql.functions.{col, expr}
object Bench {
  // HOST-ERA PROBE: a fixed, dependency-free, single-thread CPU loop
  // (~0.2-0.5 s of pure xorshift arithmetic — no allocation, no I/O, no
  // Spark) timed before and after the query loop and written into the
  // `queries` map as `probe_host_cpu_pre` / `probe_host_cpu_post`. This
  // host is a microVM whose effective CPU speed swings 1.3-2x between
  // (and within) bench takes with code unchanged; two rounds of takes
  // have needed hand adjudication of 3-8x per-query spikes on untouched
  // code. The probe makes the era a RECORDED FACT of each artifact: a
  // take whose probe values differ from another's by 1.5x is comparing
  // different machines. Probe entries are EXCLUDED from the total (the
  // same rule as errored queries' -1 entries) so totals stay comparable
  // with every prior round's artifact.
  private def hostProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 150000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    // Data dependence on stderr (never taken): keeps the loop un-elidable.
    if (x == 42L) System.err.println("probe")
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // One-line diagnosis on regenerated testdata instead of per-query errors.
    Tables.assertTestdataSchema(spark, sfDir)
    System.err.println(s"[bench] testdata schema probe OK for $sfDir")
    // JVM/codegen/parquet-reader warmup so the first timed query doesn't
    // absorb session startup (measured ~3s on the first action otherwise).
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Streaming-engine warmup: the FIRST streaming query in a JVM absorbs
    // ~5 s of one-time MicroBatchExecution / state-store / streaming-codegen
    // init (measured: q65 solo 12 s cold vs ~7 s after any prior streaming
    // query). Which bench query paid that tax depended on Map iteration
    // order, which shifts whenever queries are added — the r6→r7 "3×
    // streaming regressions" were exactly this tax moving between queries.
    // Run one tiny stateful AvailableNow query so no timed query pays it.
    try {
      import org.apache.spark.sql.streaming.Trigger
      val tiny = spark.range(10).selectExpr(
        "timestamp_seconds(1700000000 + id * 60) as ts", "id % 3 as k", "id as v")
      val dir = Harness.tempDir("graft_bench_warm")
      tiny.write.mode("overwrite").parquet(dir.toString)
      val q = spark.readStream.schema(tiny.schema).parquet(dir.toString)
        .withWatermark("ts", "1 minute")
        .groupBy(expr("window(ts, '5 minutes')"), col("k"))
        .agg(expr("sum(v) as s"))
        .writeStream.format("memory").queryName("graft_bench_warm")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.sql("DROP TABLE IF EXISTS graft_bench_warm")
      // The stream-stream symmetric hash join is a separate stateful
      // operator with its own first-use cost — warm it too.
      val l = spark.readStream.schema(tiny.schema).parquet(dir.toString)
        .withWatermark("ts", "1 minute").toDF("lts", "lk", "lv")
      val r = spark.readStream.schema(tiny.schema).parquet(dir.toString)
        .withWatermark("ts", "1 minute").toDF("rts", "rk", "rv")
      val qj = l.join(r, expr("lk = rk AND rts BETWEEN lts AND lts + interval 5 minutes"))
        .writeStream.format("memory").queryName("graft_bench_warm_join")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      qj.awaitTermination()
      spark.sql("DROP TABLE IF EXISTS graft_bench_warm_join")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    } catch { case scala.util.control.NonFatal(_) => () }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Optional comma-separated query-name filter for targeted re-measurement
    // (e.g. re-running a regression cluster at matched machine state without
    // paying for the full suite). Unset/empty = all queries, the driver path.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    val probePre = hostProbe()
    // Reading the numbers: the streaming-parity queries (q33, q51, q53, q62)
    // time a REAL AvailableNow streaming run — temp-parquet write, ordered
    // microbatches, state store — so most of their seconds are harness
    // materialization proving stream==batch, not plan cost.
    val timed = selected.map { case (name, fn) =>
      // Hash every output column (Harness.hashAll), so the timing measures
      // what the correctness gate verifies.
      def once(): Double = {
        val t0 = System.nanoTime()
        Harness.hashAll(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      try {
        // The streaming one-shots ride MicroBatchExecution scheduling +
        // state-store init, which swings 2-3.5× run-to-run with code
        // unchanged (r10 idle: q65 2.77↔9.53 s on identical plans). Their
        // plan cost is what the bench should report, so they are timed
        // min-of-2 — the second run reuses a warm scheduler and the min is
        // the reproducible number. Batch queries stay single-shot.
        val secs = if (name.contains("_stream_")) math.min(once(), once()) else once()
        name -> secs
      } catch {
        case e: Throwable =>
          // A failed query must be visible in the artifact (value -1, an
          // errors entry, non-zero exit) — never folded into the total.
          errors(name) = (e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200))
            .replaceAll("[\"\\\\]", "'")
            .replaceAll("\\p{Cntrl}", " ")
          name -> -1.0
      } finally {
        // BETWEEN-QUERY state release (outside every timed region; the
        // timing methodology above is unchanged). Operators truncate
        // lineage via localCheckpoint, whose blocks stay pinned until GC +
        // ContextCleaner get around to them — across 293 queries in one
        // JVM that backlog is live heap, and it was measurably taxing
        // late-suite queries (r21: q231 30.5 s in-suite vs 11.9 s solo,
        // q264 18.9 vs 4.5, on identical plans — same mechanism as the
        // r20 ScaleBench GCLocker crash, below the crash threshold).
        // Synchronous, the r20 lesson: an async release is a removal
        // backlog that is still live heap when the next query's
        // allocation spike arrives.
        try spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    val probePost = hostProbe()
    // Probe entries ride the queries map (additive; consumers diffing
    // per-query times see them as two more named rows) but are NOT queries:
    // `total` below sums `timed` only.
    val results = timed ++ Seq("probe_host_cpu_pre" -> probePre, "probe_host_cpu_post" -> probePost)
    // Seconds rounded to 1 ms: halves the JSON line length (the round-5
    // artifact was truncated mid-line when scraped from sbt stdout) without
    // losing anything a benchmark comparison can use.
    // Locale.ROOT: the f-interpolator uses the JVM default locale, which on
    // comma-decimal locales (de_DE, fr_FR) would render 0,781 — invalid JSON.
    def r3(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = timed.collect { case (_, v) if v >= 0 => v }.sum
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    // Belt-and-braces: persist the line to a file too, so a truncated stdout
    // scrape can always be reconstructed from the run itself.
    // pid-unique default: a fixed shared path would let concurrent runs
    // clobber each other's artifact (same rule as writeTemp's unique dirs).
    // The legacy stable path is ALSO written (best-effort) so any consumer
    // of the old default keeps working; the pid file is the authoritative
    // copy for this run.
    val outPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_OUT",
      s"/tmp/graft_bench_${ProcessHandle.current().pid()}.json",
    )
    // BENCH_SUMMARY.json in the repo root is the stdout-independent copy:
    // a driver (or a human) that misses the stdout line can always read
    // the full per-query artifact from the repo itself. The root resolves
    // at runtime (env override, else the launch cwd — sbt runs from the
    // checkout) so the write works on any checkout location, not just
    // this container's /root/repo.
    val repoRoot = sys.env.getOrElse("SPARK_GRAFT_REPO_ROOT", sys.props.getOrElse("user.dir", "."))
    for (p <- Seq(outPath, "/tmp/graft_bench_last.json",
                  s"$repoRoot/BENCH_SUMMARY.json").distinct) {
      try {
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line + "\n")
        System.err.println(s"[bench] artifact written to $p")
      } catch { case _: java.io.IOException => () }
    }
    // A stop-time teardown exception must not eat the result lines below —
    // but only a NON-fatal one: an OutOfMemoryError here means the run is
    // broken and must not print a success-looking summary.
    try spark.stop()
    catch { case scala.util.control.NonFatal(e) => System.err.println(s"[bench] spark.stop failed: ${e.getMessage}") }
    // Two stdout lines, full map FIRST, compact summary LAST. The full
    // per-query line outgrew the driver's tail-capture buffer at 124 queries
    // (three rounds of parsed:null artifacts), so the LAST line — the one a
    // tail scrape is guaranteed to see whole — is a short fixed-size summary
    // (~150 bytes), and the full map rides on the preceding line plus the
    // file artifacts above for anything that wants per-query times.
    println(line)
    // Error VALUES here are exception class names only — full messages are
    // on the preceding line and in the file artifacts; keeping the last line
    // bounded matters more than inlining 200-char messages into it.
    val errNames = errors.map { case (k, v) => s"\"" + k + "\":\"" + v.takeWhile(_ != ':') + "\"" }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${timed.size},"errors":$errNames,"sf":"$sfDir"}"""
    println(compact)
    if (errors.nonEmpty) {
      System.err.println(s"BENCH FAILED: ${errors.size} queries errored: ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
