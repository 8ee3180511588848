package graft

import graft.ops.Unpivot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange, REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** Physical-plan assertions — the "would this survive a 100× scale-up"
  * checks: predicate pushdown reaches the parquet scan, column pruning
  * shrinks ReadSchema, dimension joins broadcast, projection operators stay
  * shuffle-free, aggregates are partial (map-side combine), and the hot
  * paths stay inside whole-stage codegen.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** AQE finalizes (and shows WholeStageCodegen spans) only after execution. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf())

  test("q01: filter pushed to parquet scan; only needed columns read") {
    val p = plan(q("q01_project_filter"))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("ReadSchema"), p)
    // pruned: only the 5 referenced columns, not all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_tax"), readSchema)
  }

  test("q07/q18: dimension enrich joins are broadcast, not shuffle") {
    assert(plan(q("q07_firstmatch_enrich")).contains("BroadcastHashJoin"))
    val p18 = plan(q("q18_dim_chain"))
    assert("BroadcastHashJoin".r.findAllIn(p18).length == 2, p18)
    assert(!p18.contains("SortMergeJoin"), "dim chain must not sort-merge")
  }

  test("R1 nest is a pure projection: no exchange, single codegen stage") {
    import spark.implicits._
    val wide = Seq(("a", "1", "2")).toDF("k", "1/22/20", "1/23/20")
    val p = plan(Unpivot.nest(wide, Seq("1/22/20", "1/23/20")))
    assert(!p.contains("Exchange"), s"nest must not shuffle:\n$p")
  }

  // RDD-backed JHU-shaped frame, every cell a string: over a local relation
  // the optimizer would evaluate the date projections away
  // (ConvertToLocalRelation)
  private def wideJhu(dates: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val names = Seq("Province/State", "Country/Region", "Lat", "Long") ++
      (0 until dates).map(i => java.time.LocalDate.of(2020, 1, 22).plusDays(i))
        .map(d => s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear % 100}")
    val row = Row.fromSeq(Seq("", "Freedonia", "1.0", "2.0") ++ Seq.fill(dates)("3"))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(row), 1), StructType(names.map(StructField(_, StringType))))
  }

  private def jhuLookup: DataFrame = {
    import spark.implicits._
    graft.ops.Enrich.withFileOrder(Seq(("Freedonia", "FD", "1.0", "2.0")).toDF("Country_Region", "iso2", "Lat", "Long_"))
  }

  /** The expressions of `p`'s operators. */
  private def exprs(p: LogicalPlan): Seq[Expression] = p.collect { case n if !n.isInstanceOf[LeafNode] => n.expressions }.flatten

  /** Every expression node of `p`'s operators, lambda bodies included. */
  private def allExprs(p: LogicalPlan): Seq[Expression] = exprs(p).flatMap(_.collect { case e => e })

  /** (ArrayTransform, Cast, Coalesce) node counts of `p`. */
  private def castCounts(p: LogicalPlan): (Int, Int, Int) = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Cast, Coalesce}
    val all = allExprs(p)
    (all.count(_.isInstanceOf[ArrayTransform]), all.count(_.isInstanceOf[Cast]), all.count(_.isInstanceOf[Coalesce]))
  }

  test("parser2 plan does not grow with the date columns: one array per measure, one arrays_zip") {
    import org.apache.spark.sql.catalyst.expressions.{ArraysZip, CreateArray, CreateNamedStruct}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.ArrayType
    // every node, a date array counted as one: what must not grow with width
    def size(e: Expression): Int = e match {
      case _: CreateArray => 1
      case _              => 1 + e.children.map(size).sum
    }
    def optimized(dates: Int): LogicalPlan =
      Pipelines.parser2(wideJhu(dates), wideJhu(dates), wideJhu(dates), jhuLookup).queryExecution.optimizedPlan

    val sizes = Seq(20, 400).map { dates =>
      val p = optimized(dates)
      val all = allExprs(p)
      assert(!all.exists(_.isInstanceOf[CreateNamedStruct]), s"per-date struct at $dates dates:\n$p")
      assert(all.count(_.isInstanceOf[ArraysZip]) == 1, s"time_series must be one arrays_zip:\n$p")
      assert(all.collect { case a: CreateArray => a.children.size } == Seq.fill(3)(dates), p)
      val counts = castCounts(p)
      assert(counts._1 == 3, s"one cast lambda per measure at $dates dates:\n$p")
      val joins = p.collect { case j: Join => j }
      val measureJoins = joins.filter(_.right.output.exists(_.dataType.isInstanceOf[ArrayType]))
      assert(measureJoins.size == 2, p)
      for (j <- measureJoins) {
        val (arrays, rest) = j.right.output.partition(_.dataType.isInstanceOf[ArrayType])
        assert(arrays.size == 1 && rest.map(_.name).toSet == Set("Country/Region", "Province/State"), j.right.output)
      }
      for (j <- joins; a <- j.left.output ++ j.right.output)
        assert(!a.name.matches(graft.ops.Normalize.DateColPattern), s"date column ${a.name} crosses a join:\n$p")
      (p.collect { case n if !n.isInstanceOf[LeafNode] => 1 }.sum + exprs(p).map(size).sum, counts)
    }
    assert(sizes.distinct.size == 1, s"(plan nodes outside the date arrays, (transforms, casts, coalesces)): $sizes for 20 vs 400 dates")
  }

  test("parser (nest) plan: one cast lambda, no cast per date") {
    val counts = Seq(20, 400).map { dates =>
      val p = Pipelines.parser(wideJhu(dates), jhuLookup).queryExecution.optimizedPlan
      assert(castCounts(p)._1 == 1, s"one ArrayTransform at $dates dates:\n$p")
      castCounts(p)
    }
    assert(counts.distinct.size == 1, s"(transforms, casts, coalesces): $counts for 20 vs 400 dates")
  }

  test("q09 melt (native unpivot) stays shuffle-free") {
    val p = plan(
      Unpivot.melt(
        spark.read.parquet(sf() + "/lineitem.parquet"),
        Seq("l_orderkey"),
        Seq("l_quantity", "l_tax"),
      )
    )
    assert(!p.contains("Exchange"), s"melt must not shuffle:\n$p")
    assert(p.contains("Expand") || p.contains("Generate"), p)
  }

  test("JSON lake: type= partition pruning reaches the file index (Athena parity)") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_prune").toString
    Seq(("a", 1, "confirmed"), ("b", 2, "deaths"), ("c", 3, "recovered"))
      .toDF("name", "v", "type")
      .write
      .partitionBy("type")
      .mode("overwrite")
      .json(dir)
    val pruned = graft.ops.Lake.readPartitioned(spark, dir).filter(col("type") === "deaths")
    val p = plan(pruned)
    // the filter lands in PartitionFilters (directory-level pruning), not as
    // a data filter evaluated per row
    assert(p.contains("PartitionFilters: [isnotnull(type"), p)
    assert("PartitionFilters: \\[[^\\]]*= deaths".r.findFirstIn(p).nonEmpty, p)
    assert(pruned.count() == 1)
  }

  test("q02 agg is partial (map-side combine) inside whole-stage codegen") {
    val p = finalPlan(q("q02_agg_pricing"))
    assert(p.contains("HashAggregate"), p)
    assert("partial_sum|merge_sum".r.findFirstIn(p).nonEmpty, p)
    // "*(n)" node prefixes mark whole-stage-codegen spans in tree strings
    assert(p.contains("*("), p)
  }

  test("custom expressions keep whole-stage codegen alive") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val p = finalPlan(
      emb
        .limit(20)
        .as("a")
        .crossJoin(emb.limit(20).as("b"))
        .select(graft.functions.CosineSimilarity.cosine(col("a.embedding"), col("b.embedding")).as("s"))
        .filter(col("s") > 0.5)
    )
    assert(p.contains("*("), p)
    assert(!p.contains("CodegenFallback"), p)
  }

  test("q61: LSH near-dup candidates join on signature buckets, never on a data column") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joins = q("q61_cosine_neardup_lsh").queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty)
    // the whole point of the LSH default: no join keyed on a data column
    // (label/block) — those are the sub-quadratic-only-if-you're-lucky plans
    assert(
      !joins.exists(_.condition.exists(_.references.exists(a => a.name == "label" || a.name == "block"))),
      "LSH near-dup must not block on a data column",
    )
  }

  test("q67 packing window is per-shard: hash-partitioned exchange, no global sort") {
    val p = plan(q("q67_pack_sequences"))
    // the cumsum window must partition by shard — a SinglePartition window
    // is the classic sessionization-at-scale mistake (all data to one task)
    assert(p.contains("hashpartitioning(shard"), p)
    assert(!"Exchange SinglePartition.*Window".r.findFirstIn(p.replaceAll("\n", " ")).isDefined, p)
  }

  test("quality metrics / repetition / PII redaction are shuffle-free projections") {
    import graft.functions.TextAnalysis
    import graft.operators.Quality
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val m = Quality.gopherMetrics(col("__toks")).toMap
    val proj = docs
      .withColumn("__toks", TextAnalysis.wsTokens(col("text")))
      .withColumn("__g3", TextAnalysis.wordNgramHashesFromTokens(col("__toks"), 3))
      .select(
        col("doc_id"),
        m("n_words").as("n_words"),
        m("mean_word_len").as("mean_word_len"),
        m("stop_hits").as("stop_hits"),
        TextAnalysis.dupFraction(col("__toks")).as("dup_token_frac"),
        TextAnalysis.dupFraction(col("__g3")).as("dup_gram_frac"),
        TextAnalysis.redactPii(col("text")).as("redacted"),
      )
    val p = plan(proj)
    assert(!p.contains("Exchange"), s"per-doc quality metrics must not shuffle:\n$p")
  }

  test("q76: eval n-gram set joins broadcast — the corpus side never builds a hash table of text") {
    val p = plan(q("q76_decontaminate_score"))
    assert(p.contains("BroadcastHashJoin"), p)
    // the only hash-partitioned exchanges may carry ids/hashes, never text
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text")), exchanges.mkString("\n"))
  }

  test("q69/q75: per-token tables join broadcast (head hint; idf via AQE)") {
    val p69 = plan(q("q69_unigram_surprisal"))
    assert(p69.contains("BroadcastHashJoin"), s"q69 head join must broadcast:\n$p69")
    val p75 = finalPlan(q("q75_tfidf_top_terms"))
    assert(p75.contains("BroadcastHashJoin"), s"q75 idf join should be broadcast at runtime (AQE):\n$p75")
  }

  test("q83 funnel: stacked windows + per-user agg share ONE user exchange") {
    val p = plan(q("q83_funnel"))
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1, s"funnel must shuffle the log once (by user):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), s"funnel must not self-join the log:\n$p")
  }

  test("q82 bm25: stats/idf join broadcast; no sort-merge join of the corpus") {
    val p = finalPlan(q("q82_bm25_topk"))
    assert(!p.contains("SortMergeJoin"), s"bm25 joins tiny per-term tables — must broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    // top-k is a TakeOrdered, not a global sort
    assert(p.contains("TakeOrderedAndProject"), s"bm25 top-k must not full-sort:\n$p")
  }

  test("q87 latest-wins compaction: one shuffle, streamed window filter") {
    val p = plan(q("q87_latest_wins"))
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1, s"compaction is one shuffle by key:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q88 IQR outliers: fence table broadcasts back onto the stream") {
    val p = finalPlan(q("q88_iqr_outliers"))
    assert(p.contains("BroadcastHashJoin"), s"fences are |groups| rows — must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q92/q94/q95: sampler rate / mixture weight / domain verdict tables broadcast back") {
    Seq("q92_balanced_sample", "q94_mixture_epochs", "q95_source_gate").foreach { name =>
      val p = plan(q(name))
      assert(p.contains("BroadcastHashJoin"), s"$name: per-class/source table must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name: the corpus must never shuffle for the tiny side:\n$p")
    }
  }

  test("q96 transitions: ONE pass over the events (single user exchange, no join at all)") {
    val p = plan(q("q96_session_markov"))
    val userEx = p.linesIterator.filter(_.contains("hashpartitioning(user_id")).toSeq
    assert(userEx.size == 1, s"the event log must shuffle once (by user):\n$p")
    // totals are a window over the counts table — a join back would
    // physically re-scan and re-window the whole event log
    assert(!p.contains("Join"), s"no join: totals must ride the counts table:\n$p")
  }

  test("q97 curriculum: fence row broadcasts; assignment is a projection (no per-row shuffle)") {
    val p = plan(q("q97_curriculum"))
    assert(p.contains("BroadcastNestedLoopJoin"), s"the 1-row fence table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q91 basket lift: count tables broadcast under AQE; top-k never global-sorts") {
    val p = finalPlan(q("q91_basket_lift"))
    assert(p.contains("TakeOrderedAndProject"), s"ranked limit must be top-k, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"per-item count tables are dimension-sized — must broadcast:\n$p")
  }

  test("q106 scalable quantiles: per-fraction plan reads ONLY the materialized histogram") {
    val p = plan(q("q106_quantiles_scalable"))
    // the corpus pass collapsed into the truncated |domain|-row histogram at
    // operator-construction time — the fraction plans must never re-scan
    // lineitem; every gather they do is over that tiny RDD
    assert(!p.contains("FileScan"), s"fractions must not re-scan the corpus:\n$p")
    assert(p.contains("Scan ExistingRDD"), s"fractions must read the materialized histogram:\n$p")
  }

  test("GraftExtensions: custom expressions usable from pure SQL") {
    // injection path: applying the extensions object must register cleanly
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    // functions registry is per-session; register directly on the test session
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity",
      exprs => graft.functions.CosineSimilarity(exprs(0), exprs(1)),
      "built-in",
    )
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_intersect_count",
      exprs => graft.functions.SortedIntersectCount(exprs(0), exprs(1)),
      "built-in",
    )
    val r = spark
      .sql("""SELECT cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                                       array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
                     sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS n""")
      .head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getLong(1) == 2L)
  }

  test("buildDedupIndex is zero-shuffle at scale; filterFunnel is one partial-aggregated pass") {
    import graft.operators.{Dedup, Quality}
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    // On a degenerate single-split input, Pin.spread adds exactly ONE
    // user-pinned exchange of the bare (id, text) projection so the
    // signature pass isn't serialized on one core; it must never carry
    // derived columns (signatures, token sets).
    val pIdx = plan(Dedup.buildDedupIndex(docs, "doc_id", "text"))
    val exIdx = pIdx.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(
      exIdx.size == 1 && exIdx.head.contains("REPARTITION_BY_NUM"),
      s"index build on a narrow input: exactly the input spread exchange:\n$pIdx",
    )
    assert(!exIdx.head.contains("toks") && !exIdx.head.contains("mh0"), s"spread must ship raw input only:\n$pIdx")
    // On an input already at session parallelism the spread is a NO-OP —
    // the at-scale shape: the index build itself stays map-only (the one
    // exchange below is the test's own widening repartition).
    val wide = docs.repartition(spark.sessionState.conf.numShufflePartitions)
    val pWide = plan(Dedup.buildDedupIndex(wide, "doc_id", "text"))
    assert(
      "Exchange".r.findAllIn(pWide).length == 1,
      s"index build over a parallel input must add no exchange of its own:\n$pWide",
    )
    val pF = plan(Quality.filterFunnel(docs, Seq("nonempty" -> (length(col("text")) > 0))))
    assert("Exchange".r.findAllIn(pF).length == 1, s"funnel must be one agg exchange:\n$pF")
  }

  test("Pin.spread adds no repartition after dropDuplicates or typed grouping (their own shuffle)") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_spread").toString
    Seq(("a", 1), ("a", 1), ("b", 2)).toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(dir)
    val oneFile = spark.read.parquet(dir)
    def repartitions(df: DataFrame): Int =
      graft.operators.Pin.spread(df, col("k")).queryExecution.analyzed.collect { case r: RepartitionByExpression => r }.size
    // control: the bare single-file scan is narrow enough to spread
    assert(repartitions(oneFile) == 1)
    assert(repartitions(oneFile.dropDuplicates("k")) == 0)
    val grouped = oneFile.as[(String, Int)].groupByKey(_._1).mapGroups((k, rows) => (k, rows.map(_._2).sum)).toDF("k", "v")
    assert(repartitions(grouped) == 0)
  }

  test("statePeriods: ONE key-partitioned exchange carries windows, groupBy, and the closing lead") {
    // The groupBy key (user, pid, state) is a superset of the windows'
    // partitionBy(user), and the periods lead re-partitions on user — all
    // three stages must ride the single hashpartitioning(user) exchange.
    val ev = graft.Tables.events(spark, sf())
    val p = plan(graft.operators.EventAnalytics.statePeriods(ev, "user_id", "event_type", "ts", "event_id"))
    val ex = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(ex.size == 1 && ex.head.contains("hashpartitioning(user_id"), s"expected one user-keyed exchange:\n$p")
  }

  test("cdcMerge: both sides arrive at the join already key-partitioned; compaction is group-limited") {
    // The latest-wins row_number windows partition on the merge key, so the
    // full-outer join adds NO exchange of its own: exactly 2 (one per
    // side's compaction), and WindowGroupLimit prunes each group to its
    // top row BEFORE the shuffle (partial mode) — the exchange ships one
    // row per (key × map partition), not the log.
    import graft.operators.EventAnalytics
    val ev = graft.Tables.events(spark, sf())
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
    val snap = EventAnalytics.latestWins(ev.filter(col("us") < 0L), Seq("user_id"), "us", "event_id")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // at-scale shape: no broadcast
      val p = plan(EventAnalytics.cdcMerge(snap, ev, Seq("user_id"), "us", "event_id"))
      val ex = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(ex.size == 2, s"expected 2 key exchanges (one per compaction, none for the join), got ${ex.size}:\n$p")
      assert(p.contains("WindowGroupLimit"), s"compaction must prune to top-1 before the shuffle:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("winnow fingerprint summary: gram explode is a projection; ONE doc-keyed exchange") {
    // The gram hashes are computed inside a transform BEFORE the explode
    // (the token array is never duplicated per gram row), and the window,
    // the distinct, and the summary groupBy all ride hashpartitioning(doc).
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val p = plan(graft.operators.Winnow.fingerprintSummary(docs, "doc_id", "text"))
    val ex = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(ex.size == 1 && ex.head.contains("hashpartitioning(doc_id"), s"expected one doc-keyed exchange:\n$p")
  }

  test("sortedNeighborhood: no range-partitioned global sort; offsets broadcast back") {
    // globalRank replaces the single-partition ORDER BY with bucket-local
    // ranks + broadcast offsets: the DATA is never range-partitioned for a
    // global sort, and the only SinglePartition exchange feeds the tiny
    // per-bucket counts window, not the corpus.
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val p = plan(
      graft.operators.Dedup
        .sortedNeighborhoodPairs(docs, "doc_id", "text", substring(trim(col("text")), 1, 16))
    )
    assert(!p.contains("Exchange rangepartitioning"), s"no global sort of the corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"bucket offsets must broadcast:\n$p")
  }

  test("heavyHitters: the exact pass semi-joins broadcast candidates — no full census shuffle") {
    // Phase 2 must aggregate only candidate-filtered rows: a broadcast
    // LeftSemi ahead of the count aggregate, never a groupBy over every
    // distinct value.
    val toks = spark.read.parquet(sf() + "/documents.parquet")
      .select(explode(graft.functions.TextAnalysis.wsTokens(col("text"))).as("token"))
    val p = plan(graft.operators.Retrieval.heavyHitters(toks, col("token"), k = 100, minFreqNum = 1, minFreqDen = 100))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), s"candidates must broadcast semi-join:\n$p")
  }

  test("ContentChunks.chunks is a pure projection — zero exchanges") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val p = plan(graft.operators.ContentChunks.chunks(docs, "doc_id", "text"))
    assert(!p.contains("Exchange"), s"CDC chunking must not shuffle:\n$p")
  }

  test("assembleCorpus: the composition adds no full-corpus re-scans") {
    // Each stage's input is materialized once behind its operator's own
    // barrier (gated increment, dedup union, survivor set), so the FINAL
    // composed plan touches parquet exactly once — the decontamination
    // eval side (whose distinct gram hashes broadcast).
    val p = plan(q("q126_assemble_corpus"))
    assert("Scan parquet".r.findAllIn(p).length <= 1, s"composition must not re-scan the corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"eval gram hashes must broadcast:\n$p")
  }

  test("postingListsSharded: the list aggregation is keyed by (token, shard)") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val p = plan(graft.operators.Retrieval.postingListsSharded(docs, "doc_id", "text"))
    assert("hashpartitioning\\(token#\\d+L?, shard#\\d+".r.findAllIn(p).nonEmpty, p)
    // broadcastDf: the df-join-back becomes a broadcast hash join — the
    // token stream is never shuffled on the skewed raw-token key
    // (dfTab's own count aggregation still shuffles once on token — that's
    // the df pass itself, not the join.)
    // broadcastDf at SCALE: below the auto-broadcast threshold Spark
    // broadcasts the tiny test dfTab on its own, so to test what the knob
    // buys we disable auto-broadcast (= a dfTab too big for the estimator,
    // the at-scale planning): the default path degrades to a shuffled join
    // keyed by raw token, the hinted path stays broadcast.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pS = plan(graft.operators.Retrieval.postingListsSharded(docs, "doc_id", "text"))
      assert(pS.contains("SortMergeJoin") || pS.contains("ShuffledHashJoin"), s"expected shuffled join without hint:\n$pS")
      val pB = plan(graft.operators.Retrieval.postingListsSharded(docs, "doc_id", "text", broadcastDf = true))
      assert(pB.contains("BroadcastHashJoin"), s"broadcastDf must force a broadcast join:\n$pB")
      assert(!pB.contains("SortMergeJoin") && !pB.contains("ShuffledHashJoin"), s"no shuffled join under broadcastDf:\n$pB")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q131 range join: the BETWEEN plans as a hash equi-join on (key, bin), never nested-loop") {
    // The whole point of the binning: without it this interval predicate
    // would be a BroadcastNestedLoopJoin probing every interval per event.
    // Disable auto-broadcast so the tiny test interval table can't hide a
    // nested-loop plan behind a broadcast that wouldn't exist at scale.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan(q("q131_range_join"))
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"range join must not plan as a nested loop:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a (key, bin) equi-join:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q127 block dedup rewrite: block build is a projection; survivorship joins on the 8-byte hash") {
    val p = plan(q("q127_block_dedup_rewrite"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the survivor decision must key on the block hash, not the block text
    assert("hashpartitioning\\(__h#\\d+L?".r.findAllIn(p).nonEmpty,
      s"survivorship must shuffle on the block hash:\n$p")
  }

  test("q134 kmv join estimate: two bounded sketch aggregates, then scalar work only") {
    val p = plan(q("q134_kmv_join_estimate"))
    // the only join is the 1-row x 1-row sketch combine
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no data-sized join may appear:\n$p")
  }

  test("q137/q138: first/last-per-bucket are single aggregates — no Window sort of the log") {
    Seq("q137_rate_limit", "q138_ohlc_bars").foreach { name =>
      val p = plan(q(name))
      assert(!p.contains("Window"), s"$name must use min/max structs, not a row_number window:\n$p")
      assert(!p.contains("Join") || name == "q137_rate_limit" && !p.contains("SortMergeJoin"),
        s"$name: one aggregate pass, no self-join:\n$p")
    }
  }

  test("q141 weighted sample: rank-and-take is TakeOrdered, never a global sort") {
    val p = finalPlan(q("q141_weighted_sample"))
    assert(p.contains("TakeOrderedAndProject"), s"top-n must be TakeOrdered:\n$p")
  }

  test("q142 source KL: vocab and totals broadcast; the corpus tokenizes once") {
    val p = plan(q("q142_source_kl"))
    assert(p.contains("BroadcastHashJoin"), s"corpus token table must broadcast onto the counts:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-sized shuffle join:\n$p")
    assert("Scan parquet".r.findAllIn(p).length <= 1, s"one tokenization pass:\n$p")
  }

  test("q166 gap fill: carrier collapse is a partial agg — raw events never hit a window sort") {
    val p = plan(q("q166_gap_fill"))
    assert(!p.contains("Join"), s"LOCF must generate gap rows, not spine-join:\n$p")
    // The only Window runs over the collapsed daily table — the raw log is
    // aggregated (partial max_by, map-side combined) BEFORE any exchange.
    assert(p.contains("partial_max_by"), s"daily carrier must map-side combine:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"one (key,day) agg exchange + one key-window exchange of daily rows only:\n$p")
  }

  test("q167 compaction plan: window and rollup share the partition-keyed exchange") {
    val p = plan(q("q167_compaction_plan"))
    assert(!p.contains("Join"), s"bin assignment is a running sum, no join:\n$p")
    // hash(source) satisfies the (source, bin) rollup's clustering — the
    // planner must NOT insert a second hash exchange.
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"window + rollup must share ONE source-keyed exchange:\n$p")
  }

  test("q168 z-order key: the interleave is a pure projection feeding one partial agg") {
    val p = plan(q("q168_zorder_key"))
    assert(!p.contains("Join") && !p.contains("Window"), s"no join/window in a clustering-key projection:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"exactly the aggregate's exchange:\n$p")
    assert(p.contains("partial"), s"map-side combine must precede the shuffle:\n$p")
  }

  test("q169 equi-depth histogram: raw rows are scanned once; windows run on the value histogram") {
    val p = plan(q("q169_equidepth_hist"))
    assert("Scan parquet".r.findAllIn(p).length === 1, s"one pass over the data:\n$p")
    assert(!p.contains("Join"), s"bucketing is integer arithmetic, no join:\n$p")
  }

  test("q170 edit-distance pairs: block equi-join, never a cartesian/nested-loop surface") {
    val p = plan(q("q170_edit_distance_pairs"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the pairing must be an equi-join on the block key:\n$p")
  }

  test("q171 ab test: two aggregates, no join, no window") {
    val p = plan(q("q171_ab_test"))
    assert(!p.contains("Join") && !p.contains("Window"), s"per-user collapse then scalar agg only:\n$p")
  }

  test("q173 minhash calibration: banding equi-join only — no cartesian surface, text never joins") {
    val p = plan(q("q173_minhash_calibration"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the band equi-join:\n$p")
  }

  test("q174 quantile normalize: rank and count windows share ONE source-keyed exchange") {
    val p = plan(q("q174_quantile_normalize"))
    assert(!p.contains("Join"), s"normalization is windows only:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"both windows must ride one source exchange:\n$p")
  }

  test("q179 index build: stage barriers hold — the corpus parquet is scanned at most twice") {
    // gate pass + the docs_in count; chunks/postings/card all read the
    // checkpointed stage outputs, never the parquet again.
    val p = plan(q("q179_search_index_card"))
    assert("Scan parquet".r.findAllIn(p).length <= 2, s"stage outputs must come from the barriers:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian surface:\n$p")
  }

  test("q175 budget select: offsets broadcast back — the global cumsum never globally sorts the data") {
    val p = plan(q("q175_budget_select"))
    assert(p.contains("BroadcastHashJoin"), s"bucket offsets must broadcast:\n$p")
    // the ONLY range partitioning allowed is the query's final orderBy
    assert("Exchange rangepartitioning".r.findAllIn(p).length <= 1,
      s"no range-partitioned sort of the corpus inside the operator:\n$p")
  }

  test("q188 random projection: a zero-exchange pure projection") {
    val p = plan(q("q188_random_projection"))
    assert(!p.contains("Join") && !p.contains("Window"), s"no join/window in a map-only projection:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), s"no shuffle before the output sort:\n$p")
  }

  test("q189 covariance matrix: one explode pass, no self-join, partial agg before the one exchange") {
    val p = plan(q("q189_embedding_cov"))
    assert(!p.contains("Join"), s"pair cells come from nested array transforms, never a self-join:\n$p")
    assert("Scan parquet".r.findAllIn(p).length === 1, s"one pass over the embeddings:\n$p")
    assert(p.contains("partial"), s"map-side combine must collapse cells before the shuffle:\n$p")
  }

  test("q187 MAD outliers: per-group tables come back as broadcasts, never a group shuffle join") {
    val p = plan(q("q187_mad_outliers"))
    assert(p.contains("BroadcastHashJoin"), s"median/mad join back via broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join of the log against tiny per-group tables:\n$p")
  }

  test("q185 ANN recall: centroids and probes broadcast; the exact side broadcasts the query sample") {
    val p = plan(q("q185_ann_recall"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the small sides must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast cartesian surface:\n$p")
  }

  test("dynamic partition pruning: a selective dim filter prunes the partitioned fact scan") {
    val dir = SparkSpec.tempDir("graft_dpp").toString
    Tables
      .events(spark, sf())
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim filter is on a NON-join column: a join-key filter would
    // constant-propagate into a STATIC partition filter (also pruning, but
    // not the runtime mechanism under test).
    val dim = Tables
      .events(spark, sf())
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 0)
    val joined = fact.join(dim, Seq("event_type")).agg(count(lit(1)))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"the partitioned scan must carry a dynamic pruning predicate from the dim filter:\n$p")
  }

  test("q193 decay attribution: narrowed projections meet in ONE join, rollup map-side combines") {
    val p = plan(q("q193_decay_attribution"))
    assert(!p.contains("Window"), s"no windows in the all-touch join plan:\n$p")
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(p).length === 1,
      s"exactly one touch-conversion join:\n$p")
    assert(p.contains("partial"), s"channel rollup must map-side combine:\n$p")
  }

  test("q198 token gini: no single-partition sort of the vocabulary") {
    val p = plan(q("q198_token_gini"))
    assert(!p.contains("rangepartitioning"), s"globalRank must not range-sort the vocab:\n$p")
  }

  test("q202 survival curve: windows run on the collapsed histogram, never the log") {
    val p = plan(q("q202_survival_curve"))
    // the only exchanges: user collapse, histogram collapse, single-partition
    // tiny-table window; the log itself is aggregated before any window.
    assert(p.contains("partial"), s"the user collapse must partial-aggregate:\n$p")
    assert("Scan parquet".r.findAllIn(p).length === 1, s"one pass over the log:\n$p")
  }

  test("q204 index-backed BM25: query-term pruning reaches the posting build; totals broadcast") {
    val p = plan(q("q204_index_bm25"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"idf/totals must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian surface:\n$p")
  }

  test("q205 concurrent sessions: per-hour offsets broadcast back, no global range sort") {
    val p = plan(q("q205_concurrent_sessions"))
    assert(p.contains("BroadcastHashJoin"), s"the tiny offsets table must broadcast:\n$p")
  }

  test("q212 embedding norms: zero-shuffle projection into one partial aggregate") {
    val p = plan(q("q212_embedding_norms"))
    assert(!p.contains("Join") && !p.contains("Window"), s"pure projection + aggregate:\n$p")
    assert(p.contains("partial"), s"map-side combine before the group exchange:\n$p")
    assert("Scan parquet".r.findAllIn(p).length === 1, s"one pass over the embeddings:\n$p")
  }

  test("q215 as-of within: ONE sort-shuffle union-window plan, no range join") {
    val p = plan(q("q215_asof_within"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the staleness bound must not degrade the plan to a range join:\n$p")
    assert("Window".r.findAllIn(p).length >= 1, s"the carry is a window:\n$p")
  }

  test("q217 funnel by cohort: cohort and stage windows share the user exchange") {
    val p = plan(q("q217_funnel_by_cohort"))
    assert(!p.contains("Join"), s"no self-join of the log:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"one user exchange + the tiny cohort rollup:\n$p")
  }

  test("q220 hapax report: one scan, two partial-aggregating collapses, no window") {
    val p = plan(q("q220_hapax_report"))
    assert(!p.contains("Join") && !p.contains("Window"), s"census + rollup only:\n$p")
    assert("Scan parquet".r.findAllIn(p).length === 1, s"one pass over the docs:\n$p")
    assert(p.contains("partial"), s"map-side combine:\n$p")
  }

  test("q234 shipping priority: fact filters pushed to both scans, no cartesian, bounded sort") {
    val p = plan(q("q234_shipping_priority"))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"lineitem date filter must reach the scan:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"),
      s"orders date filter must reach the scan:\n$p")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), s"segment filter pushed:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must not global-sort:\n$p")
  }

  test("q235 region revenue: nation/region dims broadcast; facts never nested-loop") {
    val p = plan(q("q235_region_revenue"))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, s"nation+region must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("EqualTo(r_name,ASIA)"), s"region filter pushed:\n$p")
  }

  test("q226 correlation: diagonal joins back as broadcasts over the materialized cells") {
    val p = plan(q("q226_embedding_corr"))
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, s"two broadcast diagonal joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"2080-row cell table must never shuffle-join:\n$p")
  }

  test("q233 PC1 census: the projection pass is join-free — loadings ride as literals") {
    val p = plan(q("q233_pc1_label_census"))
    assert(!p.contains("Join"), s"no join in the projection pass:\n$p")
    assert(p.contains("partial"), s"map-side combine on the label rollup:\n$p")
  }

  test("q230 skew audit: one scan into a buckets-sized aggregate") {
    val p = plan(q("q230_skew_audit"))
    assert("Scan parquet".r.findAllIn(p).length === 1, s"one pass over events:\n$p")
    assert(!p.contains("Join"), p)
    assert(p.contains("partial"), s"map-side combine:\n$p")
  }

  test("q240 image hash census: decode pass shuffles nothing but the census keys") {
    val p = plan(q("q240_image_phash_census"))
    // the synthesize→decode→hash chain is mapPartitions over the scan;
    // the only exchange the plan may carry is the hash-census groupBy
    // (plus AQE's final ordering) — never payload bytes
    assert(!p.contains("Join"), s"no join anywhere in the census:\n$p")
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    // Pin.spread adds one user-pinned exchange of BARE IDS before the
    // synthesizer (so the synth+decode pass isn't serialized on one input
    // split); the census groupBy remains the only ENSURE exchange.
    val (spreadEx, censusEx) = hashEx.partition(_.contains("REPARTITION_BY_NUM"))
    assert(censusEx.size === 1, s"exactly the census exchange:\n$p")
    assert(spreadEx.size <= 1, s"at most the id spread:\n$p")
    assert(
      hashEx.forall(l => !l.contains("content")),
      s"payload bytes must not reach a shuffle:\n$p",
    )
    assert(p.contains("partial"), s"map-side combine on the census:\n$p")
  }

  test("q242 image near-dup pairs: bucket equi-join, no cartesian, bytes dropped pre-shuffle") {
    val p = plan(q("q242_image_neardup_pairs"))
    assert(!p.contains("CartesianProduct"), s"banding must keep the pairing an equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no nested-loop fallback:\n$p")
    assert(
      p.linesIterator.filter(_.contains("Exchange")).forall(l => !l.contains("content")),
      s"payload bytes must not reach a shuffle:\n$p",
    )
  }

  test("q252 bloom lookup: the IN probe pushes to the scan (the pushdown that consults blooms)") {
    val p = plan(q("q252_bloom_lookup"))
    assert(p.contains("PushedFilters: [In(doc_id"),
      s"the point lookup must reach the parquet reader as an IN pushdown:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), s"a 4-key probe must not shuffle:\n$p")
  }

  test("q248 ADC search: candidate pass joins codes never vectors; corpus never repartitions") {
    val p = plan(q("q248_ann_adc_topk"))
    // all real joins broadcast (codebooks are plan literals; the 16-row
    // centroid cross join is a deliberate broadcast); the corpus itself is
    // never sort-merge-joined or repartitioned
    assert(!p.contains("SortMergeJoin"), s"corpus must never shuffle for a join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast cartesian surface:\n$p")
    // the only hash exchanges are the query-keyed candidate/rerank windows —
    // candidate-sized rows, never corpus partitioning, never vectors
    val ex = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(ex.nonEmpty && ex.forall(_.contains("query_id")),
      s"every shuffle must be the query-keyed top-k, never the corpus:\n$p")
    assert(ex.forall(l => !l.contains("embedding") && !l.contains("__nv") && !l.contains("qvec")),
      s"full vectors must never reach an exchange — ADC scores codes only:\n$p")
    // top-k windows push partial group limits below the shuffle
    assert(p.contains("WindowGroupLimit"), s"rank cuts must pre-aggregate before the exchange:\n$p")
  }

  test("q247 video near-dup pairs: signature equi-join, no cartesian, frame bytes dropped pre-shuffle") {
    val p = plan(q("q247_video_neardup_pairs"))
    assert(!p.contains("CartesianProduct"),
      s"the signature overlap must stay an equi-join, never all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no nested-loop fallback:\n$p")
    assert(
      p.linesIterator.filter(_.contains("Exchange")).forall(l => !l.contains("content")),
      s"payload bytes must not reach a shuffle — frames hash at the decode boundary:\n$p",
    )
  }

  test("q257 mixed-modality dedup: payloads reach no Exchange in any branch; pairings stay equi-joins") {
    val p = plan(q("q257_media_dedup_mixed"))
    // the per-family contracts (q242/q247/q254) must survive the composition:
    // every pairing an equi-join, and payload bytes never shuffle — the three
    // chains hash at their decode boundaries before anything wide happens
    assert(!p.contains("CartesianProduct"), s"no all-pairs surface in any branch:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no nested-loop fallback in any branch:\n$p")
    assert(
      p.linesIterator.filter(_.contains("Exchange")).forall(l => !l.contains("content")),
      s"payload bytes must not reach a shuffle in ANY modality branch:\n$p",
    )
  }

  test("q260 residual ADC: vectors and residuals never reach an exchange; corpus never repartitions") {
    val p = plan(q("q260_ann_adc_residual"))
    assert(!p.contains("SortMergeJoin"), s"corpus must never shuffle for a join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast cartesian surface:\n$p")
    val ex = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(ex.nonEmpty && ex.forall(_.contains("query_id")),
      s"every shuffle must be the query-keyed top-k, never the corpus:\n$p")
    assert(ex.forall(l => !l.contains("embedding") && !l.contains("__rv") && !l.contains("__nv")),
      s"neither vectors nor residuals may reach an exchange — ADC scores codes only:\n$p")
  }

  test("q258 persisted ANN index: the codes scan is DYNAMICALLY PRUNED to the probed cells") {
    val p = plan(q("q258_ann_index_roundtrip"))
    // the on-disk posting-list claim, asserted at the plan level: the codes
    // table is partitioned by coarse cell and the probe join produces a
    // dynamic-pruning subquery, so a serving read visits nprobe directories
    // per query batch — never the whole index
    assert(p.contains("dynamicpruning"),
      s"the probed-cell join must dynamically prune the codes partitions:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the persisted index must never shuffle for a join:\n$p")
    val ex = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(ex.forall(l => !l.contains("embedding") && !l.contains("__nv")),
      s"vectors must stay out of every exchange on the serving path:\n$p")
  }

  test("q264 persisted RESIDUAL index: dynamically pruned codes scan, vector-free exchanges") {
    val p = plan(q("q264_residual_index_roundtrip"))
    // the q258 serving contract must survive the variant dispatch: the
    // residual layout partitions codes by the same coarse cell, the
    // residual probe join (now carrying the IP(q,c) scalar) still prunes
    assert(p.contains("dynamicpruning"),
      s"the residual probe join must dynamically prune the codes partitions:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the persisted residual index must never shuffle for a join:\n$p")
    val ex = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(ex.forall(l => !l.contains("embedding") && !l.contains("__nv") && !l.contains("__rv")),
      s"neither vectors nor residuals may reach an exchange on the serving path:\n$p")
  }

  test("q267 drift gate: ONE flagged pass — two scans, one cell-keyed partial aggregate, no join") {
    val p = plan(q("q267_ood_drift_gate"))
    // the operator's whole claim: both censuses from one assignment pass
    // over base ∪ increment. Two parquet scans (the base branch and the
    // shifted-increment branch of the union — NOT four, which the naive
    // two-oodCensus implementation would cost), zero joins (the codebook
    // is a collected literal), and a map-side partial aggregate.
    assert("Scan parquet".r.findAllIn(p).length === 2, s"one pass over base ∪ increment:\n$p")
    assert(!p.contains("Join"), s"the codebook must be a literal, never a join:\n$p")
    assert(p.contains("partial"), s"the cell census must map-side combine:\n$p")
  }

  test("q269 re-encode video dedup: payload bytes never reach an exchange") {
    val p = plan(q("q269_video_dedup_reencode"))
    assert(!p.contains("CartesianProduct"), s"frame pairing must stay bucket-local:\n$p")
    assert(
      p.linesIterator.filter(_.contains("Exchange")).forall(l => !l.contains("content")),
      s"pixels leave the pipeline at the hash boundary:\n$p",
    )
  }

  test("q256 pHash near-dup: prefix-bucket equi-join, bytes dropped pre-shuffle") {
    val p = plan(q("q256_phash_neardup"))
    assert(!p.contains("CartesianProduct"), s"the pHash pairing must stay an equi-join:\n$p")
    assert(
      p.linesIterator.filter(_.contains("Exchange")).forall(l => !l.contains("content")),
      s"payload bytes must not reach a shuffle — hashes leave the decode boundary:\n$p",
    )
  }

  /** Children of `p`, seen through the AQE root, query stages and reused exchanges. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case _ => p.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)

  /** The exchanges `p` reads directly: the first one down each path. */
  private def feeding(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: BroadcastExchangeLike => Nil // replicates a build side; partitioning comes from the stream side
    case e: Exchange => Seq(e)
    case _ => kids(p).flatMap(feeding)
  }

  /** A [[graft.operators.Pin]] shuffle: REPARTITION_BY_NUM, hashed on exactly `keys`. */
  private def isPin(p: SparkPlan, keys: Set[String]): Boolean = p match {
    case s: ShuffleExchangeExec =>
      s.shuffleOrigin == REPARTITION_BY_NUM && (s.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).toSet == keys
        case _ => false
      })
    case _ => false
  }

  /** Runs `df` and checks its post-AQE plan. The self-join is the topmost
    * join with a `keys` pin under both sides (a per-bucket filter join
    * riding the same pin sits below it). It must be a SortMergeJoin whose
    * sides read that pin directly, with no ENSURE_REQUIREMENTS exchange
    * stacked on top.
    */
  private def assertPinnedSelfJoin(df: DataFrame, keys: Seq[String]): Unit = {
    df.collect()
    val root = df.queryExecution.executedPlan
    val ks = keys.toSet
    val overPin = nodes(root).collect {
      case j: BinaryExecNode if j.children.forall(c => nodes(c).exists(isPin(_, ks))) => j
    }
    val selfJoins = overPin.filterNot(j => overPin.exists(o => (o ne j) && nodes(o).exists(_ eq j)))
    assert(selfJoins.nonEmpty, s"no join over a pin on $ks:\n$root")
    selfJoins.foreach { j =>
      assert(j.isInstanceOf[SortMergeJoinExec], s"the bucket self-join must sort-merge, got ${j.nodeName}:\n$root")
      val fed = j.children.flatMap(feeding)
      assert(fed.nonEmpty && fed.forall(isPin(_, ks)), s"every shuffle feeding the self-join must be a $ks pin:\n$root")
    }
  }

  test("pinned bucket self-join: every pairing operator sort-merges on its REPARTITION_BY_NUM bucket pin") {
    import graft.operators.{Dedup, Graph, Multimodal, Similarity, Winnow}
    import spark.implicits._
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val cents = emb.orderBy("vec_id").limit(4).collect().toSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1)) }.toDF("centroid_id", "centroid")
    val a = 0x7000000000000001L
    val c = 0x0123456712345678L
    val sigs = Seq((1L, a), (2L, a ^ (1L << 62)), (3L, c), (4L, c ^ (1L << 30)), (5L, -1L ^ a)).toDF("id", "sig")
    val acts = Seq((1L, "A", 1L), (2L, "A", 1L), (3L, "A", 1L), (1L, "B", 2L)).toDF("user", "et", "hr")
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val media = Multimodal.synthesizeMjpegAvi(Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("doc_id", "text"), "doc_id")
    val cases: Seq[(String, () => DataFrame, Seq[String])] = Seq(
      ("minhashCandidates", () => Dedup.minhashCandidates(docs, "doc_id", "text"), Seq("bk")),
      ("containmentPairs", () => Dedup.containmentPairs(docs, "doc_id", "text", "source", 0.9), Seq("block")),
      ("jaccardPairs", () => Dedup.jaccardPairs(docs, "doc_id", "text", "source", 0.5), Seq("block")),
      ("prefixJaccardJoin", () => Dedup.prefixJaccardJoin(docs, "doc_id", "text", 1, 2, shingleN = 3), Seq("tok")),
      ("simhashPairs", () => Dedup.simhashPairs(docs, "doc_id", "text"), Seq("bucket")),
      ("simhashPairsRotated", () => Dedup.simhashPairsRotated(docs, "doc_id", "text", rotations = 2), Seq("rb")),
      ("hammingPairs", () => Dedup.hammingPairs(sigs, "id", "sig", bits = 64, prefixBits = 8, maxDist = 3), Seq("bucket")),
      ("hammingPairsRotated", () => Dedup.hammingPairsRotated(sigs, "id", "sig", prefixBits = 12, maxDist = 2), Seq("rb")),
      ("cosineNearDupPairs", () => Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", "label", 0.9), Seq("block")),
      ("hardNegatives", () => Similarity.hardNegatives(emb, "vec_id", "embedding", "label", cents), Seq("centroid_id")),
      ("cosineNearDupPairsLsh", () => Similarity.cosineNearDupPairsLsh(emb, "vec_id", "embedding", 64, 4, 0.35, 2), Seq("tb")),
      ("cooccurrenceEdges", () => Graph.cooccurrenceEdges(acts, "user", Seq("et", "hr"), minSupport = 1), Seq("et", "hr")),
      ("triangleCounts", () => Graph.triangleCounts(edges, "src", "dst"), Seq("x")),
      ("videoNearDupPairs", () => Multimodal.videoNearDupPairs(media), Seq("sig")),
      ("Winnow.overlapPairs", () => Winnow.overlapPairs(docs, "doc_id", "text"), Seq("fp_hash")),
    )
    val failed = cases.flatMap { case (name, run, keys) =>
      scala.util.Try(assertPinnedSelfJoin(run(), keys)).failed.toOption.map(e => s"$name: ${e.getMessage}")
    }
    assert(failed.isEmpty, failed.mkString("\n\n"))
  }
}
