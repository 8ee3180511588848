package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import java.sql.Timestamp

/** Structured Streaming surface (SURVEY §2.9).
  *
  * The reference's temporal semantics are a daily full-refresh batch
  * (systemd timer, `jhu-data-parser.timer:5`) — mapped to
  * `Trigger.AvailableNow` run-to-completion. Beyond parity, this module adds
  * the streaming operators a live events pipeline needs: watermarked tumbling
  * windows and stateful sessionization (`flatMapGroupsWithState`).
  *
  * Scale: streaming aggs shuffle by (window, key) like any groupBy; state
  * lives in the state store keyed by group — sessionization state is O(open
  * sessions), bounded by the event-time timeout.
  */
object EventStream {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  final case class Session(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      total_value: Double,
  )

  // Not `private`: the state encoder's generated code must construct it.
  // start/end are epoch MICROSECONDS: `Timestamp.getTime` is ms and would
  // truncate the µs the events table actually carries, shifting session
  // bounds (and, at a gap boundary, membership) off the batch semantics.
  final case class SessionState(start: Long, end: Long, n: Long, total: Double)

  // Multi-fragment state for [[sessionizeExact]]: every open fragment of the
  // key's timeline. `totalScaled` is the value sum in 10^-4 units (a long) —
  // addition is then exact and ORDER-INDEPENDENT, so the emitted total is
  // identical no matter how fragments merge, and the oracle can use a plain
  // DECIMAL(18,4) sum instead of modeling arrival order.
  final case class Frag(start: Long, end: Long, n: Long, totalScaled: Long)
  final case class FragsState(frags: List[Frag])

  // [[funnelStream]] state: first-completion µs per stage reached so far (a
  // strict prefix of the stage list); emission happens ON the advancing
  // event, so no timeout machinery is needed.
  final case class FunnelHit(user_id: Long, stage: Int)
  final case class FunnelState(times: List[Long])

  /** Watermarked tumbling-window aggregation (event-time). */
  def hourlyAgg(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("hour"),
        col("event_type"),
        col("n"),
        col("total_value"),
      )

  /** Sessionize a stream of events per user with an inactivity `gapMinutes`:
    * emits one [[Session]] row when a session closes (event-time timeout).
    * State per user is a single running summary — O(1) per group.
    * `watermarkMinutes` (default = gap) bounds how out-of-order events may
    * be: with a delay larger than the gap, events from before the open
    * session's window arrive non-late and are emitted as singleton fragment
    * sessions (single-session-per-key state; full out-of-order merging
    * would need multi-fragment state).
    */
  def sessionize(
      events: Dataset[Event],
      gapMinutes: Int = 30,
      watermarkMinutes: Option[Int] = None,
  ): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    // local defs (not object members): the state-update closure must stay
    // self-contained — an object-method reference would capture the module
    // and fail Spark's closure serialization
    def usOf(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    def tsOf(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }

    def update(
        userId: Long,
        batch: Iterator[Event],
        state: GroupState[SessionState],
    ): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(userId, tsOf(s.start), tsOf(s.end), s.n, s.total))
      } else {
        // (ts, event_id) — the id tie-break makes the in-session double
        // accumulation order deterministic (file row order is not)
        val events = batch.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
        var closed = List.empty[Session]
        var cur = state.getOption
        events.foreach { e =>
          val t = usOf(e.ts)
          cur match {
            case Some(s) if t > s.end + gapUs =>
              // gap exceeded: close the current session, start a new one
              closed ::= Session(userId, tsOf(s.start), tsOf(s.end), s.n, s.total)
              cur = Some(SessionState(t, t, 1, e.value))
            case Some(s) if t < s.start - gapUs =>
              // out-of-order event from BEFORE the open session's window:
              // emit as its own singleton session (single-session-per-key
              // state, a documented simplification — full out-of-order
              // merging needs multi-fragment state)
              closed ::= Session(userId, tsOf(t), tsOf(t), 1, e.value)
            case Some(s) =>
              // within [start-gap, end+gap]: extend in either direction
              cur = Some(
                s.copy(start = math.min(s.start, t), end = math.max(s.end, t), n = s.n + 1, total = s.total + e.value)
              )
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          // timeout API is ms; floor(end µs) keeps it within 1 ms of exact
          state.setTimeoutTimestamp(s.end / 1000L + gapMinutes * 60L * 1000L)
        }
        closed.reverseIterator
      }
    }

    events
      .withWatermark("ts", s"${watermarkMinutes.getOrElse(gapMinutes)} minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Sessionization that is EXACT under any arrival order (the upgrade over
    * [[sessionize]]'s single-session state): per key the state holds every
    * open FRAGMENT of the timeline; an event joins (and possibly bridges)
    * the fragments within `gap` of it, and a fragment is emitted only when
    * the event-time watermark passes its `end + gap` — at which point no
    * non-late event can still touch it (any such event would have
    * `t <= end + gap < watermark`, i.e. be late). For data fully arrived
    * within the watermark the output therefore EQUALS batch sessionization
    * regardless of microbatch order — q66 proves that with deliberately
    * out-of-order batches against the plain batch oracle.
    *
    * Fragments stay pairwise more-than-gap apart by construction (a
    * bridging event lands in the touch-set of every fragment it bridges),
    * so state is O(open fragments), bounded by the watermark horizon.
    * Totals accumulate in exact scaled-long arithmetic ([[Frag]]) — no
    * order-dependent double sums to mirror.
    */
  def sessionizeExact(
      events: Dataset[Event],
      gapMinutes: Int = 30,
      watermarkMinutes: Option[Int] = None,
  ): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val gapMs = gapMinutes * 60L * 1000L
    def usOf(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    def tsOf(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }

    def update(
        userId: Long,
        batch: Iterator[Event],
        state: GroupState[FragsState],
    ): Iterator[Session] = {
      // timeout must exceed the current watermark when registered; the floor
      // from µs -> ms is compensated by re-checking against the real µs
      // watermark at fire time and re-registering if nothing closed
      def register(frags: List[Frag]): Unit = {
        state.update(FragsState(frags))
        val next = frags.map(_.end).min / 1000L + gapMs
        state.setTimeoutTimestamp(math.max(next, state.getCurrentWatermarkMs() + 1))
      }
      if (state.hasTimedOut) {
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val (closed, open) = state.get.frags.partition(f => f.end + gapUs < wmUs)
        if (open.isEmpty) state.remove() else register(open)
        closed
          .sortBy(_.start)
          .map(f => Session(userId, tsOf(f.start), tsOf(f.end), f.n, f.totalScaled / 10000.0))
          .iterator
      } else {
        var frags = state.getOption.map(_.frags).getOrElse(Nil)
        batch.toSeq.sortBy(e => (usOf(e.ts), e.event_id)).foreach { e =>
          val t = usOf(e.ts)
          val v = math.round(e.value * 10000.0)
          val (touched, rest) = frags.partition(f => t >= f.start - gapUs && t <= f.end + gapUs)
          val merged = touched.foldLeft(Frag(t, t, 1, v)) { (a, f) =>
            Frag(math.min(a.start, f.start), math.max(a.end, f.end), a.n + f.n, a.totalScaled + f.totalScaled)
          }
          frags = merged :: rest
        }
        if (frags.nonEmpty) register(frags.sortBy(_.start))
        Iterator.empty
      }
    }

    events
      .withWatermark("ts", s"${watermarkMinutes.getOrElse(gapMinutes)} minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** One-shot runner for [[sessionizeExact]] over the SAME deliberately
    * out-of-order microbatches as [[sessionizeOneShotOutOfOrder]] (per-user
    * last event first, everything else second) — but here the expected
    * output is plain BATCH sessionization: the multi-fragment state makes
    * arrival order irrelevant, which is exactly what q66's oracle checks.
    */
  /** Run `body` with Spark's RocksDB state store provider and restore the
    * previous provider after — the 100 TB configuration for stateful
    * streaming: the HDFS-backed default keeps every state row ON-HEAP, so
    * state is capped by executor heap and large-state queries OOM; RocksDB
    * keeps state off-heap/on-disk with an in-memory working set, so state
    * scales to disk size. Semantics are identical by contract (same
    * StateStore API); q251 verifies hash-identical results and the
    * ScaleBench `rocksdb` family re-measures the state-linearity table on
    * it. The conf is read at streaming-query START, so it must wrap the
    * eager one-shot run, not the lazy DataFrame.
    */
  def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T = {
    val key  = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf
      .set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  def sessionizeExactOneShot(
      spark: SparkSession,
      eventsDf: DataFrame,
      queryName: String,
      gapMinutes: Int = 30,
  ): DataFrame = {
    val (stream, wmMinutes) = outOfOrderEventStream(spark, eventsDf, queryName)
    val q = sessionizeExact(stream, gapMinutes, watermarkMinutes = Some(wmMinutes))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName).filter(col("user_id") >= 0)
  }

  /** Streaming exact dedup: drop events whose `idCols` were already seen
    * within the watermark horizon — the stream-side of the dedup suite
    * (exactly-once ingestion against at-least-once sources). State is
    * bounded by the watermark: ids older than it are evicted.
    */
  def dedupStream(events: DataFrame, idCols: Seq[String], watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Watermarked streaming OHLC bars per (type, hour window) — the
    * streaming twin of [[graft.operators.EventAnalytics.ohlcBars]]: open
    * and close ride min/max structs keyed (µs, unique id) INSIDE the
    * windowed aggregate, so the state per (type, window) is five scalars
    * and two small structs — no per-event state, no sort. The bar id is
    * the window start's epoch hour, identical to the batch operator's
    * integer bucket, so both share one oracle.
    */
  def ohlcBars(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .withColumn(
        "__e",
        struct(unix_micros(col("ts")).as("__us"), col("event_id").as("__id"), col("value").as("__v")),
      )
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min(col("__e")).getField("__v").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(col("__e")).getField("__v").as("close"),
        count(lit(1)).as("n_events"),
      )
      .select(
        expr("unix_micros(window.start) div 3600000000").as("bar"),
        col("event_type"),
        col("open"),
        col("high"),
        col("low"),
        col("close"),
        col("n_events"),
      )

  /** Batch-parity runner for [[ohlcBars]] (the [[hourlyAggOneShot]] shape):
    * AvailableNow one-shot into a memory sink, Complete mode.
    */
  def ohlcOneShot(spark: SparkSession, eventsDf: DataFrame, queryName: String): DataFrame = {
    val stream = spark.readStream
      .schema(eventsDf.schema)
      .parquet(writeTemp(eventsDf, queryName))
    val q = ohlcBars(stream)
      .writeStream
      .outputMode(OutputMode.Complete)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Batch-parity runner: stream the events table through [[hourlyAgg]] with
    * an AvailableNow-style one-shot run into a memory sink and return the
    * result — Structured Streaming's core guarantee (streaming result ==
    * batch result over the same data) made checkable by the DuckDB oracle.
    */
  /** Streaming trending top-k: the continuously-maintained windowed counts
    * ([[hourlyAgg]]'s watermarked state) plus a BATCH rank over the sink —
    * the standard two-stage real-time-trending shape (per-key streaming
    * state stays O(windows × types); the rank never holds streaming state,
    * so k can change without a state migration). One-shot parity runner:
    * AvailableNow into a memory sink, then row_number per window over it.
    */
  def trendingOneShot(spark: SparkSession, eventsDf: DataFrame, queryName: String, k: Int): DataFrame = {
    val hourly = hourlyAggOneShot(spark, eventsDf, queryName)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour"))
      .orderBy(col("n").desc, col("event_type"))
    hourly
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("hour"), col("event_type"), col("n"), col("rnk"))
  }

  def hourlyAggOneShot(spark: SparkSession, eventsDf: DataFrame, queryName: String): DataFrame = {
    val stream = spark.readStream
      .schema(eventsDf.schema)
      .parquet(writeTemp(eventsDf, queryName))
    val q = hourlyAgg(stream)
      .writeStream
      .outputMode(OutputMode.Complete)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Batch-parity runner for [[dedupStream]]: one-shot AvailableNow run into
    * a memory sink (append mode — dedup emits first occurrences as they
    * arrive). The temp parquet is written as a SINGLE file so the run is one
    * microbatch: across multiple batches the watermark advanced by batch 1
    * would drop genuinely-late rows of batch 2, making the result depend on
    * nondeterministic file order rather than dedup semantics.
    */
  def dedupOneShot(
      spark: SparkSession,
      eventsDf: DataFrame,
      idCols: Seq[String],
      queryName: String,
      watermark: String = "1 hour",
  ): DataFrame = {
    val stream = spark.readStream
      .schema(eventsDf.schema)
      .parquet(writeTemp(eventsDf, queryName, singleFile = true))
    val q = dedupStream(stream, idCols, watermark)
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Streaming rate limiting — the streaming twin of
    * [[graft.operators.EventAnalytics.rateLimitFirst]]: the FIRST-ARRIVED
    * event per (user, type, tumbling bucket) survives inside the watermark;
    * later repeats drop. State per key is one row with a watermark-bounded
    * TTL (`dropDuplicatesWithinWatermark`), so burst/bot suppression runs
    * with O(active keys) state, never a log sort.
    */
  /** Streaming strictly-ordered funnel — the live twin of
    * [[graft.operators.EventAnalytics.funnel]]: per user, stage i+1 counts
    * only on an event of its type STRICTLY after the user's first
    * completion of stage i. State is the prefix of first-completion times
    * (≤ &#124;stages&#124; longs per user — O(1), no event buffering); a
    * [[FunnelHit]] row is emitted the moment a user ADVANCES a stage, so
    * the sink accumulates each user's reached-stage set incrementally —
    * the dashboard reads stage counts as plain sink aggregates.
    *
    * In-order delivery (or a single microbatch, as the one-shot harness
    * guarantees) makes the greedy first-qualifying scan EQUAL the batch
    * operator's stacked min-window semantics: processed in (ts, event_id)
    * order, the first qualifying event IS the minimum qualifying time.
    */
  def funnelStream(events: Dataset[Event], stages: Seq[String]): Dataset[FunnelHit] = {
    require(stages.size >= 2, "funnelStream: need at least two stages")
    val spark = events.sparkSession
    import spark.implicits._
    def usOf(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    val stageList = stages.toList

    def update(
        userId: Long,
        batch: Iterator[Event],
        state: GroupState[FunnelState],
    ): Iterator[FunnelHit] = {
      val evs = batch.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
      var times = state.getOption.map(_.times).getOrElse(Nil)
      var hits = List.empty[FunnelHit]
      evs.foreach { e =>
        val k = times.length
        if (k < stageList.length && e.event_type == stageList(k) && (k == 0 || usOf(e.ts) > times.last)) {
          times = times :+ usOf(e.ts)
          hits ::= FunnelHit(userId, k + 1)
        }
      }
      state.update(FunnelState(times))
      hits.reverseIterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Batch-parity runner for [[funnelStream]]: one microbatch (so greedy ==
    * batch semantics), then the q83-shaped rollup — stage counts from the
    * per-advance sink rows plus the same integer-div conversion ratios.
    */
  def funnelOneShot(
      spark: SparkSession,
      eventsDf: DataFrame,
      stages: Seq[String],
      queryName: String,
  ): DataFrame = {
    import spark.implicits._
    val colsInOrder = Seq("event_id", "ts", "user_id", "event_type", "value")
    val ev = eventsDf.select(colsInOrder.map(col): _*)
    val stream = spark.readStream
      .schema(ev.schema)
      .parquet(writeTemp(ev, queryName, singleFile = true))
    val q = funnelStream(stream.as[Event], stages)
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val stageDf = stages.zipWithIndex.map { case (st, i) => (i + 1, st) }.toDF("stage", "event_type")
    val counts = spark.table(queryName).groupBy(col("stage")).agg(count(lit(1)).as("users"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("stage"))
    stageDf
      .join(counts, Seq("stage"), "left")
      .na
      .fill(0L, Seq("users"))
      .withColumn("prev", coalesce(lag(col("users"), 1).over(w), col("users")))
      .withColumn("conv_scaled", when(col("prev") > 0, expr("(users * 1000000) div prev")).otherwise(lit(0L)))
      .select(col("stage"), col("event_type"), col("users"), col("conv_scaled"))
  }

  /** Update-mode running counters: per-type cumulative event counts with
    * NO watermark — state never expires, every microbatch RE-EMITS the
    * keys it touched with their new running totals (the live-dashboard
    * output mode, distinct from append's emit-once-when-final and
    * complete's emit-everything). Counts are monotone, so the sink's
    * latest value per key is simply its MAX — which is how
    * [[runningCountersOneShot]] reads the final state deterministically
    * regardless of how many microbatches ran.
    */
  def runningCounters(events: DataFrame): DataFrame =
    events.groupBy(col("event_type")).agg(count(lit(1)).as("n"))

  /** Multi-microbatch parity runner for [[runningCounters]]: the input is
    * split in two files (`maxFilesPerTrigger=1`) so keys are UPDATED at
    * least twice and the update-mode re-emission actually runs; the final
    * per-key count (MAX over its updates) must equal the batch census.
    */
  def runningCountersOneShot(spark: SparkSession, eventsDf: DataFrame, queryName: String): DataFrame = {
    val colsInOrder = Seq("event_id", "ts", "user_id", "event_type", "value")
    val ev = eventsDf.select(colsInOrder.map(col): _*)
    val half = ev.filter(col("event_id") % 2 === 0)
    val rest = ev.filter(col("event_id") % 2 =!= 0)
    val dir = writeOrderedBatches(queryName, Seq(half.coalesce(1), rest.coalesce(1)))
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    val q = runningCounters(stream)
      .writeStream
      .outputMode(OutputMode.Update)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark
      .table(queryName)
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"))
  }

  /** Late-data drop audit, end to end: replay the log with the LAST
    * `hoursBack` hours first, then everything older as one late batch —
    * under `hourlyAgg`'s 2-hour watermark every pre-cutoff window has
    * closed before its data arrives, so append mode must drop ALL of it
    * and the sink equals the post-cutoff census EXACTLY. This is the
    * operational proof behind [[graft.operators.EventAnalytics
    * .latenessHistogram]]'s advice: data later than the declared watermark
    * doesn't trickle in, it VANISHES — measure the lateness distribution
    * first, then declare the delay.
    *
    * Batch choreography (measured on Spark 4.1, which splits the watermark
    * in two): LATE-EVENT filtering in batch N uses batch N−1's EVICTION
    * watermark, so the late batch must arrive two batch-boundaries after
    * the recent data — a carrier sentinel sits between them (without it
    * the "late" rows merge into still-open state and emit; the first cut
    * of this harness measured exactly that: the full census came back).
    * A final sentinel then flushes the surviving recent windows.
    */
  def lateDropOneShot(
      spark: SparkSession,
      eventsDf: DataFrame,
      queryName: String,
      hoursBack: Int = 12,
  ): DataFrame = {
    import spark.implicits._
    val colsInOrder = Seq("event_id", "ts", "user_id", "event_type", "value")
    val dec = org.apache.spark.sql.types.DecimalType(18, 4)
    val ev = eventsDf.select(colsInOrder.map(col): _*).withColumn("value", col("value").cast(dec))
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val hourUs = 3600000000L
    val maxUs = maxTs.getTime / 1000L * 1000000L + maxTs.getNanos / 1000L
    // hour-aligned cutoff: no window straddles it, so the drop set is exact
    val cutoffUs = (maxUs / hourUs - hoursBack) * hourUs
    val recent = ev.filter(unix_micros(col("ts")) >= cutoffUs)
    val late = ev.filter(unix_micros(col("ts")) < cutoffUs)
    def sentinel(id: Long, plusHours: Int) =
      Seq(Event(id, new Timestamp(maxTs.getTime + plusHours * 3600 * 1000L), -1L, "sentinel", 0.0))
        .toDF()
        .select(colsInOrder.map(col): _*)
        .withColumn("value", col("value").cast(dec))
    val dir = writeOrderedBatches(
      queryName,
      Seq(recent.coalesce(1), sentinel(-1L, 3), late.coalesce(1), sentinel(-2L, 4)),
    )
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    val q = hourlyAgg(stream)
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName).filter(col("event_type") =!= "sentinel")
  }

  def rateLimitStream(
      events: DataFrame,
      windowMinutes: Int = 10,
      watermark: String = "1 hour",
  ): DataFrame = {
    val winUs = windowMinutes.toLong * 60 * 1000000
    events
      .withColumn("bucket", expr(s"unix_micros(ts) div $winUs"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type", "bucket"))
      .select(col("user_id"), col("event_type"), col("bucket"), col("event_id"), unix_micros(col("ts")).as("kept_us"))
  }

  /** Batch-parity runner for [[rateLimitStream]]: the input is sorted by
    * (ts, event_id) and written as ONE file so "first arrived" equals
    * "earliest (ts, id)" — the batch operator's min-struct survivor — and
    * the whole run is one microbatch (the [[dedupOneShot]] stance).
    */
  def rateLimitOneShot(
      spark: SparkSession,
      eventsDf: DataFrame,
      queryName: String,
      windowMinutes: Int = 10,
  ): DataFrame = {
    val ordered = eventsDf.orderBy(col("ts"), col("event_id"))
    val stream = spark.readStream
      .schema(eventsDf.schema)
      .parquet(writeTemp(ordered, queryName, singleFile = true))
    val q = rateLimitStream(stream, windowMinutes)
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Batch-parity runner for [[sessionize]]: drive the events table through
    * the stateful flatMapGroupsWithState query with an AvailableNow one-shot
    * run and return EVERY session — proving stream == batch for custom state,
    * the way [[hourlyAggOneShot]] does for windowed aggs.
    *
    * Three ordered microbatches (`maxFilesPerTrigger=1`, mtime-ordered
    * files):
    *   0. ALL real events in one batch — the in-batch (ts, event_id) sort
    *      makes stateful processing equal to batch sessionization (no
    *      cross-batch out-of-order fragments);
    *   1. a sentinel event a day past the last real event — advances the
    *      max event time, so the watermark computed for the NEXT batch
    *      passes every open session's timeout;
    *   2. a second sentinel — the batch in which those timeouts fire
    *      (watermark updates take effect one batch after their data).
    * The sentinel user's own session never closes and is filtered out.
    */
  def sessionizeOneShot(
      spark: SparkSession,
      eventsDf: DataFrame,
      queryName: String,
      gapMinutes: Int = 30,
  ): DataFrame = {
    import spark.implicits._
    val colsInOrder = Seq("event_id", "ts", "user_id", "event_type", "value")
    val ev = eventsDf.select(colsInOrder.map(col): _*)
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val dayMs = 86400000L
    def sentinel(days: Int) =
      Seq(Event(-days.toLong, new Timestamp(maxTs.getTime + days * dayMs), -1L, "sentinel", 0.0))
        .toDF()
        .select(colsInOrder.map(col): _*)
    val dir = writeOrderedBatches(queryName, Seq(ev.coalesce(1), sentinel(1), sentinel(2)))
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    val q = sessionize(stream.as[Event], gapMinutes)
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName).filter(col("user_id") >= 0)
  }

  /** Fragment-path parity runner: drives [[sessionize]] with DELIBERATELY
    * out-of-order microbatches so the `t < start - gap` branch (singleton
    * fragment emission) runs against a DuckDB oracle — q53's harness proves
    * the happy path, this one proves the documented out-of-order semantics.
    *
    * Microbatch order (`maxFilesPerTrigger=1`, mtime-pinned):
    *   0. each user's LAST event (by ts, event_id) — opens a session at the
    *      end of the user's timeline;
    *   1. ALL other events — every event more than `gap` before that open
    *      session becomes a singleton fragment; the rest merge into it.
    *      The watermark delay exceeds the event-time span, so nothing is
    *      dropped as late;
    *   2./3. two sentinels far enough ahead that the event-time timeout
    *      fires for every open session despite the huge watermark delay.
    *
    * The resulting semantics are CLOSED-FORM (what the oracle encodes): with
    * T = the user's last event time, in-batch ascending processing means
    * every event with t < T - gap fragments (state start is still >= its
    * final value when such an event arrives), and every event with
    * t >= T - gap merges into the main session — the first merger drags
    * `start` down to its own t, and each later event lands inside
    * [start - gap, end + gap] because timestamps ascend. Main-session totals
    * accumulate in stream order: last event's value FIRST (batch 0), then
    * the mergers ascending.
    */
  def sessionizeOneShotOutOfOrder(
      spark: SparkSession,
      eventsDf: DataFrame,
      queryName: String,
      gapMinutes: Int = 30,
  ): DataFrame = {
    val (stream, wmMinutes) = outOfOrderEventStream(spark, eventsDf, queryName)
    val q = sessionize(stream, gapMinutes, watermarkMinutes = Some(wmMinutes))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName).filter(col("user_id") >= 0)
  }

  /** The microbatch layout shared by the two out-of-order harnesses
    * (q62/q66): batch 0 = each user's LAST event (by ts, event_id), batch 1
    * = everything else, then two sentinels. The watermark delay exceeds the
    * event-time span so batch-1 events are never late; the sentinels sit
    * past maxTs + delay + gap so the watermark computed from them passes
    * every open state's timeout. Returns the `maxFilesPerTrigger=1` stream
    * and the watermark minutes.
    */
  private def outOfOrderEventStream(
      spark: SparkSession,
      eventsDf: DataFrame,
      queryName: String,
  ): (Dataset[Event], Int) = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val colsInOrder = Seq("event_id", "ts", "user_id", "event_type", "value")
    val ev = eventsDf.select(colsInOrder.map(col): _*)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    val ranked = ev.withColumn("__rn", row_number().over(w)).localCheckpoint()
    val lastPerUser = ranked.filter(col("__rn") === 1).drop("__rn")
    val rest = ranked.filter(col("__rn") > 1).drop("__rn")
    val (minTs, maxTs) = {
      val r = ev.agg(min(col("ts")), max(col("ts"))).head()
      (r.getTimestamp(0), r.getTimestamp(1))
    }
    val spanDays = ((maxTs.getTime - minTs.getTime) / 86400000L + 2).toInt
    val dayMs = 86400000L
    def sentinel(days: Int) =
      Seq(Event(-days.toLong, new Timestamp(maxTs.getTime + days * dayMs), -1L, "sentinel", 0.0))
        .toDF(colsInOrder: _*)
    val dir = writeOrderedBatches(
      queryName,
      Seq(lastPerUser.coalesce(1), rest.coalesce(1), sentinel(spanDays + 2), sentinel(spanDays + 3)),
    )
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    (stream.as[Event], spanDays * 24 * 60)
  }

  /** Stream-stream INTERVAL JOIN, one-shot: clicks joined to the same
    * user's purchases within the preceding hour, both sides real file
    * streams. This is the third streaming operator class after windowed
    * aggregation (q33) and arbitrary state (q53/q62): a binary stateful
    * operator whose buffered state is bounded by watermark + interval
    * (each side can discard rows once the other side's watermark passes
    * `ts + interval`). The AvailableNow run ingests both sides and must
    * equal the batch join — checked by the q65 oracle.
    */
  def intervalJoinOneShot(spark: SparkSession, eventsDf: DataFrame, queryName: String): DataFrame = {
    val clicks = eventsDf
      .filter(col("event_type") === "click")
      .select(
        col("event_id").as("click_id"),
        col("ts").as("cts"),
        col("user_id").as("c_user"),
        col("value").as("click_value"),
      )
    val purchases = eventsDf
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("purchase_id"),
        col("ts").as("pts"),
        col("user_id").as("p_user"),
        col("value").as("purchase_value"),
      )
    def fileStream(df: DataFrame, name: String) =
      spark.readStream.schema(df.schema).parquet(writeTemp(df, name, singleFile = true))
    val c = fileStream(clicks, s"${queryName}_c").withWatermark("cts", "2 hours")
    val p = fileStream(purchases, s"${queryName}_p").withWatermark("pts", "2 hours")
    val joined = c.join(p, expr("c_user = p_user AND pts BETWEEN cts - INTERVAL 1 HOUR AND cts"))
    val q = joined.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Write each DataFrame as one parquet file `<i>.parquet` under a fresh
    * `graft_stream_<name>` temp dir ([[graft.Harness.tempDir]]), with
    * STRICTLY increasing mtimes — file sources pick oldest-first, so this
    * pins the microbatch order the one-shot harnesses depend on. A silent
    * mtime failure (some filesystems/containers) would let the sentinel
    * batch be read before the events batch, advancing the watermark and
    * dropping every real event — hence the loud `require`, not a boolean
    * discard. Each batch stages in a hidden `_scratch<i>` subdir that is
    * removed right after its file moves out. Returns the dir.
    */
  private def writeOrderedBatches(name: String, batches: Seq[DataFrame]): java.nio.file.Path = {
    val dir = graft.Harness.tempDir(s"graft_stream_$name")
    batches.zipWithIndex.foreach { case (df, i) =>
      val scratch = dir.resolve(s"_scratch$i")
      df.write.mode("overwrite").parquet(scratch.toString)
      val part = scratch.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = dir.resolve(s"$i.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      require(
        dst.toFile.setLastModified((i + 1) * 1000000L),
        s"setLastModified failed for $dst: cannot pin microbatch order on this filesystem — " +
          "the stream would read batches in arbitrary order and drop watermarked events",
      )
      deleteRecursively(scratch.toFile)
    }
    dir
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Batch-parity runner for a STATELESS transform (the quality-gate /
    * curation-filter shape — no state, no watermark): stream `df` through
    * `transform` via a real AvailableNow run into a memory sink. Streaming
    * == batch for stateless plans is trivial in theory; this pins it
    * through the actual microbatch machinery, so the batch quality gates
    * drop into an incremental ingestion pipeline unchanged.
    */
  /** Continuous-ingest image dedup — the composition a production
    * training-data intake runs: REAL pixel decode + perceptual aHash
    * INSIDE the microbatch (the q243 stateless pass), then
    * `dropDuplicatesWithinWatermark` on the 64-bit hash (the [[dedupStream]]
    * state shape) — the first-arrived image per perceptual signature
    * survives, later re-encodes/re-uploads drop, and state is bounded by
    * the watermark horizon (O(distinct signatures in the horizon), never
    * the corpus).
    *
    * Batch-parity stance ([[rateLimitOneShot]]): input sorted by
    * (ts, media_id) and written as ONE file, so "first arrived" equals the
    * min-(ts, id) survivor the batch closed form picks, and the whole run
    * is one microbatch. `media` must carry (media_id, content, ts).
    *
    * Undecodable payloads are dropped BEFORE the dedup state (they share
    * one sentinel signature and would otherwise dedup against each other —
    * the [[graft.operators.Multimodal.imageDedupKeepBest]] pre-filter
    * contract applied to the stream).
    */
  def imageDedupOneShot(
      spark: SparkSession,
      media: DataFrame,
      queryName: String,
      watermark: String = "1 hour",
  ): DataFrame = {
    import spark.implicits._
    val ordered = media.orderBy(col("ts"), col("media_id"))
    val dir = writeTemp(ordered, queryName, singleFile = true)
    // Parity guard: the min-(ts, id)-survivor contract above holds only
    // while the single temp file is read as ONE input split — past
    // `spark.sql.files.maxPartitionBytes` the file-source splits it across
    // row groups and shuffle interleaving makes the first-arrival survivor
    // nondeterministic. Fail LOUDLY at that boundary instead of silently
    // breaking the batch-parity oracle at a larger corpus. (A production
    // continuous stream has no batch-parity claim to protect — this guard
    // is about the one-shot harness semantics, not a scale limit of the
    // dedup itself, whose state stays O(signatures in the horizon).)
    val fileBytes = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.length())
      .sum
    // Spark's EFFECTIVE max split is NOT maxPartitionBytes alone: the file
    // source (FilePartition.maxSplitBytes) takes
    // min(maxPartitionBytes, max(openCostInBytes, bytesPerCore)) where
    // bytesPerCore = (Σ file bytes + openCost per file) / minPartitionNum —
    // a file between openCost (4 MB default) and maxPartitionBytes (128 MB)
    // still splits across cores. Guarding only against maxPartitionBytes
    // would pass such a file and silently break the min-(ts,id) survivor
    // contract; mirror the real formula instead.
    val maxSplit = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    val openCost = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf.get("spark.sql.files.openCostInBytes", "4194304"))
    val minPartitionNum = spark.conf
      .getOption("spark.sql.files.minPartitionNum")
      .map(_.toLong)
      .getOrElse(spark.sparkContext.defaultParallelism.toLong)
      .max(1L)
    val bytesPerCore = (fileBytes + openCost) / minPartitionNum
    val effectiveSplit = math.min(maxSplit, math.max(openCost, bytesPerCore))
    require(
      fileBytes <= effectiveSplit,
      s"imageDedupOneShot: temp corpus is $fileBytes bytes > the effective max split $effectiveSplit " +
        s"(min(maxPartitionBytes=$maxSplit, max(openCostInBytes=$openCost, bytesPerCore=$bytesPerCore))) — " +
        "the source would split into multiple partitions and the first-arrived (min-(ts,id)) survivor " +
        "becomes nondeterministic. Raise maxPartitionBytes AND openCostInBytes (or minPartitionNum=1) " +
        "for the one-shot run, or shrink the batch.",
    )
    val stream = spark.readStream
      .schema(ordered.schema)
      .parquet(dir)
    val hashed = stream
      .select(col("media_id"), col("content"), col("ts"))
      .as[(Long, Array[Byte], Timestamp)]
      .mapPartitions(_.map { case (id, bytes, ts) =>
        // Shared decode core: thread-local reader, memory-backed stream
        // (see Multimodal.decodeImage) — same null-on-undecodable contract.
        val img = graft.operators.Multimodal.decodeImage(bytes)
        if (img == null || img.getWidth < 1 || img.getHeight < 1) (id, -1L, -1L, ts)
        else {
          val h = graft.operators.Multimodal.aHashBits(img)
          (id, h >>> 32, h & 0xffffffffL, ts)
        }
      })
      .toDF("media_id", "ahash_hi", "ahash_lo", "ts")
    val q = hashed
      .filter(col("ahash_hi") >= 0)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("ahash_hi", "ahash_lo"))
      .select(col("media_id"), col("ahash_hi"), col("ahash_lo"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Continuous ANN index ingest — the streaming half of the
    * [[graft.operators.IvfIndex.appendToAdcIndex]] workflow: new vectors
    * arrive on a stream and each microbatch encodes them with the
    * persisted index's FROZEN centroids + codebooks (a map-only pass —
    * no state, no watermark) and appends posting-list partitions via
    * `foreachBatch` + the BATCH lake writer. foreachBatch (not a
    * streaming file sink) is deliberate: a streaming parquet sink plants
    * a `_spark_metadata` log at the path root, and a later batch read of
    * the codes table would then see ONLY the log's files — silently
    * dropping the base index. The batch-appended layout keeps the q258
    * dynamic-partition-pruned serving read working unchanged, and the
    * result is hash-identical to the batch append (q262 shares q259's
    * oracle verbatim).
    *
    * Delivery is EXACTLY-ONCE-EFFECTIVE: each microbatch lands through
    * [[graft.operators.IvfIndex.appendToAdcIndex]]'s batch-keyed layout
    * (`batchId = Some(id)` — the batch's files are named `batch<id>-…`
    * and a landing deletes its own prior files first), so a microbatch
    * replayed after a crash-between-append-and-checkpoint re-lands the
    * IDENTICAL final state instead of doubling its rows in the served
    * posting lists. Restartability still needs a DURABLE checkpoint —
    * pass `checkpointDir`; the default is a temp one that dies with the
    * session. The idempotency window ends at the first op that rewrites
    * the batch's files away from their `batch<id>-` names — compaction
    * ([[graft.operators.IvfIndex.compactAdcIndexCodes]] bins victim
    * files) or a drift repair of a cell the batch landed in
    * ([[graft.operators.IvfIndex.repairDriftedIndexCells]] re-encodes
    * whole cells). Both ops take the checkpoint's committed offset as
    * their `minRetainedBatchId` watermark and refuse loudly to rewrite a
    * landing the checkpoint has not committed past — so the fence is
    * enforced, not assumed: compaction retains un-fenced landings under
    * their names; repair refuses the whole index while ANY un-fenced
    * landing exists (its centroid moves would re-route a replay's rows
    * past the landing's original files).
    */
  def indexIngestOneShot(
      spark: SparkSession,
      increment: DataFrame,
      indexDir: String,
      idCol: String,
      vecCol: String,
      m: Int,
      queryName: String,
      checkpointDir: Option[String] = None,
  ): Unit = {
    val stream = spark.readStream.schema(increment.schema).parquet(writeTemp(increment, queryName))
    val writer = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        graft.operators.IvfIndex
          .appendToAdcIndex(spark, indexDir, batch.toDF(), idCol, vecCol, m, batchId = Some(bid))
        ()
      }
      .trigger(Trigger.AvailableNow())
    val q = checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d)).start()
    q.awaitTermination()
  }

  /** [[indexIngestOneShot]] for a MANIFEST-committed index: each
    * microbatch lands batch-keyed ([[graft.operators.IvfIndex.appendToAdcIndex]])
    * and then COMMITS a manifest generation referencing exactly its files
    * ([[graft.operators.IvfIndex.commitAdcBatchToManifest]]), with the
    * listing bounded to the cells the landing itself reported (O(touched),
    * never O(nlist)). Snapshot readers ([[graft.operators.IvfIndex.adcTopKFromSnapshot]])
    * see each batch atomically — a landed-but-uncommitted batch is
    * invisible, and the commit is one generation object.
    *
    * Crash windows (both convergent): before the manifest commit, the
    * replay re-lands the identical rows under fresh names and its own
    * commit supersedes — the orphaned files were never referenced, so
    * cleanup ignores them; between the manifest commit and the CHECKPOINT
    * commit, the replay's delete invalidates the just-committed
    * generation's refs to this batch until its re-commit heals them —
    * production fences snapshot serving to generations behind the
    * checkpoint offset (the same fence the compaction watermark enforces).
    */
  def indexIngestOneShotManifest(
      spark: SparkSession,
      increment: DataFrame,
      indexDir: String,
      idCol: String,
      vecCol: String,
      m: Int,
      queryName: String,
      checkpointDir: Option[String] = None,
  ): Unit = {
    val stream = spark.readStream.schema(increment.schema).parquet(writeTemp(increment, queryName))
    val writer = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        val cells = graft.operators.IvfIndex
          .appendToAdcIndex(spark, indexDir, batch.toDF(), idCol, vecCol, m, batchId = Some(bid))
        // an EMPTY microbatch lands no files — a legitimate no-op, not a
        // generation (commitAdcBatchToManifest would loudly refuse a
        // zero-file batch, which is right for a lost landing but wrong
        // for a source that delivered zero rows)
        if (cells.nonEmpty)
          graft.operators.IvfIndex.commitAdcBatchToManifest(spark, indexDir, bid, Some(cells))
        ()
      }
      .trigger(Trigger.AvailableNow())
    val q = checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d)).start()
    q.awaitTermination()
  }

  /** Continuous dedup-index ingest — the streaming half of the
    * [[graft.operators.Dedup.appendDedupIndex]] workflow, the end-of-batch
    * step of a standing dedup pipeline run as a stream: accepted docs
    * arrive, each microbatch signs ITSELF
    * ([[graft.operators.Dedup.buildDedupIndex]] — one map-only
    * projection, no state, no watermark) and lands BATCH-KEYED into the
    * persisted index, so the next batch dedups against it too.
    *
    * Delivery is EXACTLY-ONCE-EFFECTIVE by the same contract as
    * [[indexIngestOneShot]]: the landing names its files `batch<id>-…`
    * and sweeps its own prior landing first, so a microbatch replayed
    * after a crash-between-landing-and-checkpoint re-lands the identical
    * final state instead of silently doubling its signatures (doubled
    * signatures never under-dedup, but every later near-dup verify pays
    * the duplicate candidates). The idempotency window ends at
    * [[graft.operators.Dedup.compactDedupIndex]], which takes the
    * checkpoint's committed offset as its `minRetainedBatchId` watermark
    * and refuses loudly to rewrite a landing the checkpoint has not
    * committed past. An empty microbatch lands nothing — a zero-row
    * source delivery is a no-op, not a stray empty file. Restartability
    * needs a DURABLE `checkpointDir`; the default temp one dies with the
    * session.
    */
  def dedupIndexIngestOneShot(
      spark: SparkSession,
      docs: DataFrame,
      indexPath: String,
      idCol: String,
      textCol: String,
      queryName: String,
      k: Int = 8,
      checkpointDir: Option[String] = None,
  ): Unit = {
    val stream = spark.readStream.schema(docs.schema).parquet(writeTemp(docs, queryName))
    val writer = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        if (!batch.isEmpty)
          graft.operators.Dedup.appendDedupIndex(
            graft.operators.Dedup.buildDedupIndex(batch.toDF(), idCol, textCol, k),
            indexPath,
            batchId = Some(bid),
          )
        ()
      }
      .trigger(Trigger.AvailableNow())
    val q = checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d)).start()
    q.awaitTermination()
  }

  /** [[dedupIndexIngestOneShot]] for a MANIFEST-committed dedup index:
    * each microbatch signs itself, lands batch-keyed, and COMMITS a
    * manifest generation referencing exactly its files
    * ([[graft.operators.Dedup.commitDedupBatchToManifest]]) — snapshot
    * readers ([[graft.operators.Dedup.loadDedupIndexSnapshot]]) see each
    * batch atomically, and both crash windows converge exactly as the
    * ANN manifest ingest's do (orphans never referenced; a replay's
    * re-commit heals refs). An empty microbatch is a no-op, not a
    * generation.
    */
  def dedupIndexIngestOneShotManifest(
      spark: SparkSession,
      docs: DataFrame,
      indexPath: String,
      idCol: String,
      textCol: String,
      queryName: String,
      k: Int = 8,
      checkpointDir: Option[String] = None,
  ): Unit = {
    val stream = spark.readStream.schema(docs.schema).parquet(writeTemp(docs, queryName))
    val writer = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        if (!batch.isEmpty) {
          graft.operators.Dedup.appendDedupIndex(
            graft.operators.Dedup.buildDedupIndex(batch.toDF(), idCol, textCol, k),
            indexPath,
            batchId = Some(bid),
          )
          graft.operators.Dedup.commitDedupBatchToManifest(spark, indexPath, bid)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
    val q = checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d)).start()
    q.awaitTermination()
  }

  /** ONE stream, BOTH artifacts of record — the standing dual-ingest tick
    * for the pipeline where each accepted batch must reach the dedup
    * signature index AND the ANN codes index. Each microbatch lands and
    * commits into the dedup chain, then the ANN chain, batch-keyed by the
    * SAME microbatch id; after the stream drains, the run verifies that
    * both chain heads cover every batch it committed
    * ([[graft.operators.Consistency.requireCoverage]]) — "ingest batch B
    * into both artifacts, then check both heads cover B" as one
    * composition. The verification is FOLD-AWARE: a concurrent
    * maintenance compaction that folds a just-committed batch's landings
    * into bins makes its id unobservable from that head's refs, but the
    * compactor persists its fold watermark and the gate counts
    * at-or-below-watermark ids as covered — racing the maintenance
    * cadence cannot make a clean tick refuse as a manufactured
    * divergence. Returns the committed batch ids (the census window).
    *
    * Crash windows, in landing order: before the dedup commit — neither
    * chain references the batch; the replay re-lands both sides.
    * BETWEEN the two commits — the batch is in the dedup chain only,
    * exactly the divergence the coverage gate exists for: this run never
    * reaches its verification (it crashed), the NEXT run's replay
    * re-lands both sides under the same batch id (the dedup re-commit
    * heals its refs, the ANN commit completes the pair), and a
    * maintenance-cadence [[graft.operators.Consistency.crossArtifactCoverage]]
    * census run between the crash and the replay reports the batch
    * `dedup_only` — loud, with the re-land remediation in the gate's
    * refusal text. After both commits but before the checkpoint — the
    * replay re-lands both sides idempotently (each side's re-commit
    * heals its own refs).
    */
  def dualIngestOneShotManifest(
      spark: SparkSession,
      rows: DataFrame,
      dedupIndexPath: String,
      annIndexDir: String,
      idCol: String,
      textCol: String,
      vecCol: String,
      m: Int,
      queryName: String,
      k: Int = 8,
      checkpointDir: Option[String] = None,
  ): Seq[Long] = {
    val committed = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val stream = spark.readStream.schema(rows.schema).parquet(writeTemp(rows, queryName))
    val writer = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        if (!batch.isEmpty) {
          val df = batch.toDF()
          graft.operators.Dedup.appendDedupIndex(
            graft.operators.Dedup.buildDedupIndex(df, idCol, textCol, k),
            dedupIndexPath,
            batchId = Some(bid),
          )
          graft.operators.Dedup.commitDedupBatchToManifest(spark, dedupIndexPath, bid)
          val cells = graft.operators.IvfIndex
            .appendToAdcIndex(spark, annIndexDir, df, idCol, vecCol, m, batchId = Some(bid))
          // Commit UNCONDITIONALLY: a non-empty batch that landed no ANN
          // files is a pipeline-contract violation (rows whose vectors
          // vanish in the encode), and commitAdcBatchToManifest's own
          // "left no files" require names it at the true cause — far
          // better than skipping the commit, adding the batch to the
          // census window, and reporting a false "crashed between
          // commits" divergence no re-land could ever heal. (An EMPTY
          // microbatch is already a no-op on both sides, above.)
          graft.operators.IvfIndex.commitAdcBatchToManifest(spark, annIndexDir, bid, Some(cells))
          committed.add(bid)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
    val q = checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d)).start()
    q.awaitTermination()
    val bids = committed.toArray(Array.empty[java.lang.Long]).toSeq.map(_.longValue).sorted
    graft.operators.Consistency.requireCoverage(spark, dedupIndexPath, annIndexDir, bids)
    bids
  }

  def statelessOneShot(
      spark: SparkSession,
      df: DataFrame,
      queryName: String,
      transform: DataFrame => DataFrame,
  ): DataFrame = {
    val stream = spark.readStream.schema(df.schema).parquet(writeTemp(df, queryName))
    val q = transform(stream).writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  private def writeTemp(df: DataFrame, name: String, singleFile: Boolean = false): String = {
    // unique per invocation — a fixed path would let concurrent runs
    // overwrite each other's files mid-scan. The HARNESS scratch (this
    // temp parquet exists only to drive a real microbatch source over
    // batch data) prefers tmpfs: it is not what a production stream
    // reads, and disk-backed /tmp made the streaming queries' bench
    // numbers measure the machine's page cache instead of the plan
    // (observed 2-4× run-to-run spread). tmpfs is picked only when it is
    // PLAUSIBLY big enough — a default Docker /dev/shm is 64 MB and would
    // fail mid-write where /tmp succeeds, so small tmpfs falls through to
    // the JVM temp dir.
    val shm = java.nio.file.Paths.get("/dev/shm")
    val bigEnough = java.nio.file.Files.isWritable(shm) &&
      (try java.nio.file.Files.getFileStore(shm).getUsableSpace >= (8L << 30)
       catch { case _: java.io.IOException => false })
    val dir = graft.Harness.tempDir(s"graft_stream_$name", if (bigEnough) Some(shm) else None)
    (if (singleFile) df.coalesce(1) else df).write.mode("overwrite").parquet(dir.toString)
    dir.toString
  }
}
