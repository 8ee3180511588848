package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("hourlyAggOneShot: streaming result equals batch result") {
    val ev = Tables
      .events(spark, sf())
      .select(col("ts"), col("event_type"), col("value"))
    val streaming = EventStream
      .hourlyAggOneShot(spark, ev, "graft_test_hourly")
      .select(col("hour"), col("event_type"), col("n"))
      .as[(Timestamp, String, Long)]
      .collect()
      .toSet
    val batch = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(Timestamp, String, Long)]
      .collect()
      .toSet
    assert(streaming == batch)
    assert(streaming.nonEmpty)
  }

  test("watermark drops late data in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStream
      .hourlyAgg(input.toDF(), watermark = "1 hour")
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("graft_late")
      .start()
    input.addData(
      Event(1, ts("2024-01-01 10:15:00"), 1, "view", 1.0),
      Event(2, ts("2024-01-01 10:45:00"), 1, "view", 1.0),
    )
    query.processAllAvailable()
    // watermark jumps to 13:00-1h = 12:00 -> the 10:00 window closes and emits
    input.addData(Event(3, ts("2024-01-01 13:00:00"), 1, "view", 1.0))
    query.processAllAvailable()
    // LATE: event for the already-closed 10:00 window — must be dropped
    input.addData(Event(4, ts("2024-01-01 10:30:00"), 1, "view", 99.0))
    query.processAllAvailable()
    input.addData(Event(5, ts("2024-01-01 16:00:00"), 1, "view", 1.0))
    query.processAllAvailable()
    val rows = spark
      .table("graft_late")
      .select(col("hour").cast("string"), col("n"))
      .as[(String, Long)]
      .collect()
      .toMap
    query.stop()
    assert(rows("2024-01-01 10:00:00") == 2L, s"late event must not inflate the closed window: $rows")
  }

  test("dedupStream: duplicate event ids within the watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStream
      .dedupStream(input.toDF(), Seq("event_id"), watermark = "1 hour")
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("graft_dedup")
      .start()
    input.addData(
      Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
      Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0), // same batch dup
      Event(2, ts("2024-01-01 10:01:00"), 1, "click", 2.0),
    )
    query.processAllAvailable()
    input.addData(Event(1, ts("2024-01-01 10:05:00"), 1, "view", 1.0)) // cross-batch dup
    query.processAllAvailable()
    input.addData(Event(3, ts("2024-01-01 10:10:00"), 2, "view", 3.0))
    query.processAllAvailable()
    val ids = spark.table("graft_dedup").select("event_id").as[Long].collect().sorted.toSeq
    query.stop()
    assert(ids == Seq(1L, 2L, 3L), s"got $ids")
  }

  test("ohlcOneShot: streaming OHLC bars equal the batch operator on real events") {
    val ev = graft.Tables.events(spark, sf())
    val got = EventStream
      .ohlcOneShot(spark, ev, "graft_ohlc_spec")
      .collect()
      .map(r => (r.getString(1), r.getLong(0)) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
      .toMap
    val want = graft.operators.EventAnalytics
      .ohlcBars(ev, "event_type", "ts", "event_id", "value", barHours = 1)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
      .toMap
    assert(got == want && want.nonEmpty)
  }

  test("sessionizeOneShot: stateful streaming sessions equal batch sessionization") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables
      .events(spark, sf())
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val streamed = EventStream
      .sessionizeOneShot(spark, ev, "graft_test_sessions")
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .as[(Long, Timestamp, Timestamp, Long)]
      .collect()
      .toSet
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = ev
      .withColumn("prev", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn(
        "new_s",
        when(col("prev").isNull || unix_micros(col("ts")) - col("prev") > 30L * 60 * 1000000, 1).otherwise(0),
      )
      .withColumn("sid", sum(col("new_s")).over(w))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"), count(lit(1)).as("n"))
      .select(col("user_id"), col("s"), col("e"), col("n"))
      .as[(Long, Timestamp, Timestamp, Long)]
      .collect()
      .toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch, s"stream-batch diff: ${(streamed diff batch).take(3)} / ${(batch diff streamed).take(3)}")
  }

  test("sessionize: gap splits sessions, state emits closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStream
      .sessionize(input.toDS(), gapMinutes = 30)
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("graft_sessions")
      .start()

    // user 1: two sessions separated by > 30min; user 2: one session.
    input.addData(
      Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
      Event(2, ts("2024-01-01 10:10:00"), 1, "click", 2.0),
      Event(3, ts("2024-01-01 12:00:00"), 1, "view", 3.0),
      Event(4, ts("2024-01-01 10:05:00"), 2, "view", 5.0),
    )
    query.processAllAvailable()
    // advance watermark far past everything so open sessions time out
    input.addData(Event(99, ts("2024-01-02 00:00:00"), 9, "view", 0.0))
    query.processAllAvailable()
    input.addData(Event(100, ts("2024-01-03 00:00:00"), 9, "view", 0.0))
    query.processAllAvailable()
    val sessions = spark.table("graft_sessions").as[Session].collect().toSeq
    query.stop()

    val u1 = sessions.filter(_.user_id == 1).sortBy(_.session_start.getTime)
    assert(u1.length == 2, s"expected 2 sessions for user 1, got $sessions")
    assert(u1.head.n_events == 2 && u1.head.total_value == 3.0)
    assert(u1.head.session_end == ts("2024-01-01 10:10:00"))
    assert(u1(1).n_events == 1 && u1(1).total_value == 3.0)
    val u2 = sessions.filter(_.user_id == 2)
    assert(u2.length == 1 && u2.head.n_events == 1 && u2.head.total_value == 5.0)
  }

  test("boundary: gap of exactly 30min MERGES in both session operators; >gap splits") {
    // Pins the q59/q53 boundary by data (the events table has no exactly-
    // 30min inter-event gap, so the oracles alone can't tell >= from >).
    // MEASURED, not assumed: session_window's [t, t+gap) windows merge on
    // adjacency too (next start == current end), so an exactly-gap pair
    // MERGES — the same strict-> boundary as the custom sessionize. The two
    // operators differ only in session_end (last event + gap vs last event).
    val exactGap = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
      Event(2, ts("2024-01-01 10:30:00"), 1, "view", 2.0),
    )
    val merged = exactGap
      .toDF()
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .count()
      .select(col("w.start").cast("string"), col("w.end").cast("string"))
      .as[(String, String)]
      .collect()
      .toSeq
    assert(
      merged == Seq(("2024-01-01 10:00:00", "2024-01-01 11:00:00")),
      s"exact-gap events must merge into one window ending last+gap: $merged",
    )
    val overGap = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
      Event(2, ts("2024-01-01 10:30:01"), 1, "view", 2.0),
    )
    val nOver = overGap.toDF().groupBy(session_window(col("ts"), "30 minutes"), col("user_id")).count().count()
    assert(nOver == 2, "a gap one second past 30min must split session_window")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStream
      .sessionize(input.toDS(), gapMinutes = 30)
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("graft_sessions_boundary")
      .start()
    input.addData(exactGap: _*)
    query.processAllAvailable()
    input.addData(Event(99, ts("2024-01-02 00:00:00"), 9, "view", 0.0))
    query.processAllAvailable()
    input.addData(Event(100, ts("2024-01-03 00:00:00"), 9, "view", 0.0))
    query.processAllAvailable()
    val sessions = spark.table("graft_sessions_boundary").as[Session].collect().toSeq.filter(_.user_id == 1)
    query.stop()
    assert(sessions.length == 1, s"sessionize must merge a gap of exactly 30min: $sessions")
    assert(sessions.head.n_events == 2 && sessions.head.session_end == ts("2024-01-01 10:30:00"))
  }

  test("sessionizeExact: out-of-order fragments bridge-merge to the batch result") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStream
      .sessionizeExact(input.toDS(), gapMinutes = 30, watermarkMinutes = Some(360))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("graft_sessions_exact")
      .start()
    // worst case for single-session state: latest event first, then a
    // far-earlier event (separate fragment), then the bridge between them
    input.addData(Event(3, ts("2024-01-01 10:50:00"), 1, "view", 3.0))
    query.processAllAvailable()
    input.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0))
    query.processAllAvailable()
    input.addData(Event(2, ts("2024-01-01 10:25:00"), 1, "view", 2.0))
    query.processAllAvailable()
    input.addData(Event(99, ts("2024-01-02 10:00:00"), 9, "view", 0.0))
    query.processAllAvailable()
    input.addData(Event(100, ts("2024-01-03 10:00:00"), 9, "view", 0.0))
    query.processAllAvailable()
    val sessions = spark.table("graft_sessions_exact").as[Session].collect().toSeq.filter(_.user_id == 1)
    query.stop()
    assert(sessions.length == 1, s"fragments must bridge-merge into one session: $sessions")
    val s = sessions.head
    assert(s.session_start == ts("2024-01-01 10:00:00") && s.session_end == ts("2024-01-01 10:50:00"))
    assert(s.n_events == 3 && s.total_value == 6.0)
  }

  test("sessionize: out-of-order events extend earlier within gap, fragment beyond it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStream
      // watermark looser than the gap so far-out-of-order events arrive
      // non-late and exercise the fragment path
      .sessionize(input.toDS(), gapMinutes = 30, watermarkMinutes = Some(360))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("graft_sessions_ooo")
      .start()
    input.addData(Event(1, ts("2024-01-01 12:00:00"), 1, "view", 1.0))
    query.processAllAvailable()
    // in-gap earlier event: extends session start backwards
    input.addData(Event(2, ts("2024-01-01 11:45:00"), 1, "view", 2.0))
    query.processAllAvailable()
    // far-earlier event (within watermark, before the session window):
    // emitted as a singleton fragment, open session intact
    input.addData(Event(3, ts("2024-01-01 08:00:00"), 1, "view", 4.0))
    query.processAllAvailable()
    // advance watermark to close everything
    input.addData(Event(99, ts("2024-01-02 10:00:00"), 9, "view", 0.0))
    query.processAllAvailable()
    input.addData(Event(100, ts("2024-01-03 10:00:00"), 9, "view", 0.0))
    query.processAllAvailable()
    val sessions = spark.table("graft_sessions_ooo").as[Session].collect().toSeq
    query.stop()
    val u1 = sessions.filter(_.user_id == 1).sortBy(_.session_start.getTime)
    assert(u1.length == 2, s"expected fragment + main session, got $u1")
    assert(u1.head.session_start == ts("2024-01-01 08:00:00") && u1.head.n_events == 1)
    assert(u1(1).session_start == ts("2024-01-01 11:45:00"), s"start must extend backwards: ${u1(1)}")
    assert(u1(1).n_events == 2 && u1(1).total_value == 3.0)
  }

  test("funnelOneShot: streaming funnel equals the batch operator on real events") {
    val ev = Tables.events(spark, sf())
    val stages = Seq("view", "click", "purchase")
    val streaming = EventStream
      .funnelOneShot(spark, ev, stages, "graft_test_funnel")
      .as[(Int, String, Long, Long)]
      .collect()
      .toSet
    val batch = graft.operators.EventAnalytics
      .funnel(ev, "user_id", "ts", "event_type", stages)
      .as[(Int, String, Long, Long)]
      .collect()
      .toSet
    assert(streaming == batch && streaming.nonEmpty)
  }

  test("funnelStream: strict order enforced — a pre-stage click never counts") {
    import graft.streaming.EventStream.Event
    def ts(us: Long) = { val t = new Timestamp(us / 1000); t.setNanos((us % 1000000L).toInt * 1000); t }
    // user 1: click BEFORE any view, then view -> reaches stage 1 only;
    // user 2: view then click at the SAME microsecond -> strict > rejects.
    val ev = Seq(
      Event(1L, ts(1000000L), 1L, "click", 0.0),
      Event(2L, ts(2000000L), 1L, "view", 0.0),
      Event(3L, ts(5000000L), 2L, "view", 0.0),
      Event(4L, ts(5000000L), 2L, "click", 0.0),
    ).toDF()
    val out = EventStream
      .funnelOneShot(spark, ev, Seq("view", "click"), "graft_test_funnel_strict")
      .collect()
      .map(r => r.getInt(0) -> r.getLong(2))
      .toMap
    assert(out == Map(1 -> 2L, 2 -> 0L))
  }

  test("runningCountersOneShot: update mode re-emits per microbatch; final state == census") {
    val ev = Tables.events(spark, sf())
    val out = EventStream
      .runningCountersOneShot(spark, ev, "graft_test_counters")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val census = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == census)
    // re-emission proof: the sink holds MORE update rows than keys (every
    // type appears in both microbatches on this data).
    val sinkRows = spark.table("graft_test_counters").count()
    assert(sinkRows > census.size)
  }

  test("lateDropOneShot: everything older than the cutoff vanishes; survivors equal the batch census") {
    val ev = Tables.events(spark, sf())
    val out = EventStream.lateDropOneShot(spark, ev, "graft_test_latedrop", hoursBack = 12)
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val cutoff = (maxUs / 3600000000L - 12) * 3600000000L
    val expect = ev
      .filter(unix_micros(col("ts")) >= cutoff)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(Timestamp, String, Long)].collect().toSet
    val got = out.select(col("hour"), col("event_type"), col("n"))
      .as[(Timestamp, String, Long)].collect().toSet
    assert(got == expect && got.nonEmpty)
    // and the drop is real: the full census is strictly larger.
    val full = ev.groupBy(date_trunc("hour", col("ts")), col("event_type")).count().count()
    assert(full > got.size)
  }

  test("imageDedupOneShot: first-arrived survivor per perceptual signature, undecodables dropped") {
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions._
    // ids 0,1,2 share content id 0 (exact duplicate pixels), 3,4,5 share 3;
    // id 99 is garbage (undecodable) and must vanish, never dedup-collide
    val docs = Seq(0L, 1L, 2L, 3L, 4L, 5L).toDF("doc_id")
      .withColumn("cid", col("doc_id") - col("doc_id") % 3)
    val media = Multimodal
      .synthesizePng(docs, "doc_id", contentIdCol = Some("cid"))
      .toDF()
      .union(
        Seq((99L, "image", "not an image".getBytes("utf-8"), "s"))
          .toDF("media_id", "media_type", "content", "source")
      )
      .withColumn("ts", timestamp_micros(lit(1704067200000000L) + col("media_id") * 1000000L))
    val got = EventStream
      .imageDedupOneShot(spark, media, "graft_spec_imgdedup")
      .collect()
      .map(_.getLong(0))
      .sorted
      .toSeq
    assert(got == Seq(0L, 3L), s"one survivor per content group, min id, no sentinel rows: $got")
  }

  test("checkpoint recovery: crash between sink write and commit replays the batch exactly once") {
    // The semantics a daily production one-shot depends on after a crash:
    // restart from the SAME checkpoint must (a) not reprocess committed
    // batches, (b) replay the in-flight batch with identical offsets, and
    // (c) with a batchId-keyed idempotent sink, leave every input row in
    // the output exactly once. The crash is injected at the worst point —
    // AFTER the sink write, BEFORE the checkpoint commit.
    val in = SparkSpec.tempDir("graft_ckpt_in").toString
    val out = SparkSpec.tempDir("graft_ckpt_out").toString
    val ckpt = SparkSpec.tempDir("graft_ckpt_log").toString
    // three input files -> three microbatches under maxFilesPerTrigger=1
    (0 until 3).foreach { f =>
      spark.range(f * 10, f * 10 + 10).selectExpr("id", s"$f as file_id")
        .coalesce(1).write.parquet(s"$in/f$f")
    }
    val schema = spark.read.parquet(s"$in/f0").schema
    val writesPerBatch = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
    def run(failOnBatch: Option[Long]): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in + "/*")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          // idempotent, batchId-keyed overwrite: the replayed batch lands
          // on the same directory, so duplication is structurally impossible
          df.write.mode("overwrite").parquet(s"$out/batch_$id")
          writesPerBatch.merge(id, 1, (a, b) => a + b)
          if (failOnBatch.contains(id)) sys.error(s"injected crash after batch $id sink write")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        assert(failOnBatch.isDefined, s"unexpected failure: $e")
      }
    }
    run(failOnBatch = Some(1L)) // crash: batch 0 committed, batch 1 written-not-committed
    run(failOnBatch = None)     // recovery from the same checkpoint
    // committed batch not reprocessed; crashed batch replayed exactly once more
    assert(writesPerBatch.get(0L) == 1, s"batch 0 must not be reprocessed: $writesPerBatch")
    assert(writesPerBatch.get(1L) == 2, s"batch 1 must be replayed once: $writesPerBatch")
    assert(writesPerBatch.get(2L) == 1, s"batch 2 runs once: $writesPerBatch")
    // exactly-once output: every input row present, no duplicates
    val result = spark.read.parquet(s"$out/batch_*").select("id").as[Long].collect().sorted
    assert(result.toSeq == (0L until 30L), s"exactly-once violated: ${result.toSeq}")
  }
}
