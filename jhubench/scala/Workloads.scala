package jhubench

import graft.Pipelines
import graft.ops.{Enrich, Lake, Sink}
import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable

/** Wall time spent inside calls into the program's layers, by span name. */
final class Spans {
  private val secs = mutable.LinkedHashMap[String, Double]()
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally secs(name) = secs.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
  def values: Map[String, Double] = secs.toMap
}

/** One user-facing query execution: its latency and its answer. */
final case class QueryRun(name: String, ms: Double, rows: Seq[Row])

/** An output check: `ok` and, when not, what differed. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What one batch produced: the records it wrote. */
final case class BatchOut(records: Long)

/** One workload. The landing JVM calls `prepare` and `land`; the measuring
  * JVM calls `prepare`, `open`, `batch` and `check` in turn, then
  * `openReads` and `readRound` and `checkReads` in turn.
  */
trait Workload {

  /** Generate the inputs from the seed: plain Scala, no Spark, untimed. */
  def prepare(): Unit

  /** Land the generated inputs as parquet files under `dir`. */
  def land(dir: String): Unit

  /** Bind to the session and to the inputs landed under `dir`. */
  def open(spark: SparkSession, dir: String): Unit

  /** One timed batch; calls into the program are wrapped in `spans`. */
  def batch(spans: Spans): BatchOut

  /** Check one batch's outputs (untimed). `index` 0 is the first batch. */
  def check(out: BatchOut, index: Int): Seq[Check]

  /** Output bytes per output record of the last batch. */
  def bytesPerRecord: Double

  /** Later batches every run makes, untimed, between the first batch and
    * the timed ones: enough for the JIT to reach the batch's steady speed.
    */
  def warmBatches: Int

  /** Set up the queries users run after the batches (timed in `spans`). */
  def openReads(spans: Spans): Unit

  /** Timed rounds of the read phase, after `Runner.WarmRounds` untimed ones. */
  def readRounds: Int

  /** One round of the queries users run after the batches. */
  def readRound(round: Int): Seq[QueryRun]

  def checkReads(round: Int, runs: Seq[QueryRun]): Seq[Check]

  protected def dirBytes(dir: String): Long = {
    val f = new java.io.File(dir)
    if (f.isFile) f.length else Option(f.listFiles).toSeq.flatten.map(c => dirBytes(c.getPath)).sum
  }

  protected def queryCheck(queries: Seq[QueryRun], want: Map[String, Seq[String]]): Seq[Check] =
    queries.map { q =>
      val bad = LakeMix.mismatches(want(q.name), q.rows.map(LakeMix.render))
      Check(s"query ${q.name}", bad == 0, s"$bad rows differ from the expected ${want(q.name).size}")
    }

  protected def timedQuery(spark: SparkSession, name: String, sql: String): QueryRun = {
    val t0 = System.nanoTime()
    val rows = spark.sql(sql).collect()
    QueryRun(name, (System.nanoTime() - t0) / 1e6, rows.toSeq)
  }
}

/** jhu-daily: `Pipelines.parser2` then `Sink.flatJson`, the job the
  * reference's timer runs once a day, on 289 locations × `dates` columns.
  */
final class JhuDaily(seed: Long, work: String, dates: Int, val warmBatches: Int) extends Workload {
  private val Lookups = 30
  private val PerRound = 10
  private lazy val in = JhuData.daily(seed, dates)
  private lazy val expected = JhuOracle.parser2(in)
  private var spark: SparkSession = _
  private var paths: Map[String, String] = Map.empty
  private val out = s"$work/daily-out"

  def prepare(): Unit = in

  def land(dir: String): Unit = JhuData.landParquet(in, dir)

  def open(s: SparkSession, dir: String): Unit = {
    spark = s
    paths = JhuData.paths(dir)
  }

  def batch(spans: Spans): BatchOut = {
    def read(name: String) = spark.read.parquet(paths(name))
    val df = spans("pipelines.build_s")(
      Pipelines.parser2(read("confirmed"), read("deaths"), read("recovered"), Enrich.withFileOrder(read("lookup")))
    )
    spans("sink.write_s")(Sink.flatJson(df, out))
    BatchOut(in.confirmed.rows.size)
  }

  def check(b: BatchOut, index: Int): Seq[Check] = {
    val got = JhuOracle.readLines(out).map(JhuOracle.parse).toIndexedSeq
    val o = JhuOracle.compare(expected, got)
    val output = Check("parser2 records", o.ok,
      s"${o.missing} of ${o.expected} expected records missing or different, ${o.unexpected} unexpected; " +
        o.examples.mkString("; "))
    // the oracle must also reject planted faults in this very output
    val self = if (index == 0 && o.ok) {
      val fails = JhuOracle.selfTest(expected, got)
      Seq(Check("oracle planted-mismatch self-test", fails.isEmpty, fails.mkString("; ")))
    } else Nil
    output +: self
  }

  def bytesPerRecord: Double = dirBytes(out).toDouble / in.confirmed.rows.size

  /** Point lookups on the daily output through the lake's query surface,
    * one per sampled location (empty provinces included): (SQL, answer).
    * A round runs `PerRound` of them; rounds cycle through the locations.
    */
  private lazy val lookups: IndexedSeq[(String, String)] = {
    val rows = in.confirmed.rows.filterNot { case (l, _) => (l.country + l.province).contains('\'') }
    val step = math.max(1, rows.size / Lookups)
    rows.indices.by(step).take(Lookups).map { i =>
      val (l, v) = rows(i)
      val sql = s"""SELECT iso2, element_at(time_series, -1).confirmed FROM daily
                    WHERE `country/region` = '${l.country}' AND `province/state` = '${l.province}'"""
      sql -> s"${in.firstIso2.getOrElse(l.country, "null")}|${v.last}"
    }
  }

  private def roundLookups(round: Int) = {
    val from = round * PerRound % lookups.size
    lookups.slice(from, from + PerRound)
  }

  def readRounds: Int = Lookups / PerRound

  def openReads(spans: Spans): Unit = spans("lake.register_s")(Lake.registerTable(spark, out, "daily"))

  def readRound(round: Int): Seq[QueryRun] =
    roundLookups(round).map { case (sql, _) => timedQuery(spark, "point_lookup", sql) }

  def checkReads(round: Int, runs: Seq[QueryRun]): Seq[Check] =
    runs.zip(roundLookups(round)).map { case (q, (_, want)) =>
      val got = q.rows.map(LakeMix.render)
      Check("daily point lookup", got == Seq(want), s"got ${got.mkString(",")}, expected $want")
    }
}

/** jhu-lake: `Pipelines.parser` for the three categories written by
  * `Sink.partitionedJson` into one `type=` lake. After the batches,
  * `Lake.registerTable` on the lake and `rounds` timed rounds of the query mix.
  */
final class JhuLake(seed: Long, work: String, locations: Int, rounds: Int, val warmBatches: Int)
    extends Workload {
  private lazy val in = JhuData.lake(seed, locations)
  private lazy val mix = LakeMix.queries(in, "jhu")
  private lazy val expected = mix.map(q => q.name -> q.expected).toMap
  private var spark: SparkSession = _
  private var paths: Map[String, String] = Map.empty
  private val lake = s"$work/lake"

  def prepare(): Unit = expected

  def land(dir: String): Unit = JhuData.landParquet(in, dir)

  def open(s: SparkSession, dir: String): Unit = {
    spark = s
    paths = JhuData.paths(dir)
  }

  def batch(spans: Spans): BatchOut = {
    val lookup = Enrich.withFileOrder(spark.read.parquet(paths("lookup")))
    in.measures.foreach { case (category, _) =>
      val df = spans("pipelines.build_s")(Pipelines.parser(spark.read.parquet(paths(category)), lookup))
      spans("sink.write_s")(Sink.partitionedJson(df, category, lake))
    }
    BatchOut(in.measures.map(_._2.rows.size.toLong).sum)
  }

  /** The lake is checked through the query mix, after the batches. */
  def check(b: BatchOut, index: Int): Seq[Check] = Nil

  def bytesPerRecord: Double = dirBytes(lake).toDouble / in.measures.map(_._2.rows.size).sum

  def readRounds: Int = rounds

  def openReads(spans: Spans): Unit = spans("lake.register_s")(Lake.registerTable(spark, lake, "jhu"))

  def readRound(round: Int): Seq[QueryRun] = mix.map(q => timedQuery(spark, q.name, q.sql))

  def checkReads(round: Int, runs: Seq[QueryRun]): Seq[Check] = queryCheck(runs, expected)
}
