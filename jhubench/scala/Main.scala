package jhubench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** JVM side of the benchmark. `land` mode generates one workload's inputs
  * and lands them as files, timing each landing, in `<work>/land.json`; `run`
  * mode, in a fresh JVM, measures the workload on those files and writes
  * `<work>/result.json`; `selftest` mode runs the oracle self-test and the
  * CSV canary. Launched by `run.py`, which owns the command line contract.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = a("mode") match {
      case "selftest" => SelfTest.run(a("work"))
      case "land"     => Runner.land(a("workload"), a("seed").toLong, a("work"))
      case _          => Runner.run(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1", a("work"))
    }
    sys.exit(code)
  }

  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** A `local[N]` session whose temporary files go under `work`. */
  def session(work: String): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$Cores]")
      .appName("jhubench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fixed single-thread integer loop: seconds taken say how fast the host
    * is right now, for reading runs made at different times.
    */
  def hostProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 150000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("probe")
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def writeJson(path: String, value: Any): Unit =
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), value)
}

object Runner {
  import Main.median

  private final case class Rec(wallS: Double, out: Option[BatchOut], layers: Map[String, Double], traced: Boolean)

  private def workload(name: String, seed: Long, work: String): Workload = name match {
    case "jhu-daily"    => new JhuDaily(seed, work, JhuData.DailyDates, warmBatches = 4)
    case "jhu-lake"     => new JhuLake(seed, work, locations = 2000, rounds = 5, warmBatches = 6)
    case other          => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Landings per run; the median is reported and the last one is measured. */
  private val Lands = 3

  /** Generate the inputs (untimed) and land them `Lands` times, timing each
    * landing. No Spark runs here, so the measuring JVM starts cold.
    */
  def land(name: String, seed: Long, work: String): Int = {
    val w = workload(name, seed, work)
    w.prepare()
    val times = (0 until Lands).map { i =>
      val t0 = System.nanoTime()
      w.land(s"$work/input-$i")
      (System.nanoTime() - t0) / 1e9
    }
    Main.writeJson(s"$work/land.json", Map("land_s" -> times.asJava, "input" -> s"$work/input-${Lands - 1}").asJava)
    0
  }

  /** Timed batches every run makes at least, however short `seconds`. */
  private val MinTimed = 3

  /** Untimed rounds of queries before the timed ones: the queries' JSON
    * scans run code the batches do not, and one round left the timed
    * latencies still moving with the JIT's progress.
    */
  val WarmRounds = 2

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, work: String): Int = {
    val landed = new ObjectMapper().readTree(new java.io.File(s"$work/land.json"))
    val lands = landed.get("land_s").elements.asScala.map(_.asDouble).toSeq
    val phases = new Spans
    val probe = Main.hostProbe()
    val t0 = System.nanoTime()
    val spark = Main.session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val w = workload(name, seed, work)
    phases("prepare")(w.prepare())
    w.open(spark, landed.get("input").asText)
    val tracer = if (trace) Some(new Trace(spark, Main.Cores)) else None
    val checks = Vector.newBuilder[Check]
    var failedOps, attemptedOps = 0

    def record(cs: Seq[Check]): Unit = {
      checks ++= cs
      attemptedOps += cs.size
      failedOps += cs.count(!_.ok)
    }

    def batch(index: Int, traced: Boolean, check: Boolean): Rec = {
      val spans = new Spans
      System.gc() // every batch starts on a collected heap
      if (traced) tracer.foreach(_.attach())
      val b0 = System.nanoTime()
      val out = Try(w.batch(spans))
      val wall = (System.nanoTime() - b0) / 1e9
      val layers = (if (traced) tracer.map(_.detach(wall)).getOrElse(Map.empty) else Map.empty[String, Double]) ++
        spans.values
      attemptedOps += 1
      out match {
        case Success(o) =>
          if (check) phases("check")(record(w.check(o, index)))
        case Failure(e) =>
          failedOps += 1
          checks += Check(s"batch $index", ok = false, e.toString)
          System.err.println(s"[jhubench] batch $index failed"); e.printStackTrace()
      }
      Rec(wall, out.toOption, layers, traced)
    }

    val first = phases("first")(batch(0, traced = trace, check = true))
    // a fixed number of warm-up batches, so that the timed ones run at the
    // batch's steady speed and every run reads the heap at the same point
    phases("warm") {
      (1 to w.warmBatches).takeWhile(_ => first.out.isDefined).foreach(i => batch(i, traced = false, check = false))
    }
    val heapMb = phases("heap")(liveHeapMb())
    val timed = Vector.newBuilder[Rec]
    var i = w.warmBatches + 1
    // batch time alone counts toward `seconds`, so that checks and GCs do
    // not change how many batches a run makes
    def enough(rs: Seq[Rec]) =
      rs.map(_.wallS).sum >= seconds && rs.size >= MinTimed &&
        (!trace || (rs.count(_.traced) >= 1 && rs.count(!_.traced) >= 2))
    phases("timed") {
      while (first.out.isDefined && !enough(timed.result()) && (System.nanoTime() - t0) / 1e9 < 130) {
        // untraced, traced, untraced, ...: the untraced batches bracket the
        // traced ones, so drift does not bias the overhead
        timed += batch(i, traced = trace && (i - w.warmBatches) % 2 == 0, check = false)
        i += 1
      }
    }
    val batches = timed.result()
    // each batch overwrites the last one's output: check the first batch's
    // (above) and the last one's
    batches.lastOption.flatMap(_.out).foreach(o => phases("check")(record(w.check(o, i - 1))))

    // the read phase: `WarmRounds` untimed rounds, then the timed ones
    val readSpans = new Spans
    val queries = phases("reads") {
      Try {
        w.openReads(readSpans)
        (0 until WarmRounds + w.readRounds).flatMap { r =>
          val rs = w.readRound(r)
          attemptedOps += rs.size
          record(w.checkReads(r, rs))
          if (r < WarmRounds) Nil else rs
        }
      } match {
        case Success(rs) => rs
        case Failure(e) =>
          attemptedOps += 1
          failedOps += 1
          checks += Check("read phase", ok = false, e.toString)
          Nil
      }
    }
    // a mix has queries of different costs, so latency statistics are taken
    // per query: p50 is the median of the queries' medians, the tail the
    // slowest query's upper quartile
    val byQuery = queries.groupBy(_.name).values.map(_.map(_.ms).sorted).toSeq
    val p50 = median(byQuery.map(median))
    val tail = byQuery.map(ms => ms(math.ceil(0.75 * ms.size).toInt - 1)).foldLeft(0.0)(math.max)

    val untraced = batches.filterNot(_.traced)
    val batchS = median(untraced.map(_.wallS))
    val records = batches.flatMap(_.out).headOption.map(_.records).getOrElse(0L)
    val endToEnd = Map(
      "setup_s" -> (sessionS + median(lands)),
      "first_batch_s" -> first.wallS,
      "batch_s" -> batchS,
      "records_per_s" -> records / batchS,
      "query_p50_ms" -> p50,
      "query_tail_ms" -> tail,
      "output_bytes_per_record" -> w.bytesPerRecord,
      "live_heap_mb" -> heapMb,
    )
    val traced = batches.filter(_.traced)
    val perLayer: Map[String, Double] = if (!trace) Map.empty else {
      val keys = traced.flatMap(_.layers.keys).distinct
      keys.map(k => k -> median(traced.flatMap(_.layers.get(k)))).toMap ++ readSpans.values ++ queryLayers(queries) ++
        Seq("codegen.compile_s", "codegen.classes", "catalyst.optimization_s", "pipelines.build_s")
          .flatMap(k => first.layers.get(k).map(v => s"first.$k" -> v)) ++
        Map("trace.overhead_frac" -> (median(traced.map(_.wallS)) / batchS - 1.0))
    }
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("workload", name)
    result.put("attempted", attemptedOps)
    result.put("failed", failedOps)
    result.put("metrics", (endToEnd ++ perLayer ++ Map("host.probe_s" -> probe)).asJava)
    result.put("queries", queries.size)
    result.put("batches", Map("warm" -> w.warmBatches, "timed" -> batches.size).asJava)
    result.put("setup", (sessionS +: lands).asJava)
    result.put("walls", (first.wallS +: batches.map(_.wallS)).asJava)
    result.put("phases", phases.values.asJava)
    result.put("checks", checks.result().filterNot(_.ok).map(c => s"${c.name}: ${c.detail}").asJava)
    Main.writeJson(s"$work/result.json", result)
    spark.stop()
    0
  }

  /** Heap in use after a full GC. Spark's cleaner frees shuffle, broadcast
    * and checkpoint blocks only after a GC has found them unreachable, so GC
    * at least twice, 200 ms apart, and again while the heap still shrinks
    * (at most four times).
    */
  private def liveHeapMb(): Double = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (last, now, n) = (Double.MaxValue, used(), 1)
    while (n < 2 || (now < last - 0.5 && n < 4)) {
      Thread.sleep(200)
      last = now
      now = used()
      n += 1
    }
    now
  }

  /** Median latency of each query of the read phase, as layer values. */
  private def queryLayers(queries: Seq[QueryRun]): Map[String, Double] =
    queries.groupBy(_.name).map { case (n, rs) => s"lake.query.${n}_ms" -> median(rs.map(_.ms)) }
}
