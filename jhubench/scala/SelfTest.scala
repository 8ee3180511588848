package jhubench

import com.fasterxml.jackson.databind.JsonNode
import graft.Pipelines
import graft.ops.{Enrich, Sink}
import graft.sources.Csv
import org.apache.spark.sql.DataFrame

/** The benchmark's own tests.
  *
  *  1. The JHU oracle passes the program's output on parquet-landed inputs
  *     and catches each planted fault (a changed value, a dropped key, two
  *     swapped records).
  *  2. Pending until fixed: jhu-daily's inputs rendered as CSV and read by
  *     `graft.sources.Csv.readCsv` must give the same records. Today the
  *     reader turns an empty `Province/State` into null, so the (country,
  *     province) join misses and the `"province/state": ""` key is lost; the
  *     test reports PENDING. Once the reader is fixed it fails, to say that
  *     jhu-daily and jhu-lake should move to CSV ingest and measure `sources`.
  *
  * Exit code 0 when (1) passes and (2) is still pending.
  */
object SelfTest {

  private def parser2Output(read: String => DataFrame, dir: String): IndexedSeq[JsonNode] = {
    val df = Pipelines.parser2(read("confirmed"), read("deaths"), read("recovered"), Enrich.withFileOrder(read("lookup")))
    Sink.flatJson(df, dir)
    JhuOracle.readLines(dir).map(JhuOracle.parse).toIndexedSeq
  }

  def run(work: String): Int = {
    val spark = Main.session(work)
    val seed = 1L

    val small = JhuData.daily(seed, nDates = 60)
    val paths = JhuData.landParquet(small, s"$work/selftest-parquet")
    val want = JhuOracle.parser2(small)
    val got = parser2Output(n => spark.read.parquet(paths(n)), s"$work/selftest-parquet-out")
    val o = JhuOracle.compare(want, got)
    val planted = JhuOracle.selfTest(want, got)
    val oracleOk = o.ok && planted.isEmpty
    println(s"[${if (oracleOk) "PASS" else "FAIL"}] oracle on parquet ingest: ${o.mismatches} mismatches of ${o.expected}; " +
      (if (planted.isEmpty) "every planted fault caught" else planted.mkString("; ")) +
      o.examples.map("; " + _).mkString)

    val daily = JhuData.daily(seed)
    val csv = JhuData.landCsv(daily, s"$work/selftest-csv")
    val c = JhuOracle.compare(JhuOracle.parser2(daily), parser2Output(n => Csv.readCsv(spark, csv(n)), s"$work/selftest-csv-out"))
    val canaryFixed = c.ok
    if (canaryFixed)
      println("[FAIL] CSV canary passes: Csv.readCsv now keeps empty provinces. Move jhu-daily and jhu-lake " +
        "to CSV ingest, measure the sources layer, and flip this canary to a plain test.")
    else
      println(s"[PENDING] CSV canary: ${c.missing} of ${c.expected} parser2 records differ through Csv.readCsv " +
        s"(empty Province/State read as null); e.g. ${c.examples.headOption.getOrElse("")}")
    spark.stop()
    if (oracleOk && !canaryFixed) 0 else 1
  }
}
