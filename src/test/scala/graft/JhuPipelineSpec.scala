package graft

import graft.ops._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, when}

/** Golden-output tests for the parser/parser2 pipeline equivalents against
  * the reference's exact JSON shape (FIXTURES.md A3/A4): field order, absent
  * keys on lookup miss (E3), zero-fill (E2), first-match join (J1), empty
  * province key format (P5).
  */
class JhuPipelineSpec extends SparkSpec {
  import spark.implicits._

  // A1-shaped facts: empty province; non-empty province; country missing
  // from the lookup.
  private def confirmed: DataFrame =
    Seq(
      ("", "Freedonia", "10.5", "-20.25", "1", "2"),
      ("North", "Sylvania", "1.0", "2.0", "3", "4"),
      ("", "Atlantis", "0.0", "0.0", "5", "6"),
    ).toDF("Province/State", "Country/Region", "Lat", "Long", "1/22/20", "1/23/20")

  private def deaths: DataFrame =
    Seq(("", "Freedonia", "10.5", "-20.25", "0", "1"))
      .toDF("Province/State", "Country/Region", "Lat", "Long", "1/22/20", "1/23/20")

  private def recovered: DataFrame =
    // Note: recovered lacks the 1/23/20 column entirely -> per-date zero-fill.
    Seq(("North", "Sylvania", "1.0", "2.0", "2"))
      .toDF("Province/State", "Country/Region", "Lat", "Long", "1/22/20")

  // A2-shaped lookup with a DUPLICATED key: first row (file order) must win (J1).
  private def lookup: DataFrame = Enrich.withFileOrder(
    Seq(
      ("Freedonia", "FD", "10.5", "-20.25"),
      ("Freedonia", "XX", "99.0", "99.0"),
      ("Sylvania", "SY", "1.0", "2.0"),
    ).toDF("Country_Region", "iso2", "Lat", "Long_")
  )

  private def jsonOf(df: DataFrame): Map[String, String] = {
    val rows = Pipelines.toJsonRecords(df).as[String].collect()
    rows.map { j => "\"country/region\":\"([^\"]+)\"".r.findFirstMatchIn(j).get.group(1) -> j }.toMap
  }

  test("parser: golden JSON — field order, first-match enrich, absent keys on miss") {
    val out = jsonOf(Pipelines.parser(confirmed, lookup))
    assert(out("Freedonia") ==
      """{"time_series":[{"date":"2020-01-22 00:00:00","value":1},{"date":"2020-01-23 00:00:00","value":2}],""" +
        """"province/state":"","country/region":"Freedonia","lat":10.5,"long":-20.25,""" +
        """"country-iso2":"FD","country-lat":10.5,"country-long":-20.25}""")
    // Lookup miss: enrich keys ABSENT, not null (E3).
    assert(out("Atlantis") ==
      """{"time_series":[{"date":"2020-01-22 00:00:00","value":5},{"date":"2020-01-23 00:00:00","value":6}],""" +
        """"province/state":"","country/region":"Atlantis","lat":0.0,"long":0.0}""")
    assert(out("Sylvania").contains(""""country-iso2":"SY""""))
  }

  test("parser2: golden JSON — three-measure zip, zero-fill for missing sides/dates") {
    val out = jsonOf(Pipelines.parser2(confirmed, deaths, recovered, lookup))
    // Freedonia: deaths matched, recovered missing entirely -> recovered=0.
    assert(out("Freedonia") ==
      """{"time_series":[{"date":"2020-01-22 00:00:00","confirmed":1,"deaths":0,"recovered":0},""" +
        """{"date":"2020-01-23 00:00:00","confirmed":2,"deaths":1,"recovered":0}],""" +
        """"province/state":"","country/region":"Freedonia","lat":10.5,"long":-20.25,"iso2":"FD"}""")
    // Sylvania: recovered matched but lacks the 1/23 date column -> 0 for that date.
    assert(out("Sylvania") ==
      """{"time_series":[{"date":"2020-01-22 00:00:00","confirmed":3,"deaths":0,"recovered":2},""" +
        """{"date":"2020-01-23 00:00:00","confirmed":4,"deaths":0,"recovered":0}],""" +
        """"province/state":"North","country/region":"Sylvania","lat":1.0,"long":2.0,"iso2":"SY"}""")
    // Atlantis: no lookup match -> iso2 absent.
    assert(!out("Atlantis").contains("iso2"))
  }

  test("parser2: measures align by date NAME, and a deaths-only date is dropped (R2)") {
    // deaths lists its dates in another order than confirmed, plus 1/21/20,
    // which only deaths has
    val reordered = Seq(("", "Freedonia", "10.5", "-20.25", "7", "9", "1"))
      .toDF("Province/State", "Country/Region", "Lat", "Long", "1/23/20", "1/21/20", "1/22/20")
    val out = jsonOf(Pipelines.parser2(confirmed, reordered, recovered, lookup))
    assert(out("Freedonia") ==
      """{"time_series":[{"date":"2020-01-22 00:00:00","confirmed":1,"deaths":1,"recovered":0},""" +
        """{"date":"2020-01-23 00:00:00","confirmed":2,"deaths":7,"recovered":0}],""" +
        """"province/state":"","country/region":"Freedonia","lat":10.5,"long":-20.25,"iso2":"FD"}""")
  }

  private def withCell(df: DataFrame, country: String, cell: String): DataFrame =
    df.withColumn("1/23/20", when(col("Country/Region") === country, lit(cell)).otherwise(col("1/23/20")))

  /** Runs `body` under ANSI mode, with each junk cell the reference's
    * `int(...)` rejects.
    */
  private def forEachJunkUnderAnsi(body: String => Unit): Unit = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      Seq("abc", "1.5", "").foreach(body)
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  private def assertCastFails(df: DataFrame, junk: String): Unit = {
    val e = intercept[Exception](Pipelines.toJsonRecords(df).collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("CAST_INVALID_INPUT")), s"'$junk': $e")
  }

  test("parser2: a junk date cell in confirmed or deaths fails the action under ANSI mode (E4)") {
    forEachJunkUnderAnsi { junk =>
      // never zero-filled: the array form casts, and coalesces only nulls
      assertCastFails(Pipelines.parser2(withCell(confirmed, "Sylvania", junk), deaths, recovered, lookup), junk)
      assertCastFails(Pipelines.parser2(confirmed, withCell(deaths, "Freedonia", junk), recovered, lookup), junk)
    }
  }

  test("parser: a junk date cell fails the action under ANSI mode (E4)") {
    forEachJunkUnderAnsi { junk =>
      assertCastFails(Pipelines.parser(withCell(confirmed, "Sylvania", junk), lookup), junk)
    }
  }

  test("record key synthesis: empty province drops the dash (P5/P6)") {
    val keys = Pipelines
      .parser(confirmed, lookup)
      .select(Pipelines.recordKey("confirmed").as("k"))
      .as[String]
      .collect()
      .toSet
    assert(keys == Set(
      "type=confirmed/Freedonia.json",
      "type=confirmed/Sylvania-North.json",
      "type=confirmed/Atlantis.json",
    ))
  }

  /** `locations` distinct confirmed rows (the three fixture countries, each
    * under many provinces), landed as parquet in `files` files.
    */
  private def landedConfirmed(locations: Int, files: Int): DataFrame = {
    val countries = Seq("Freedonia", "Sylvania", "Atlantis")
    val rows = (0 until locations).map { i =>
      (if (i < countries.size) "" else s"P$i", countries(i % countries.size), "1.0", "2.0", s"$i", s"${2 * i}")
    }
    val df = rows.toDF("Province/State", "Country/Region", "Lat", "Long", "1/22/20", "1/23/20")
    val dir = SparkSpec.tempDir("graft_jhu_landed").toString
    (if (files == 1) df.coalesce(1) else df.repartition(files)).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("parser over a one-file input writes one part file per shuffle partition, with the unspread records") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val n = spark.sessionState.conf.numShufflePartitions
    // the type=confirmed/ part files of a lake written from `fact`
    def parts(fact: DataFrame): Seq[Path] = {
      val lake = SparkSpec.tempDir("graft_jhu_lake")
      Sink.partitionedJson(Pipelines.parser(fact, lookup), "confirmed", lake.toString)
      Files.list(lake.resolve("type=confirmed")).iterator.asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
    }
    def lines(ps: Seq[Path]): Seq[String] = ps.flatMap(Files.readAllLines(_).asScala).sorted
    val oneFile = landedConfirmed(64, 1)
    assert(oneFile.inputFiles.length == 1)
    val spread = parts(oneFile)
    assert(spread.size == n, s"one part file per shuffle partition: ${spread.mkString(", ")}")
    // n input files: the spread does nothing, and the records must not change
    val wide = landedConfirmed(64, n)
    assert(wide.inputFiles.length == n)
    val unspread = lines(parts(wide))
    assert(unspread.size == 64)
    assert(lines(spread) == unspread)
  }
}
