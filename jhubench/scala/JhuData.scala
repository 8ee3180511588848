package jhubench

import java.time.LocalDate
import scala.util.Random

/** One location of a JHU time-series file: the four attribute cells exactly
  * as they appear in the CSV (all strings, DictReader contract).
  */
final case class Location(province: String, country: String, lat: String, long: String) {
  def key: (String, String) = (country, province)
}

/** One wide fact table: its date columns (chronological, `M/d/yy`) and one
  * int per date for every row, rows in file order.
  */
final case class Wide(dates: IndexedSeq[LocalDate], rows: IndexedSeq[(Location, Array[Int])]) {
  def dateNames: IndexedSeq[String] = dates.map(JhuData.columnName)
  def byKey: Map[(String, String), Array[Int]] = rows.map { case (l, v) => l.key -> v }.toMap
}

final case class LookupRow(country: String, iso2: String, lat: String, long: String)

/** The inputs of one JHU workload: three measure tables and the lookup, in
  * file order. Everything the oracles need is in here; nothing is read back.
  */
final case class JhuInputs(confirmed: Wide, deaths: Wide, recovered: Wide, lookup: IndexedSeq[LookupRow]) {
  def measures: Seq[(String, Wide)] = Seq("confirmed" -> confirmed, "deaths" -> deaths, "recovered" -> recovered)

  /** First lookup row per country in file order (first-match enrich). */
  lazy val firstIso2: Map[String, String] =
    lookup.reverseIterator.map(r => r.country -> r.iso2).toMap
}

/** Seeded generators for JHU-shaped inputs and their landing as files. */
object JhuData {

  val Epoch: LocalDate = LocalDate.of(2020, 1, 22)

  /** `M/d/yy`, the reference's date-column header form. */
  def columnName(d: LocalDate): String = f"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear % 100}%02d"

  /** Real names that exercise quoting (embedded comma), apostrophes and
    * non-ASCII text; the rest of each population is synthetic.
    */
  private val RealCountries = IndexedSeq(
    "Korea, South", "Côte d'Ivoire", "Curaçao", "São Tomé and Príncipe", "Türkiye", "Bonaire, Sint Eustatius and Saba",
    "Réunion", "Åland Islands", "Afghanistan", "Albania", "Algeria", "Andorra", "Angola", "Argentina", "Armenia",
    "Austria", "Bahrain", "Belgium", "Bhutan", "Bolivia", "Brazil", "Chile", "Colombia", "Cuba", "Denmark",
    "Egypt", "Fiji", "Georgia", "Germany", "Greece", "Holy See", "Iceland", "India", "Japan", "Kenya",
  )
  private val ProvinceCountries = IndexedSeq("China", "Canada", "Australia", "France", "United Kingdom", "Netherlands")

  private def country(i: Int): String =
    if (i < RealCountries.size) RealCountries(i) else f"Country ${i - RealCountries.size}%04d"

  /** A coordinate string: mostly 4-6 decimals, some tiny magnitudes that
    * Spark prints in scientific notation (`1.0E-4`), some whole numbers.
    */
  private def coord(rng: Random, max: Int): String = rng.nextInt(10) match {
    case 0 => BigDecimal(rng.nextInt(9) + 1, 4 + rng.nextInt(2)).*(if (rng.nextBoolean()) 1 else -1).toString
    case 1 => (rng.nextInt(2 * max) - max).toString
    case _ => BigDecimal(rng.nextInt(2 * max * 10000) - max * 10000, 4).toString
  }

  private def series(rng: Random, n: Int, scale: Int): Array[Int] = {
    val out = new Array[Int](n)
    var v = rng.nextInt(3)
    var i = 0
    while (i < n) {
      if (rng.nextInt(4) != 0) v += rng.nextInt(scale)
      out(i) = v
      i += 1
    }
    out
  }

  /** Locations: `nPlain` countries with an empty province, then `nProv`
    * province rows spread over the province-bearing countries (some of
    * which also have an empty-province row).
    */
  private def locations(rng: Random, nPlain: Int, nProv: Int): IndexedSeq[Location] = {
    val plain = (0 until nPlain).map(i => Location("", country(i), coord(rng, 60), coord(rng, 170)))
    val prov = (0 until nProv).map { i =>
      val c = ProvinceCountries(i % ProvinceCountries.size)
      Location(f"Province ${i / ProvinceCountries.size}%03d", c, coord(rng, 60), coord(rng, 170))
    }
    val withEmpty = ProvinceCountries.take(2).map(c => Location("", c, coord(rng, 60), coord(rng, 170)))
    plain ++ withEmpty ++ prov
  }

  /** A measure table over a subset of `locs` (each kept with probability
    * `keep`), optionally missing its last `dropDates` date columns, plus
    * `extra` rows whose locations the driving table does not have.
    */
  private def measure(
      rng: Random,
      locs: IndexedSeq[Location],
      dates: IndexedSeq[LocalDate],
      keep: Double,
      dropDates: Int,
      extra: Int,
      scale: Int,
  ): Wide = {
    val ds = dates.dropRight(dropDates)
    val kept = locs.filter(_ => rng.nextDouble() < keep)
    val extras = (0 until extra).map(i => Location(f"Extra $i%02d", "Nowhere", "1.5", "2.5"))
    Wide(ds, rng.shuffle(kept ++ extras).map(l => l -> series(rng, ds.size, scale)))
  }

  /** Lookup of `size` rows in a seeded file order: 1-3 rows per fact
    * country (so first-match picks among distinct iso2 values), none for
    * about 8% of them (lookup misses), padding rows for other countries.
    */
  private def lookup(rng: Random, countries: IndexedSeq[String], size: Int): IndexedSeq[LookupRow] = {
    def iso(): String = s"${('A' + rng.nextInt(26)).toChar}${('A' + rng.nextInt(26)).toChar}"
    val hits = countries.filter(c => c == "Korea, South" || rng.nextInt(12) != 0)
    val rows = hits.flatMap(c => Seq.fill(1 + rng.nextInt(3))(LookupRow(c, iso(), coord(rng, 60), coord(rng, 170))))
    val pad = (0 until math.max(0, size - rows.size)).map { i =>
      LookupRow(if (i % 3 == 0) "US" else f"Pad $i%05d", iso(), coord(rng, 60), coord(rng, 170))
    }
    rng.shuffle(rows ++ pad)
  }

  /** Date columns of the daily shape: half the reference's 1,100, so that a
    * run reaches the batch's steady speed within its time (WORKLOADS.md).
    */
  val DailyDates = 550

  /** The daily job's shape: the reference's 289 locations, about two thirds
    * with an empty province; `nDates` date columns; deaths and recovered
    * each missing rows, recovered also missing its last 40 date columns;
    * a 4,300-row lookup with duplicated keys and misses.
    */
  def daily(seed: Long, nDates: Int = DailyDates): JhuInputs = {
    val rng = new Random(seed)
    val locs = locations(rng, nPlain = 190, nProv = 97)
    val dates = (0 until nDates).map(i => Epoch.plusDays(i.toLong))
    val confirmed = Wide(dates, rng.shuffle(locs).map(l => l -> series(rng, nDates, 40)))
    val deaths = measure(rng, locs, dates, keep = 0.93, dropDates = 0, extra = 3, scale = 4)
    val recovered = measure(rng, locs, dates, keep = 0.85, dropDates = 40, extra = 2, scale = 30)
    JhuInputs(confirmed, deaths, recovered, lookup(rng, locs.map(_.country).distinct, 4300))
  }

  /** The lake's shape: tall and narrow, `nLocations` × `nDates`. */
  def lake(seed: Long, nLocations: Int, nDates: Int = 120): JhuInputs = {
    val rng = new Random(seed)
    val nPlain = 240
    val locs = locations(rng, nPlain, nLocations - nPlain - 2)
    val dates = (0 until nDates).map(i => Epoch.plusDays(i.toLong))
    val confirmed = Wide(dates, rng.shuffle(locs).map(l => l -> series(rng, nDates, 40)))
    val deaths = measure(rng, locs, dates, keep = 0.95, dropDates = 0, extra = 0, scale = 4)
    val recovered = measure(rng, locs, dates, keep = 0.9, dropDates = 0, extra = 0, scale = 30)
    JhuInputs(confirmed, deaths, recovered, lookup(rng, locs.map(_.country).distinct, 4300))
  }

  private val AttrCols = Seq("Province/State", "Country/Region", "Lat", "Long")
  private val LookupCols = Seq("Country_Region", "iso2", "Lat", "Long_")

  /** Where the inputs landed under `dir` are. */
  def paths(dir: String): Map[String, String] =
    Seq("confirmed", "deaths", "recovered", "lookup").map(n => n -> s"$dir/$n.parquet").toMap

  /** Land the inputs as single-file parquet, every cell a string (the
    * CSV reader's contract, with empty cells kept as ""). Returns the paths.
    */
  def landParquet(in: JhuInputs, dir: String): Map[String, String] = {
    val p = paths(dir)
    in.measures.foreach { case (name, w) =>
      Parquet.write(p(name), (AttrCols ++ w.dateNames).map(Parquet.Str),
        w.rows.map { case (l, v) => Seq(l.province, l.country, l.lat, l.long) ++ v.map(_.toString) })
    }
    Parquet.write(p("lookup"), LookupCols.map(Parquet.Str), in.lookup.map(r => Seq(r.country, r.iso2, r.lat, r.long)))
    p
  }

  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\"" else s

  private def csvLines(header: Seq[String], rows: Seq[Seq[String]]): String =
    (header +: rows).map(_.map(csvCell).mkString(",")).mkString("", "\n", "\n")

  /** Land the same inputs as RFC 4180 CSV files (the reference's format). */
  def landCsv(in: JhuInputs, dir: String): Map[String, String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    def write(name: String, body: String): (String, String) = {
      val p = java.nio.file.Paths.get(dir, s"$name.csv")
      java.nio.file.Files.write(p, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      name -> p.toString
    }
    val facts = in.measures.map { case (name, w) =>
      write(name, csvLines(AttrCols ++ w.dateNames, w.rows.map { case (l, v) =>
        Seq(l.province, l.country, l.lat, l.long) ++ v.map(_.toString)
      }))
    }
    (facts :+ write("lookup", csvLines(LookupCols, in.lookup.map(r => Seq(r.country, r.iso2, r.lat, r.long))))).toMap
  }
}
