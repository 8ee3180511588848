package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-measure combine — parser2's three-way join + per-date zip with
  * zero-fill (J2 + R2 + E2; reference `src/parser2.py:28-52,101-124`;
  * SURVEY §2.3-R2, §2.4-J2).
  *
  * Reference semantics (pinned by SURVEY §2.3): the CONFIRMED table drives —
  * its (country, province) rows and its date columns define the output; a
  * measure table with no matching row contributes 0 for every date (E2,
  * `src/parser2.py:35-46`); dates absent from a matched deaths/recovered row
  * default to 0; deaths/recovered-only dates are dropped.
  *
  * Spark mapping: each table's date tail is reduced to ONE `array<int>`,
  * aligned by name to the driver's dates ([[Unpivot.dateArray]]), before the
  * left-outer equi-joins, so a join carries the keys plus one array per
  * measure. `time_series` is one `arrays_zip` ([[Unpivot.timeSeries]]), so
  * plan size does not grow with the date count.
  */
object Combine {

  /** J2+R2: join `measures` (name -> wide table) onto `driver` by `keyCols`,
    * then nest `array<struct<date, <measure1>, <measure2>, …>>` over the
    * driver's date columns, zero-filling missing sides/cells.
    *
    * Cells are cast before the join: under ANSI mode a junk cell fails the
    * action (E4) even in a measure row no driver row matches.
    *
    * Precondition: `keyCols` are unique within each measure table (true for
    * the reference's data, SURVEY §2.4-J2). With duplicate keys a left-outer
    * join multiplies driver rows where the reference's `break` takes the
    * first match — dedupe first with [[Enrich.firstMatch]] (plus
    * [[Enrich.withFileOrder]] for file-order parity) if a measure table can
    * carry duplicates.
    */
  def combine(
      driver: DataFrame,
      driverMeasure: String,
      measures: Seq[(String, DataFrame)],
      keyCols: Seq[String],
  ): DataFrame = {
    val cls = Normalize.classify(driver.columns.toSeq)
    val keep = (cls.other ++ cls.latLong).map(col)
    def series(name: String, df: DataFrame) = Unpivot.dateArray(df, cls.dateCols, "int", zeroFill = true).as(s"__$name")
    val joined = measures.foldLeft(driver.select(keep :+ series(driverMeasure, driver): _*)) { case (acc, (name, m)) =>
      acc.join(m.select(keyCols.map(col) :+ series(name, m): _*), keyCols, "left_outer")
    }
    // An unmatched measure row is a null array: every date contributes 0.
    val zeros = typedLit(Seq.fill(cls.dateCols.size)(0))
    val fields = (driverMeasure -> col(s"__$driverMeasure")) +: measures.map { case (n, _) => n -> coalesce(col(s"__$n"), zeros) }
    joined.select(Unpivot.timeSeries(cls.dateCols, fields, "int").as("time_series") +: keep: _*)
  }
}
