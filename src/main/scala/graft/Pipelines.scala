package graft

import graft.operators.Pin
import graft.ops._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end equivalents of the reference's two entry points
  * (SURVEY §3.1–§3.2), composed from the ops package.
  *
  * Input contract: JHU-shaped DataFrames — attrs
  * (`Province/State`, `Country/Region`, `Lat`, `Long`) plus a dynamic tail of
  * `M/d/yy` date columns (reference `src/parser.py:88-91`); a lookup table
  * with `Country_Region`, `iso2`, `Lat`, `Long_` and a `__row_id` file-order
  * column (see [[graft.ops.Enrich.withFileOrder]]).
  *
  * Each pipeline spreads its driving table with [[graft.operators.Pin.spread]]
  * on (`Country/Region`, `Province/State`): a scan that cannot reach half of
  * `spark.sql.shuffle.partitions` splits (one small file, one row group) is
  * hash-repartitioned into that many partitions, so the per-row work (the
  * cast lambda, `arrays_zip`, the broadcast probes and the JSON write) runs
  * on every core instead of in one task. The driving table is the category
  * fact in [[parser]] and `confirmed` in [[parser2]]. A scan that already
  * has the splits, or a driving table behind its own shuffle, is left as it
  * is. The other inputs are broadcast sides and are never shuffled, so the
  * lineage is scan → (spread) → projection → broadcast join(s) → projection
  * and scales linearly with the fact table.
  */
object Pipelines {

  /** parser.py equivalent (reference `src/parser.py:57-83`): unpivot R1 +
    * first-match enrich J1. Output schema matches FIXTURES.md A3: struct
    * field order = `time_series`, lowercased attrs in CSV order, then the
    * three enrich fields (JSON key order parity, SURVEY §2.6).
    */
  def parser(fact: DataFrame, lookup: DataFrame): DataFrame = {
    val cls = Normalize.classify(fact.columns.toSeq)
    val nested = Unpivot.nest(Pin.spread(fact, Location.map(col): _*), cls.dateCols)
    val normalized = nested.select((col("time_series") +: Normalize.lowercasedAttrs(cls)): _*)
    Enrich.enrich(
      normalized,
      lookup,
      factKey = Seq("country/region"),
      lookupKey = Seq("Country_Region"),
      orderCol = "__row_id",
      projections = Seq(
        (col("iso2"), "country-iso2"),
        (col("Lat").cast("double"), "country-lat"),
        (col("Long_").cast("double"), "country-long"),
      ),
    )
  }

  /** parser2.py equivalent (reference `src/parser2.py:84-139`): three-way
    * combine J2/R2 with zero-fill E2, then single-field enrich J3. Output
    * schema matches FIXTURES.md A4.
    */
  def parser2(confirmed: DataFrame, deaths: DataFrame, recovered: DataFrame, lookup: DataFrame): DataFrame = {
    val combined = Combine.combine(
      driver = Pin.spread(confirmed, Location.map(col): _*),
      driverMeasure = "confirmed",
      measures = Seq("deaths" -> deaths, "recovered" -> recovered),
      keyCols = Location,
    )
    val cls = Normalize.classify(confirmed.columns.toSeq)
    val normalized = combined.select((col("time_series") +: Normalize.lowercasedAttrs(cls)): _*)
    Enrich.enrich(
      normalized,
      lookup,
      factKey = Seq("country/region"),
      lookupKey = Seq("Country_Region"),
      orderCol = "__row_id",
      projections = Seq((col("iso2"), "iso2")),
    )
  }

  /** The location key. Its columns are deterministic row attributes, so a
    * hash repartition on them is safe under task retry.
    */
  private val Location = Seq("Country/Region", "Province/State")

  /** Output key synthesis (P5/P6, reference `src/parser.py:72-75`):
    * `type=<category>/<country>[-<province>].json`.
    */
  def recordKey(category: String): Column =
    concat(
      lit(s"type=$category/"),
      col("country/region"),
      when(col("province/state") === "", lit("")).otherwise(concat(lit("-"), col("province/state"))),
      lit(".json"),
    )

  /** Serialize records to the reference's JSON shape (field order = struct
    * order; nulls dropped for absent-key parity, reference `src/parser.py:71`).
    */
  def toJsonRecords(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*), Map("ignoreNullFields" -> "true")).as("json"))
}
