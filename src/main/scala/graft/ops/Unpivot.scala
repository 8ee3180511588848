package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}

/** Wide→nested / wide→long reshape — the reference's signature operator
  * (R1, reference `src/parser.py:28-41`; SURVEY §2.3).
  *
  * Two forms, both shuffle-free where possible:
  *
  *  - [[nest]] — the faithful mapping of `fix_record`: fold all date columns
  *    of a row into `time_series: array<struct<date,value>>` in column
  *    (= chronological) order. A pure projection: no shuffle, no sort, order
  *    exact by construction. At 100 TB this is the only shape that scales —
  *    the relational alternative (`melt` + `collect_list`) shuffles the entire
  *    fact table and needs `sort_array` to repair nondeterministic
  *    post-shuffle order.
  *
  *  - [[melt]] — relational long form via Spark's built-in `unpivot`
  *    (codegen'd Expand, no shuffle). The right intermediate for joins and
  *    aggregation over the time dimension, and for parser2's per-date merge.
  */
object Unpivot {

  /** R1 nest: `time_series: array<struct<date, value>>` in `dateCols`
    * (= CSV column = chronological) order, zipped by [[timeSeries]] from
    * [[dateArray]]'s one cast lambda, so the plan holds no struct and no
    * cast per date.
    */
  def nest(df: DataFrame, dateCols: Seq[String], valueType: String = "int"): DataFrame = {
    val series = timeSeries(dateCols, Seq("value" -> dateArray(df, dateCols, valueType, zeroFill = false)), valueType)
    df.select(series.as("time_series") +: df.columns.filterNot(dateCols.contains).map(col).toSeq: _*)
  }

  /** `df`'s cells for `dates` as one array, aligned by column NAME: one
    * `transform` lambda casts a plain array of the cells, so the plan holds
    * one cast per measure, not one per date. With `zeroFill` a null cell,
    * or a date absent from `df`'s schema (a null of the cells' type), is 0
    * (E2); a junk cell still fails the cast under ANSI mode (E4).
    */
  private[ops] def dateArray(df: DataFrame, dates: Seq[String], valueType: String, zeroFill: Boolean): Column = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val missing = lit(null).cast(dates.collectFirst(types).getOrElse(StringType))
    val cells = array(dates.map(d => if (types.contains(d)) col(d) else missing): _*)
    transform(cells, x => if (zeroFill) coalesce(x.cast(valueType), lit(0).cast(valueType)) else x.cast(valueType))
  }

  /** `array<struct<date, <field>…>>`: `arrays_zip` of the normalized `dates`
    * literal (P4) and equally long field arrays, cast to name the fields.
    *
    * Lambdas: mapping one element by element over a plain cell array
    * (`transform(array(c …), x -> f(x))`, as [[dateArray]] does) evaluates
    * the array once per row, and is the form to use: at 2000 dates, on a
    * 4-core local session, one measure's cast went from 1.71 s as one
    * `Cast` per date to 0.87 s.
    * Never index an inline `array(...)` inside a lambda
    * (`element_at(array(…), i)`): Catalyst inlines the array into the
    * lambda, so every element rebuilds the whole array, O(dates²) (jhu-lake
    * `batch_s` went from 1.98 to 8.04 s in a prototype of that form).
    */
  private[ops] def timeSeries(dates: Seq[String], fields: Seq[(String, Column)], valueType: String): Column = {
    val elem = StructType(StructField("date", StringType) +: fields.map(f => StructField(f._1, DataType.fromDDL(valueType))))
    arrays_zip(typedLit(dates.map(Normalize.normalizeDateName)) +: fields.map(_._2): _*).cast(ArrayType(elem))
  }

  /** Long form: one row per (id, variable, value). Spark's native `unpivot`
    * plans as an Expand (row generator) inside whole-stage codegen — no
    * shuffle, streams at scan speed.
    */
  def melt(
      df: DataFrame,
      idCols: Seq[String],
      valueCols: Seq[String],
      varName: String = "variable",
      valName: String = "value",
  ): DataFrame =
    df.unpivot(idCols.map(col).toArray, valueCols.map(col).toArray, varName, valName)

  /** Melt the reference's dynamic date columns (discovered by P1 regex) into
    * `(…, date, value)` with P4-normalized date strings. The date rename is a
    * driver-side map over column names; per-row work is just the Expand.
    */
  def meltDates(df: DataFrame, valueType: String = "int"): DataFrame = {
    val cls = Normalize.classify(df.columns.toSeq)
    val renamed = df.select(
      (cls.other ++ cls.latLong).map(col) ++
        cls.dateCols.map(c => col(c).as(Normalize.normalizeDateName(c))): _*
    )
    val long = melt(
      renamed,
      (cls.other ++ cls.latLong).toSeq,
      cls.dateCols.map(Normalize.normalizeDateName),
      "date",
      "raw_value",
    )
    long.withColumn("value", col("raw_value").cast(valueType)).drop("raw_value")
  }

  /** Re-nest a long form back into an ordered array-of-structs.
    * `collect_list` order is undefined after a shuffle (SURVEY §7.3-2), so the
    * array is built sorted: `sort_array` on a struct whose FIRST field is the
    * sort key. One shuffle (the groupBy) — unavoidable for re-nesting; prefer
    * [[nest]] when the input is still wide.
    */
  def renest(
      long: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      valueCols: Seq[String],
      arrayName: String = "time_series",
  ): DataFrame = {
    val elem = struct((orderCol +: valueCols).map(col): _*)
    long
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(elem)).as(arrayName))
  }
}
