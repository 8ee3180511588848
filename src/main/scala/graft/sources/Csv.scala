package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** CSV ingestion (S1/S2, reference `src/parser.py:43-55,61`; SURVEY §2.1).
  *
  * The reference GETs a whole CSV over HTTPS into one string, then parses
  * with `csv.DictReader` (all cells strings). Spark mapping:
  *
  *  - [[readCsv]] — files already landed (S3/local): header=true,
  *    inferSchema=false so every column is `StringType`, exactly DictReader's
  *    contract. This is the scale path — parallel splittable reads.
  *  - [[readCsvStrict]] — a typed scan that fails on the first malformed
  *    cell, the reference's crash-on-bad-input (E1/E4). There is no
  *    quarantine mode.
  *  - [[fromString]] — the reference's in-memory-string shape: parse a
  *    fetched body via `spark.read.csv(Dataset[String])`. Driver-side fetch
  *    is inherently single-node; only for small dimension files (the ~4k-row
  *    lookup), never the fact path.
  */
object Csv {

  /** S2 — header'd CSV scan, all columns StringType (DictReader parity). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .csv(path)

  /** S2 variant — FAILFAST scan (reference crash parity, E1). */
  def readCsvStrict(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "FAILFAST")
      .schema(schema)
      .csv(path)

  /** S1 — parse an in-memory CSV body (one fetched string). */
  def fromString(spark: SparkSession, body: String): DataFrame = {
    import spark.implicits._
    val lines: Dataset[String] = spark.createDataset(body.split("\n", -1).toIndexedSeq)
    spark.read.option("header", "true").option("inferSchema", "false").csv(lines)
  }

  /** S4 — the reference's fixed multi-URL manifest (one CSV per category,
    * reference `src/parser.py:88-91`) as ONE scan: read all paths together
    * and derive `category` from `input_file_name()`. One job instead of N;
    * at scale the categories parallelize as ordinary file splits.
    * `categoryOf` maps a file name fragment to its category label.
    */
  def readManifest(spark: SparkSession, paths: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val df = spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .csv(paths.values.toSeq: _*)
    // Match on the DECODED last path segment, exactly — a substring match
    // would misattribute files whose names contain another manifest entry's
    // name (confirmed.csv vs us_confirmed.csv), and input_file_name() is a
    // URL-encoded URI, so raw name comparison breaks on e.g. spaces.
    val lastSegment = url_decode(element_at(split(input_file_name(), "/"), -1))
    val cat = paths.foldLeft(lit(null).cast("string")) { case (acc, (category, path)) =>
      when(lastSegment === new java.io.File(path).getName, lit(category)).otherwise(acc)
    }
    df.withColumn("category", cat)
  }
}
