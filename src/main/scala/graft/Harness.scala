package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** The session and the hash action the mains ([[Bench]], [[ScaleBench]],
  * [[Verify]], [[Smoke]], [[PlanDump]], [[JobProbe]]) share.
  */
object Harness {

  /** `local[$SPARK_GRAFT_CPUS]` (default: this host's processors) with as
    * many shuffle partitions, UI off and WARN logging. Explicit UTC: the
    * TIMESTAMP_NTZ→TIMESTAMP cast in [[Tables.events]] is only
    * value-preserving under a UTC session zone.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `df` to completion by reducing every row to a hash and XOR-folding.
    * A bare count() lets Catalyst prune the projections, so expensive output
    * columns (regex, JSON, custom expressions) would never execute. bit_xor,
    * not sum: summing random 64-bit hashes overflows BIGINT under ANSI mode.
    */
  def hashAll(df: DataFrame): Unit =
    df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h")).agg(expr("bit_xor(__h)")).collect(): Unit
}
