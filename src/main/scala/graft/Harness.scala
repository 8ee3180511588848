package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** The session, the temp directories and the hash action the mains
  * ([[Bench]], [[ScaleBench]], [[Verify]], [[Smoke]], [[PlanDump]],
  * [[JobProbe]]) and the test suites share.
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

  /** A fresh directory under `base` (default: `java.io.tmpdir`), deleted
    * recursively, with whatever was written into it later, when the JVM
    * exits. One shutdown hook drains a queue, so a gate loop calling this
    * per iteration registers no thread per call.
    */
  def tempDir(prefix: String, base: Option[java.nio.file.Path] = None): java.nio.file.Path = {
    tempDirCleanup
    val dir = base.fold(java.nio.file.Files.createTempDirectory(prefix))(
      java.nio.file.Files.createTempDirectory(_, prefix))
    tempDirs.add(dir.toFile)
    dir
  }

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val tempDirCleanup: Unit =
    sys.addShutdownHook(tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))): Unit

  /** Run `df` to completion by reducing every row to a hash and XOR-folding.
    * A bare count() lets Catalyst prune the projections, so expensive output
    * columns (regex, JSON, custom expressions) would never execute. bit_xor,
    * not sum: summing random 64-bit hashes overflows BIGINT under ANSI mode.
    */
  def hashAll(df: DataFrame): Unit =
    df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h")).agg(expr("bit_xor(__h)")).collect(): Unit
}
