package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The schema-adaptive testdata readers and the drift probe (round-8 lesson:
  * the driver regenerated events.ts ns→µs mid-round and the hard-coded nanos
  * workaround broke 23 queries; readers now bind to logical schema).
  */
class TablesSpec extends SparkSpec {

  private def tmpSf(): java.nio.file.Path = {
    val dir = SparkSpec.tempDir("graft_tables_spec")
    // Start from a full copy of the real sf0.001 tables so the probe's
    // whole-catalog walk succeeds, then perturb individual files per test.
    val src = Paths.get(sf())
    Files.list(src).forEach { p =>
      if (p.toString.endsWith(".parquet")) {
        val dst = dir.resolve(p.getFileName)
        if (Files.isDirectory(p)) {
          Files.createDirectories(dst)
          Files.list(p).forEach(f =>
            Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
        } else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    dir
  }

  test("events reader adapts: current testdata loads as TimestampType with live values") {
    val df = Tables.events(spark, sf())
    assert(df.schema("ts").dataType === TimestampType)
    val n = df.filter(col("ts") >= lit("2000-01-01").cast("timestamp")).count()
    assert(n > 0, "expected non-degenerate timestamps after normalization")
  }

  test("events reader adapts: legacy long-nanos encoding narrows to microseconds") {
    val dir = tmpSf()
    // 2021-01-01 00:00:00.000001500 UTC in nanos: the µs narrowing must
    // TRUNCATE (1500 ns → 1 µs), matching how DuckDB reads the legacy file.
    val ns = 1609459200L * 1000000000L + 1500L
    spark.range(1).select(
      lit(1L).as("event_id"), lit(ns).as("ts"), lit(7L).as("user_id"),
      lit("click").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"),
    ).write.mode("overwrite").parquet(dir.resolve("events.parquet").toString)
    val df = Tables.events(spark, dir.toString)
    assert(df.schema("ts").dataType === TimestampType)
    val got = df.select(unix_micros(col("ts"))).head().getLong(0)
    assert(got === 1609459200000001L)
  }

  test("schema drift probe: passes on real testdata, one loud line on a perturbed table") {
    Tables.assertTestdataSchema(spark, sf()) // must not throw
    val dir = tmpSf()
    spark.range(1).select(
      lit(1L).as("event_id"), lit("not-a-timestamp").as("ts"), lit(7L).as("user_id"),
      lit("click").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"),
    ).write.mode("overwrite").parquet(dir.resolve("events.parquet").toString)
    val e = intercept[IllegalStateException](Tables.assertTestdataSchema(spark, dir.toString))
    assert(e.getMessage.contains("testdata schema drift"))
    assert(e.getMessage.contains("events.ts is string"))
  }

  test("schema drift probe: missing column is named") {
    val dir = tmpSf()
    spark.read.parquet(dir.resolve("documents.parquet").toString).drop("lang")
      .write.mode("overwrite").parquet(dir.resolve("documents2.parquet").toString)
    // overwrite in place via rename (Spark can't overwrite its own input)
    org.apache.commons.io.FileUtils.deleteQuietly(dir.resolve("documents.parquet").toFile)
    Files.move(dir.resolve("documents2.parquet"), dir.resolve("documents.parquet"))
    val e = intercept[IllegalStateException](Tables.assertTestdataSchema(spark, dir.toString))
    assert(e.getMessage.contains("documents.lang missing"))
  }
}
