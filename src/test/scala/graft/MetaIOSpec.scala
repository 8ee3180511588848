package graft

import graft.operators.MetaIO
import org.apache.spark.sql.functions.col

/** MetaIO is the driver-direct reader/writer for metadata-scale parquet
  * (manifest generations, index self-description, codebooks). Its contract
  * is bidirectional Spark interchangeability: everything Spark wrote it
  * must read (values AND listing rule), and everything it writes Spark
  * must read identically.
  */
class MetaIOSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  test("readGroups reads a Spark-written object: strings, ints, longs, float arrays, ordering-free") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_metaio_rt").toString
    val df = Seq(
      ("codes", 3, "part-a.parquet", 101L, Seq(1.5f, -2.25f)),
      ("fold", 0, "7", 0L, Seq.empty[Float]),
      ("committer", -1, "tok-x", 0L, Seq(0.0f)),
    ).toDF("kind", "centroid_id", "name", "bytes", "vec")
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val rows = MetaIO
      .readGroups(conf, dir)
      .map(g =>
        (MetaIO.str(g, "kind"), MetaIO.int32(g, "centroid_id"), MetaIO.str(g, "name"),
          MetaIO.int64(g, "bytes"), MetaIO.floatSeq(g, "vec")))
      .sortBy(_._1)
    assert(rows == Seq(
      ("codes", 3, "part-a.parquet", 101L, Seq(1.5f, -2.25f)),
      ("committer", -1, "tok-x", 0L, Seq(0.0f)),
      ("fold", 0, "7", 0L, Seq.empty[Float]),
    ))
  }

  test("writeRows output is read back identically by Spark (the manifest interchange contract)") {
    val dir = SparkSpec.tempDir("graft_metaio_w").toString
    val schema =
      """message spark_schema {
        |  optional binary kind (UTF8);
        |  optional int32 centroid_id;
        |  optional binary name (UTF8);
        |  optional int64 bytes;
        |}""".stripMargin
    MetaIO.writeRows(conf, s"$dir/part-00000.parquet", schema,
      Seq(Seq("codes", 5, "f1.parquet", 42L), Seq("committer", -1, "tok", 0L)))
    val back = spark.read
      .parquet(dir)
      .select(col("kind"), col("centroid_id"), col("name"), col("bytes"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(back.toSeq == Seq(("codes", 5, "f1.parquet", 42L), ("committer", -1, "tok", 0L)))
    // And MetaIO reads its own output.
    assert(MetaIO.readGroups(conf, dir).size == 2)
  }

  test("rowCount matches Spark's count over a partitioned tree with underscore partition dirs") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_metaio_pc").toString
    // __bin starts with '_': Spark's hidden-path rule exempts names with
    // '=', and MetaIO must match or compaction row gates read 0 (the
    // exact regression this spec pins).
    (0 until 97)
      .map(i => (i, i % 3, i % 2))
      .toDF("v", "centroid_id", "__bin")
      .write
      .mode("overwrite")
      .partitionBy("centroid_id", "__bin")
      .parquet(dir)
    assert(MetaIO.rowCount(conf, Seq(dir)) == 97L)
    assert(MetaIO.rowCount(conf, Seq(dir)) == spark.read.parquet(dir).count())
  }

  test("readGroups on a missing path fails loudly; absent field fails loudly") {
    intercept[java.io.FileNotFoundException] {
      MetaIO.readGroups(conf, "/tmp/graft_metaio_definitely_missing_12345")
    }
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_metaio_nf").toString
    Seq(("a", 1)).toDF("kind", "n").coalesce(1).write.mode("overwrite").parquet(dir)
    val g = MetaIO.readGroups(conf, dir).head
    intercept[IllegalArgumentException] { MetaIO.str(g, "nope") }
  }

  test("readGroups on a directory with no *.parquet data file fails loudly, not as zero rows") {
    val dir = SparkSpec.tempDir("graft_metaio_empty")
    intercept[IllegalStateException](MetaIO.readGroups(conf, dir.toString))
    // a commit marker alone is no data file either
    java.nio.file.Files.createFile(dir.resolve("_SUCCESS"))
    val e = intercept[IllegalStateException](MetaIO.readGroups(conf, dir.toString))
    assert(e.getMessage.contains("no *.parquet data file"), e.getMessage)
  }
}
