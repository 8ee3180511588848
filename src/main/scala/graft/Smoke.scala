package graft

/** Drives the driver's t1 smoke contract locally: `SparkEntry.entry` on
  * sf0.001 must return rows. Prints the row count and the schema.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val df = SparkEntry.entry(spark)
    df.printSchema()
    df.show(5, truncate = 120)
    println(s"[smoke] entry rows = ${df.count()}")
    spark.stop()
  }
}
