package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev harness: write `.explain("formatted")` of named [[SparkEntry.queries]]
  * entries to files (`runMain graft.PlanDump <sfDir> <outDir> <tag> <query>
  * [query...]`) — the plan evidence the optimization rounds commit under
  * `plans/<round>/<query>_<tag>.txt`. Static (pre-AQE) formatted plans: the
  * shape claims they document (Exchange count and origin, join strategy,
  * PushedFilters/ReadSchema) are all visible before runtime re-optimization.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args.drop(3).toSeq
    val spark = Harness.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
