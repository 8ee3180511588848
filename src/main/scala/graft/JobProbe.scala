package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev harness: per-JOB wall-time attribution for one or more
  * [[SparkEntry.queries]] entries (`runMain graft.JobProbe <sfDir> <query>
  * [query...]`) — the missing grain between [[Bench]] (whole-query seconds)
  * and [[PlanDump]] (executed plans). A composed lifecycle query is a
  * SEQUENCE of Spark actions (train collects, landing writes, manifest
  * commits, the final serve): optimizing it requires knowing which ACTION
  * owns the seconds, and the callSite each job carries is exactly that
  * attribution (e.g. `parquet at IvfIndex.scala:607`).
  *
  * Prints, per query: every job's wall ms + call site, in execution order,
  * then the per-callSite total sorted descending. Driver-side gaps (plan
  * optimization, FS listings between jobs) show up as the difference between
  * the query wall and the job sum — printed too, so "no job was running" time
  * is visible instead of invisible.
  */
object JobProbe {
  private final case class JobRow(id: Int, start: Long, var end: Long = -1L, site: String)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse(js.stageInfos.headOption.map(_.name).getOrElse("?"))
        jobs.put(js.jobId, JobRow(js.jobId, js.time, site = site))
        order.add(js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach(_.end = je.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
        // Only print stages that matter (>= 500 ms wall): the interesting
        // signal is a long stage, and inside it whether the time is one
        // straggler task (max >> sum/n) or spread work.
        if (wall >= 500) {
          val m = Option(si.taskMetrics)
          val run = m.map(_.executorRunTime).getOrElse(-1L)
          println(
            f"  STAGE ${si.stageId}%4d wall=${wall}%6d ms tasks=${si.numTasks}%4d taskSum=${run}%7d ms  ${si.name.takeWhile(_ != '(').trim} ${si.details.linesIterator.toSeq.drop(1).headOption.getOrElse("").trim.take(80)}"
          )
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // Same warmups as Bench so the first measured query is not absorbing
    // session startup.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      jobs.clear(); order.clear()
      val t0 = System.nanoTime()
      Harness.hashAll(fn(spark, sfDir))
      val wallMs = (System.nanoTime() - t0) / 1e6
      // The listener bus is async; a short settle keeps the last job's end
      // event from being missed (dev harness — a sleep is fine).
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val rows = order.asScala.toSeq.flatMap(id => Option(jobs.get(id)))
      val jobSum = rows.collect { case r if r.end > 0 => r.end - r.start }.sum
      println(f"JOBPROBE $name wall=${wallMs / 1000}%.2fs jobs=${rows.size} jobSum=${jobSum / 1000.0}%.2fs driverGap=${(wallMs - jobSum) / 1000}%.2fs")
      var prevEnd = -1L
      rows.foreach { r =>
        val d = if (r.end > 0) r.end - r.start else -1L
        // gap = driver-side time since the previous job ended (planning,
        // FS metadata work, collect deserialization) — where "no job is
        // running" seconds hide.
        val gap = if (prevEnd > 0) r.start - prevEnd else 0L
        if (r.end > 0) prevEnd = r.end
        println(f"  job ${r.id}%4d ${d}%6d ms  gap=${gap}%5d ms  ${r.site}")
      }
      val bySite = rows
        .collect { case r if r.end > 0 => (r.site, r.end - r.start) }
        .groupBy(_._1)
        .map { case (s, xs) => (s, xs.map(_._2).sum, xs.size) }
        .toSeq
        .sortBy(-_._2)
      println(s"  -- by call site --")
      bySite.foreach { case (s, ms, n) => println(f"  $ms%6d ms  n=$n%-3d $s") }
    }
    spark.stop()
  }
}
