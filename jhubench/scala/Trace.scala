package jhubench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Layer counters for one batch, gathered through Spark's public hooks: a
  * `SparkListener` (jobs, stages, task metrics), a `QueryExecutionListener`
  * (Catalyst phase times from each action's planning tracker) and the JVM-wide
  * codegen counters (`CodeGenerator.compileTime`, `CodegenMetrics`).
  *
  * Listener callbacks run on Spark's listener-bus threads while the benchmark
  * thread reads, so every field is guarded by `this`.
  */
final class Trace(spark: SparkSession, cores: Int) {
  private var jobs, stages, tasks, failedTasks = 0L
  private var cpuNs, runMs, gcMs, outBytes, shuffleWrite, shuffleRead, spill, peakMem = 0L
  private var analysisMs, optimizationMs, planningMs = 0L
  private val jobStart = mutable.Map[Int, Long]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()
  private var compile0, classes0, sourceCount0 = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs += 1
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      tasks += 1
      if (!e.taskInfo.successful) failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        outBytes += m.outputMetrics.bytesWritten
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.diskBytesSpilled
        peakMem = math.max(peakMem, m.peakExecutionMemory)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(name: String) = p.get(name).map(_.durationMs).getOrElse(0L)
    synchronized {
      analysisMs += ms(QueryPlanningTracker.ANALYSIS)
      optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
      planningMs += ms(QueryPlanningTracker.PLANNING)
    }
  }

  /** Wait until the listener bus has delivered every posted event. The
    * method is Spark-internal in the Scala API but public in bytecode.
    */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def attach(): Unit = {
    drain()
    synchronized {
      jobs = 0; stages = 0; tasks = 0; failedTasks = 0
      cpuNs = 0; runMs = 0; gcMs = 0; outBytes = 0; shuffleWrite = 0; shuffleRead = 0; spill = 0; peakMem = 0
      analysisMs = 0; optimizationMs = 0; planningMs = 0
      jobStart.clear(); intervals.clear()
      compile0 = CodeGenerator.compileTime
      classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      sourceCount0 = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
    }
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Detach and return this batch's layer values; `wallS` is the batch's
    * wall time, for the driver gap and the executor busy fraction.
    */
  def detach(wallS: Double): Map[String, Double] = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    val newSources = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount - sourceCount0
    // the histogram keeps a sample, not a sum: size = new classes x mean size
    val sourceKb = newSources * CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getSnapshot.getMean / 1024.0
    synchronized {
      val jobUnionMs = union(intervals.toSeq)
      val mb = 1024.0 * 1024.0
      Map(
        "catalyst.analysis_s" -> analysisMs / 1e3,
        "catalyst.optimization_s" -> optimizationMs / 1e3,
        "catalyst.planning_s" -> planningMs / 1e3,
        "codegen.compile_s" -> (CodeGenerator.compileTime - compile0) / 1e9,
        "codegen.classes" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0).toDouble,
        "codegen.source_kb" -> sourceKb,
        "exec.jobs" -> jobs.toDouble,
        "exec.stages" -> stages.toDouble,
        "exec.tasks" -> tasks.toDouble,
        "exec.failed_tasks" -> failedTasks.toDouble,
        "exec.task_cpu_s" -> cpuNs / 1e9,
        "exec.gc_s" -> gcMs / 1e3,
        "exec.busy_frac" -> runMs / 1e3 / (wallS * cores),
        "exec.output_mb" -> outBytes / mb,
        "exec.shuffle_write_mb" -> shuffleWrite / mb,
        "exec.shuffle_read_mb" -> shuffleRead / mb,
        "exec.spill_mb" -> spill / mb,
        "exec.peak_exec_mem_mb" -> peakMem / mb,
        "driver.gap_s" -> math.max(0.0, wallS - jobUnionMs / 1e3),
      )
    }
  }

  /** Total length of the union of [start, end] intervals. */
  private def union(xs: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }
}
