package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-operation Spark counters, attributed through a local property: the
  * caller tags an operation with [[OpListener.traced]], every job that
  * operation launches (SQL subqueries and broadcasts inherit the
  * property) is collected, and after the operation the bus is drained
  * and the jobs' stages and tasks are summed.
  *
  * The listener is registered only for the duration of a traced
  * operation, so untraced operations in the same run pay nothing.
  */
final class OpListener(spark: SparkSession, cores: Int) extends SparkListener {
  import OpListener._

  private final case class Job(start: Long, var end: Long, stages: Seq[Int])
  private val jobs = mutable.Map.empty[Int, Job]
  private val stagesDone = mutable.Set.empty[Int]
  private val tasks = mutable.ArrayBuffer.empty[SparkListenerTaskEnd]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(p => p.getProperty(Property) != null))
      jobs(e.jobId) = Job(e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesDone += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized { tasks += e }

  /** Runs `body` as one traced operation and returns its result and the
    * counters of the jobs it launched, keyed by per-layer metric name.
    */
  def traced[T](body: => T): (T, Map[String, Double]) = {
    val sc = spark.sparkContext
    synchronized { jobs.clear(); stagesDone.clear(); tasks.clear() }
    sc.addSparkListener(this)
    sc.setLocalProperty(Property, "op")
    val t0 = System.currentTimeMillis()
    var t1 = t0
    val out = try body finally {
      t1 = System.currentTimeMillis()
      sc.setLocalProperty(Property, null)
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(this)
    }
    (out, synchronized(summarize(t1 - t0)))
  }

  private def summarize(wallMs: Long): Map[String, Double] = {
    val stageIds = jobs.values.flatMap(_.stages).toSet
    val ts = tasks.filter(t => stageIds.contains(t.stageId) && t.taskMetrics != null)
    // union of job intervals: jobs of one operation may overlap
    val spans = jobs.values.toSeq.filter(_.end >= 0).map(j => (j.start, j.end)).sortBy(_._1)
    var inJobs = 0L; var curS = -1L; var curE = -1L
    spans.foreach { case (s, e) =>
      if (curE < 0 || s > curE) { if (curE >= 0) inJobs += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) inJobs += curE - curS
    def sum(f: SparkListenerTaskEnd => Long): Double = ts.map(f).sum.toDouble
    val run = sum(_.taskMetrics.executorRunTime)
    val sched = ts.map { t =>
      val m = t.taskMetrics
      math.max(0L, t.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - t.taskInfo.gettingResultTime)
    }.sum.toDouble
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stageIds.count(stagesDone.contains).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.job_wall_ms" -> inJobs.toDouble,
      "spark.driver_gap_ms" -> math.max(0L, wallMs - inJobs).toDouble,
      "spark.task_run_ms" -> run,
      "spark.task_cpu_ms" -> sum(_.taskMetrics.executorCpuTime) / 1e6,
      "spark.task_gc_ms" -> sum(_.taskMetrics.jvmGCTime),
      "spark.task_deser_ms" -> sum(_.taskMetrics.executorDeserializeTime),
      "spark.scheduler_delay_ms" -> sched,
      "spark.executor_busy_frac" -> (if (inJobs > 0) run / (inJobs.toDouble * cores) else 0.0),
      "spark.input_bytes" -> sum(_.taskMetrics.inputMetrics.bytesRead),
      "spark.shuffle_read_bytes" -> sum(t =>
        t.taskMetrics.shuffleReadMetrics.localBytesRead + t.taskMetrics.shuffleReadMetrics.remoteBytesRead),
      "spark.shuffle_write_bytes" -> sum(_.taskMetrics.shuffleWriteMetrics.bytesWritten),
      "spark.spill_bytes" -> sum(t => t.taskMetrics.memoryBytesSpilled + t.taskMetrics.diskBytesSpilled),
      "spark.output_bytes" -> sum(_.taskMetrics.outputMetrics.bytesWritten))
  }
}

object OpListener {
  val Property = "perfbench.op"
}
