package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Spark-layer counters per job group. The benchmark gives every
  * phase of every traced query execution its own group
  * (`<execution>/<phase>`), so each job, stage and task is charged to
  * the query and phase that launched it. Jobs without a group are
  * counted in `unattributedJobs`.
  */
final class GroupListener extends SparkListener {
  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
    /** (launch, finish) epoch milliseconds of every finished task. */
    val spans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val groups = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private var unattributed = 0L

  def unattributedJobs: Long = synchronized(unattributed)

  /** Remove and return the counters of every group named `<prefix>/...`. */
  def take(prefix: String): Map[String, Acc] = synchronized {
    val mine = groups.keys.filter(_.startsWith(prefix + "/")).toSeq
    val out = mine.map(g => g.stripPrefix(prefix + "/") -> groups(g)).toMap
    groups --= mine
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
      case Some(g) =>
        groups.getOrElseUpdate(g, new Acc).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      case None => unattributed += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId)) {
      val a = groups.getOrElseUpdate(g, new Acc)
      a.tasks += 1
      a.spans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** One traced query execution: the benchmark's own spans around its
  * calls into the program, plus the Spark counters of its job groups.
  */
final case class TracedExec(
    query: String, pass: Int,
    wallS: Double, buildS: Double, planS: Double, execS: Double,
    buildJobs: Long, jobs: Long, tasks: Long,
    taskRunS: Double, taskCpuS: Double, busyTaskS: Double, noTaskS: Double,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    inputBytes: Long, outputBytes: Long, gcS: Double, dfCacheHits: Long,
    scratchBytesDelta: Long, scratchFilesDelta: Long) {

  def row: Map[String, Any] = Map(
    "query" -> query, "pass" -> pass, "wall_s" -> wallS,
    "operators.build_s" -> buildS, "operators.build_jobs" -> buildJobs,
    "plans.plan_s" -> planS, "exec.exec_s" -> execS,
    "spark.jobs" -> jobs, "spark.tasks" -> tasks,
    "spark.task_run_s" -> taskRunS, "spark.task_cpu_s" -> taskCpuS,
    "spark.busy_task_s" -> busyTaskS, "spark.no_task_s" -> noTaskS,
    "spark.shuffle_read_bytes" -> shuffleReadBytes,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes,
    "spark.spill_bytes" -> spillBytes, "spark.input_bytes" -> inputBytes,
    "spark.output_bytes" -> outputBytes, "spark.gc_s" -> gcS,
    "DfCache.hits" -> dfCacheHits,
    "sources.scratch_bytes_delta" -> scratchBytesDelta,
    "sources.scratch_files_delta" -> scratchFilesDelta)
}

object TracedExec {
  /** Wall time inside [t0, t1] (epoch ms) that no task covered. */
  def uncovered(t0: Long, t1: Long, spans: Seq[(Long, Long)]): Long = {
    val clipped = spans.map { case (s, f) => (s max t0, f min t1) }.filter { case (s, f) => f > s }
    var covered = 0L
    var end = t0
    for ((s, f) <- clipped.sortBy(_._1) if f > end) {
      covered += f - (s max end)
      end = f
    }
    (t1 - t0) - covered
  }
}
