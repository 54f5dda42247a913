package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, GraftBenchShim, PerfBenchShim, SparkSession}
import graft.{Bench, DfCache, SparkEntry}

/** JVM side of the benchmark; `perfbench/run.py` is the entry point.
  *
  *  - `gen <sf> <seed> <cpus> <outDir>`: the seeded corpus as GenData
  *    writes it (perfbench/corpus.py then rewrites its layout).
  *  - `run <workload> <corpusDir> <seconds> <trace> <cpus>
  *    <scratchRoot> <report>`: set-up, timed passes and the dumps the
  *    correctness check reads, summarised in a JSON report.
  */
object PerfBench {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Set-up runs one warm-up pass, which pays codegen, JIT and the
    * DfCache index builds. The first timed pass after it can still run
    * slower while the JIT catches up, so a run times at least three
    * passes and reports medians. */
  val MinTimedPasses = 3

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: sf :: seed :: cpus :: out :: Nil =>
      val spark = graft.Session.local(cpus.toInt)
      graft.tools.GenData.generate(spark, sf.toDouble, out, seed.toLong)
      spark.stop()
    case "run" :: wl :: corpus :: secs :: trace :: cpus :: scratch :: report :: Nil =>
      new Run(wl, corpus, secs.toDouble, trace == "1", cpus.toInt,
        Paths.get(scratch), Paths.get(report)).run()
    case _ =>
      System.err.println("usage: PerfBench gen <sf> <seed> <cpus> <outDir> | run <workload> " +
        "<corpusDir> <seconds> <trace> <cpus> <scratchRoot> <report>")
      sys.exit(2)
  }

  /** (bytes, regular files) under `p`. */
  def footprint(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) =>
          (b + (try Files.size(f) catch { case NonFatal(_) => 0L }), n + 1) }
      finally s.close()
    }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def write(path: Path, value: Any): Unit =
    Files.writeString(path, json.writeValueAsString(value))

  /** graft.Bench's contention fingerprint (load1m and the wall time of
    * its fixed single-core and all-core spins) and its verdict. */
  def fingerprint(cpus: Int): (Map[String, Double], Boolean) = {
    val fp = Bench.measureFingerprint(cpus)
    (Map("load1m" -> fp.load1m, "spin1_ms" -> fp.spin1Ms, "spin_all_ms" -> fp.spinAllMs),
      Bench.contended(fp))
  }
}

/** One benchmark run of one workload: a closed loop with one client
  * thread sending the workload's mix one query at a time, in sorted
  * order, to one `graft.Session.local` session. It writes the dumps
  * the correctness check reads under `scratch/check`; java.io.tmpdir
  * is expected to point at `scratch/tmp`, the root that the space
  * metrics measure.
  */
final class Run(workload: String, corpus: String, seconds: Double, traced: Boolean,
    cpus: Int, scratch: Path, report: Path) {
  import PerfBench._

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val tmpRoot = scratch.resolve("tmp")
  private val checkDir = scratch.resolve("check")
  private val errors = mutable.LinkedHashMap.empty[String, String]
  private val queries = SparkEntry.benchQueries
  private var spark: SparkSession = _

  private def fail(q: String, phase: String, e: Throwable): Unit = {
    System.err.println(s"[perfbench] $q failed in $phase: $e")
    errors.getOrElseUpdate(q, s"$phase: ${e.getClass.getName}: ${e.getMessage}")
  }

  private def frame(q: String): DataFrame =
    GraftBenchShim.stripTopSort(queries(q)(spark, corpus))

  /** The timed request, exactly as graft.Bench times it: the registry
    * call, then a noop-sink write of the frame without its
    * presentation sort. */
  private def untraced(q: String, group: String): Double = {
    spark.sparkContext.setJobGroup(group, q)
    val t0 = System.nanoTime()
    frame(q).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def traced(listener: GroupListener, q: String, group: String, pass: Int): TracedExec = {
    val sc = spark.sparkContext
    val (b0, f0) = footprint(tmpRoot)
    val hits0 = DfCache.hitCount
    val gc0 = gcSeconds
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    sc.setJobGroup(s"$group/build", q)
    val df = queries(q)(spark, corpus)
    val t1 = System.nanoTime()
    sc.setJobGroup(s"$group/plan", q)
    val write = PerfBenchShim.planNoopWrite(GraftBenchShim.stripTopSort(df))
    val t2 = System.nanoTime()
    sc.setJobGroup(s"$group/exec", q)
    PerfBenchShim.runWrite(write)
    val t3 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    val gc1 = gcSeconds
    val hits = DfCache.hitCount - hits0
    PerfBenchShim.drain(sc)
    val (b1, f1) = footprint(tmpRoot)
    val accs = listener.take(group)
    val all = accs.values.toSeq
    val spans = all.flatMap(_.spans)
    TracedExec(q, pass,
      wallS = (t3 - t0) / 1e9, buildS = (t1 - t0) / 1e9, planS = (t2 - t1) / 1e9,
      execS = (t3 - t2) / 1e9,
      buildJobs = accs.get("build").fold(0L)(_.jobs), jobs = all.map(_.jobs).sum,
      tasks = all.map(_.tasks).sum,
      taskRunS = all.map(_.runMs).sum / 1e3, taskCpuS = all.map(_.cpuNs).sum / 1e9,
      busyTaskS = spans.map { case (s, f) => f - s }.sum / 1e3,
      noTaskS = TracedExec.uncovered(w0, w1, spans) / 1e3,
      shuffleReadBytes = all.map(_.shuffleRead).sum,
      shuffleWriteBytes = all.map(_.shuffleWrite).sum,
      spillBytes = all.map(_.spill).sum, inputBytes = all.map(_.input).sum,
      outputBytes = all.map(_.output).sum, gcS = gc1 - gc0, dfCacheHits = hits,
      scratchBytesDelta = b1 - b0, scratchFilesDelta = f1 - f0)
  }

  /** One pass over the live mix, in order; returns its wall time. */
  private def pass(mix: Seq[String], tag: String)(one: (String, String) => Unit): Double = {
    val p0 = System.nanoTime()
    for (q <- mix if !errors.contains(q))
      try one(q, s"$tag/$q")
      catch { case NonFatal(e) => fail(q, tag, e) }
    (System.nanoTime() - p0) / 1e9
  }

  def run(): Unit = {
    val (fpStart, contendedStart) = fingerprint(cpus)
    val fpStartS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    spark = graft.Session.local(cpus)
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - fpStartS
    val assigned = Workloads.assign(queries.keys)
    val mix = Workloads.mix(assigned, workload)
    val sizes = Workloads.all.map(w => w.name -> assigned.count(_._2 == w.name)).toMap

    // set-up: session, registration, a warm-up pass over the mix
    val warmup = pass(mix, "warmup")((q, g) => untraced(q, g))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - fpStartS

    // timed: complete passes until `seconds` have passed and at least
    // MinTimedPasses ran; a traced run alternates untraced and traced passes
    val samples = mutable.ArrayBuffer.empty[(String, Double)]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    val execs = mutable.ArrayBuffer.empty[TracedExec]
    val listener = new GroupListener
    val t0 = System.nanoTime()
    while (passTimes.size < MinTimedPasses || (traced && tracedTimes.size < MinTimedPasses) ||
        (System.nanoTime() - t0) / 1e9 < seconds) {
      if (traced && tracedTimes.size < passTimes.size) {
        val p = tracedTimes.size
        sc.addSparkListener(listener)
        tracedTimes += pass(mix, s"traced$p")((q, g) => execs += traced(listener, q, g, p))
        PerfBenchShim.drain(sc)
        sc.removeSparkListener(listener)
      } else
        passTimes += pass(mix, s"timed${passTimes.size}")((q, g) => samples += q -> untraced(q, g))
    }
    val (tmpBytes, tmpFiles) = footprint(tmpRoot)
    val (localBytes, _) = footprint(scratch.resolve("local"))
    // each query once: its median latency over the timed passes
    val perQuery = samples.toSeq.groupBy(_._1).map { case (q, xs) => q -> median(xs.map(_._2)) }

    val d0 = System.nanoTime()
    val checks = dumpForCheck(mix)
    val dumpS = (System.nanoTime() - d0) / 1e9
    val (fpEnd, contendedEnd) = fingerprint(cpus)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cpus" -> cpus,
      "workload_sizes" -> sizes, "registry_bench_queries" -> assigned.size,
      "mix" -> mix, "setup_s" -> setupS, "session_s" -> sessionS, "warmup_pass_s" -> warmup,
      "pass_times_s" -> passTimes, "pass_s" -> median(passTimes.toSeq),
      "samples" -> samples.size, "query_p50_s" -> median(perQuery.values.toSeq),
      "query_p90_s" -> percentile(perQuery.values.toSeq, 0.9), "per_query_median_s" -> perQuery,
      "samples_s" -> samples.map { case (q, t) => Seq(q, t) },
      "scratch_bytes" -> tmpBytes, "scratch_files" -> tmpFiles,
      "spark_local_bytes" -> localBytes, "peak_rss_mb" -> peakRssMb,
      "fingerprint" -> Map("start" -> fpStart, "end" -> fpEnd,
        "contended" -> (contendedStart || contendedEnd)),
      "errors" -> errors.toMap, "checks" -> checks, "check_dump_s" -> dumpS)
    if (traced) {
      result("traced_pass_times_s") = tracedTimes
      result("per_layer") = perLayer(execs.toSeq, listener, tracedTimes.toSeq, passTimes.toSeq)
      result("per_query") = execs.map(_.row)
    }
    spark.stop()
    write(report, result)
  }

  /** The workload's per-layer figures: per-pass sums of each query's
    * median over its traced executions, unless named otherwise. */
  private def perLayer(execs: Seq[TracedExec], listener: GroupListener,
      tracedPasses: Seq[Double], untracedPasses: Seq[Double]): ListMap[String, Double] = {
    val (scratchBytes, scratchFiles) = footprint(tmpRoot)
    val byQuery = execs.toSeq.groupBy(_.query)
    def perPass(f: TracedExec => Double): Double =
      byQuery.values.map(es => median(es.map(f))).sum
    val jobsPerQuery = byQuery.values.map(es => median(es.map(_.jobs.toDouble))).toSeq
    ListMap(
      "operators.build_s" -> perPass(_.buildS),
      "operators.build_jobs" -> perPass(_.buildJobs.toDouble),
      "plans.plan_s" -> perPass(_.planS),
      "exec.exec_s" -> perPass(_.execS),
      "spark.jobs" -> perPass(_.jobs.toDouble),
      "spark.jobs_per_query_p50" -> median(jobsPerQuery),
      "spark.no_task_s" -> perPass(_.noTaskS),
      "spark.tasks" -> perPass(_.tasks.toDouble),
      "spark.cores_busy_frac" -> execs.map(_.busyTaskS).sum / (execs.map(_.wallS).sum * cpus),
      "spark.task_run_s" -> perPass(_.taskRunS),
      "spark.task_cpu_s" -> perPass(_.taskCpuS),
      "spark.shuffle_read_bytes" -> perPass(_.shuffleReadBytes.toDouble),
      "spark.shuffle_write_bytes" -> perPass(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> perPass(_.spillBytes.toDouble),
      "spark.input_bytes" -> perPass(_.inputBytes.toDouble),
      "spark.gc_s" -> perPass(_.gcS),
      "spark.output_bytes" -> perPass(_.outputBytes.toDouble),
      "spark.unattributed_jobs" -> listener.unattributedJobs.toDouble,
      "DfCache.hits" -> perPass(_.dfCacheHits.toDouble),
      "sources.scratch_bytes" -> scratchBytes.toDouble,
      "sources.scratch_files" -> scratchFiles.toDouble,
      "trace.overhead" -> median(tracedPasses) / median(untracedPasses))
  }

  /** Outside every timing: dump each live mix query's timed frame for
    * the correctness check. Queries with an oracle (and no bench twin)
    * get one dump plus their oracle SQL; the others get two dumps
    * whose digests must agree. */
  private def dumpForCheck(mix: Seq[String]): Map[String, String] = {
    val oracles = mutable.LinkedHashMap.empty[String, String]
    val modes = mutable.LinkedHashMap.empty[String, String]
    val registry = SparkEntry.registry
    for (q <- mix if !errors.contains(q)) {
      val reg = registry(q)
      val mode = if (reg.benchFn.isEmpty && reg.oracle.isDefined) "oracle" else "digest"
      try {
        spark.sparkContext.setJobGroup(s"check/$q", q)
        frame(q).write.mode("overwrite").parquet(checkDir.resolve(s"a/$q").toString)
        if (mode == "digest")
          frame(q).write.mode("overwrite").parquet(checkDir.resolve(s"b/$q").toString)
        else oracles(q) = reg.oracle.get.trim
        modes(q) = mode
      } catch { case NonFatal(e) => fail(q, "check dump", e) }
    }
    Files.createDirectories(checkDir.resolve("a"))
    write(checkDir.resolve("a/oracle_sql.json"), oracles)
    modes.toMap
  }
}
