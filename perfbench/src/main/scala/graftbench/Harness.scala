package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

final case class Args(workload: String, data: String, work: String, out: String,
                      seconds: Double, trace: Boolean, cores: Int, opts: Map[String, String])

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("out"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("cores", "2").toInt, m)
  }
}

/** Minimal JSON rendering for the result file (maps, sequences,
  * numbers, strings, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.fold("null")(apply)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Counter values at one instant; `-` gives the work between two. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, runMs: Long,
                        cpuNs: Long, taskGcMs: Long, inputBytes: Long,
                        shuffleBytes: Long, spillBytes: Long, outputBytes: Long,
                        analysisMs: Long, optimizeMs: Long, planningMs: Long,
                        jvmGcMs: Long, jobsByFile: Map[String, Long]) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    runMs - o.runMs, cpuNs - o.cpuNs, taskGcMs - o.taskGcMs, inputBytes - o.inputBytes,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes, outputBytes - o.outputBytes,
    analysisMs - o.analysisMs, optimizeMs - o.optimizeMs, planningMs - o.planningMs,
    jvmGcMs - o.jvmGcMs,
    (jobsByFile.keySet ++ o.jobsByFile.keySet).map(k =>
      k -> (jobsByFile.getOrElse(k, 0L) - o.jobsByFile.getOrElse(k, 0L))).toMap)
}

/** Spark listener attached to every session: scheduler, executor and
  * data-movement counters. With `full` (traced runs) it also listens to
  * query executions for the Catalyst-phase times and keys job counts by
  * the source file of each job's call site (`save at Writers.scala:200`
  * → Writers). */
final class Probe(full: Boolean) extends SparkListener with QueryExecutionListener {
  private val c = Array.fill(13)(new AtomicLong)
  private val byFile = new ConcurrentHashMap[String, AtomicLong]()
  private val execFile = new ConcurrentHashMap[String, String]()
  private val SiteFile = """ at ([A-Za-z0-9_$]+)\.scala:""".r
  private val GraftFrame = """(?m)^graft\.[\w.$]+\(([A-Za-z0-9_]+)\.scala:""".r

  /** A SQL execution's start event carries the full call stack of the
    * action that began it; its first graft frame names the file whose
    * code started the execution's jobs (jobs of adaptive stages run on
    * other threads, whose own stacks hold no graft frame). */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if full =>
      GraftFrame.findFirstMatchIn(s.details).foreach(m =>
        execFile.put(s.executionId.toString, m.group(1)))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c(0).incrementAndGet()
    if (full) countByFile(e)
  }
  private def countByFile(e: SparkListenerJobStart): Unit = {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val file = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execFile.get(id)))
      .orElse(SiteFile.findFirstMatchIn(site).map(_.group(1))).getOrElse("other")
    byFile.computeIfAbsent(file, _ => new AtomicLong).incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c(1).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(2).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(3).addAndGet(m.executorRunTime)
      c(4).addAndGet(m.executorCpuTime)
      c(5).addAndGet(m.jvmGCTime)
      c(6).addAndGet(m.inputMetrics.bytesRead)
      c(7).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(8).addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      c(9).addAndGet(m.outputMetrics.bytesWritten)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    ph.get("analysis").foreach(p => c(10).addAndGet(p.durationMs))
    ph.get("optimization").foreach(p => c(11).addAndGet(p.durationMs))
    ph.get("planning").foreach(p => c(12).addAndGet(p.durationMs))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def taskCpuS: Double = c(4).get / 1e9

  def counts(spark: SparkSession): Counts = {
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    Counts(c(0).get, c(1).get, c(2).get, c(3).get, c(4).get, c(5).get, c(6).get,
      c(7).get, c(8).get, c(9).get, c(10).get, c(11).get, c(12).get,
      Harness.jvmGcMs, byFile.asScala.map { case (k, v) => k -> v.get }.toMap)
  }
}

/** Highest heap in use after a full collection, sampled between
  * operations of traced runs: the memory the program keeps live across
  * operations (memos, caches, leaks). It still moved between two
  * levels on identical runs, which is why it is not an end-to-end
  * metric (README). */
final class HeapWatch {
  private var peak = 0L
  def sample(spark: SparkSession): Unit = {
    // Spark's status listeners see every event first, and the second
    // collection also frees what the ContextCleaner released in
    // reaction to the first (weakly referenced shuffles, broadcasts)
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    System.gc()
    Thread.sleep(20)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / 1048576.0
}

/** Spans recorded around the benchmark's own calls into graft's
  * layers (traced runs only), kept in memory and written at exit. */
final case class Span(name: String, start: Long, end: Long, parent: Int, run: String)

final class Trace(enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(-1)
  def apply[T](name: String, run: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val idx = spans.size
      spans += Span(name, t0, 0L, stack.head, run)
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(end = System.nanoTime())
      }
    }
  def write(path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Json(spans.zipWithIndex.map {
      case (s, i) => Map("id" -> i, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "parent" -> s.parent, "run" -> s.run)
    }))
}

/** One measured operation of the timed region. */
final case class Op(kind: String, seconds: Double, ok: Boolean, detail: Map[String, Any] = Map.empty) {
  def json: Map[String, Any] = Map("kind" -> kind, "s" -> seconds, "ok" -> ok) ++ detail
}

final class Harness(val args: Args) {
  val trace = new Trace(args.trace)
  val heap = new HeapWatch
  val probe = new Probe(args.trace)
  val extraConf: Seq[(String, String)] = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
    .flatMap(_.split(";")).flatMap { kv =>
      val i = kv.indexOf('=')
      if (i > 0) Some(kv.take(i).trim -> kv.drop(i + 1).trim) else None
    }

  /** A session configured like graft's own mains (Bench.scala), with
    * every scratch path inside the benchmark's work directory. */
  def session(): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[${args.cores}]")
      .appName(s"graft-perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (1 << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
    if (args.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(probe)
    if (args.trace) spark.listenerManager.register(probe)
    spark
  }

  private val setupCpu, setupAppCpu = Seq.newBuilder[Double]

  /** Set-up, made `Harness.Setups` times: each builds a fresh session and
    * runs `warm(session, index)` on it; every session but the last is
    * stopped, outside the timing. The first set-up is cold (class
    * loading, JIT); each one's wall, process CPU and application CPU
    * time is recorded, and the run reports their medians. */
  def setUp(warm: (SparkSession, Int) => Unit): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (0 until Harness.Setups).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val cpu0 = Harness.cpuS
      val app0 = Harness.threadCpuS + probe.taskCpuS
      val s = Harness.timed { spark = session(); warm(spark, i) }._2
      setupCpu += Harness.cpuS - cpu0
      setupAppCpu += appCpuS(spark) - app0
      s
    }
    (spark, times)
  }

  def counts(spark: SparkSession): Counts = probe.counts(spark)

  /** CPU time the workload itself spends: this (driver) thread plus the
    * executor threads' task CPU; JIT, GC and other JVM threads are left
    * out. */
  def appCpuS(spark: SparkSession): Double = Harness.threadCpuS + counts(spark).cpuNs / 1e9

  def environment(spark: SparkSession): Map[String, Any] = {
    val rt = Runtime.getRuntime
    Map(
      "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "spark_context_conf" -> spark.sparkContext.getConf.getAll.toSeq.sortBy(_._1).toMap,
      "extra_conf_overlay" -> (if (extraConf.isEmpty) null else extraConf.toMap),
      "cores" -> args.cores,
      "available_processors" -> rt.availableProcessors(),
      "max_heap_mb" -> rt.maxMemory() / 1048576.0,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString)
  }

  /** Writes the run's result; `region`, `regionCpuS` and
    * `regionAppCpuS` are the counters, the process CPU time and the
    * application CPU time of the whole timed region. */
  def result(setups: Seq[Double], roundWall: Seq[Double], ops: Seq[Op], region: Counts,
             regionCpuS: Double, regionAppCpuS: Double, perLayer: Map[String, Double],
             env: Map[String, Any], extra: Map[String, Any]): Unit = {
    val m = Map(
      "workload" -> args.workload, "trace" -> args.trace,
      "setup_runs_s" -> setups,
      "setup_cpu_s" -> setupCpu.result(), "setup_app_cpu_s" -> setupAppCpu.result(),
      "round_wall_s" -> roundWall, "region_cpu_s" -> regionCpuS,
      "region_app_cpu_s" -> regionAppCpuS,
      "region_jobs" -> region.jobs, "region_input_mb" -> region.inputBytes / 1048576.0,
      "peak_heap_mb" -> heap.peakMb, "ops" -> ops.map(_.json),
      "per_layer" -> perLayer, "env" -> env) ++ extra
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out), Json(m))
    if (args.trace) trace.write(args.out.stripSuffix(".json") + ".trace.json")
  }
}

object Harness {
  /** Set-ups per run, one cold and one warm: a third would not fit the
    * run budget (README, Budget). */
  val Setups = 2

  def now(): Double = System.nanoTime() / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** CPU time of the whole process: driver, executor threads, JIT, GC. */
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def threadCpuS: Double = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e9

  def jvmGcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Recursive size of a directory tree (0 when absent). */
  def treeBytes(dir: String): Long = listTree(dir).values.map(_._1).sum

  /** path → (size, mtime) of every regular file under `dir`. */
  def listTree(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { p =>
        p.toString -> (java.nio.file.Files.size(p), java.nio.file.Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }

  /** Per-round per-layer values common to every workload, from the
    * probe's counters over the timed region. */
  def sparkLayers(c: Counts, rounds: Int, cores: Int, wallS: Double): Map[String, Double] = {
    val r = rounds.max(1).toDouble
    Map(
      "spark.plan.analysis_s" -> c.analysisMs / 1e3 / r,
      "spark.plan.optimize_s" -> c.optimizeMs / 1e3 / r,
      "spark.plan.physical_s" -> c.planningMs / 1e3 / r,
      "spark.sched.jobs" -> c.jobs / r,
      "spark.sched.stages" -> c.stages / r,
      "spark.sched.tasks" -> c.tasks / r,
      "spark.sched.idle_core_s" -> (cores * wallS - c.runMs / 1e3) / r,
      "spark.exec.run_s" -> c.runMs / 1e3 / r,
      "spark.exec.cpu_s" -> c.cpuNs / 1e9 / r,
      "spark.exec.gc_s" -> c.taskGcMs / 1e3 / r,
      "spark.io.input_mb" -> c.inputBytes / 1048576.0 / r,
      "spark.io.shuffle_mb" -> c.shuffleBytes / 1048576.0 / r,
      "spark.io.spill_mb" -> c.spillBytes / 1048576.0 / r,
      "jvm.gc_s" -> c.jvmGcMs / 1e3 / r)
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val h = new Harness(args)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    args.workload match {
      case "motor_ingest" => Motor.run(h)
      case "policy_table" => Policy.run(h)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}
