package graftbench

import java.time.{Duration, Instant, LocalDate, ZoneOffset}

import graft.meta.{ComputeStatsSpec, DataflowSpec, MetaLoader, NormalizeSpec, Schedule, ValidateSpec}
import graft.operators.{Normalize, StatsOp, Validate}
import graft.sinks.Writers
import graft.sources.Readers
import org.apache.spark.sql.{DataFrame, SparkSession}

/** motor_ingest: the paper's metadata-driven pipeline. One operation
  * is one scheduled daily run — a `ScheduleRunner.runDue` call whose
  * `now` advances one interval past the previous call, so exactly one
  * logical run is due. A round is `days` such calls on a fresh state
  * file; every round writes its sinks under its own directory so the
  * checks can read each round's outputs. */
object Motor {
  private val Day = Duration.ofDays(1)

  def run(h: Harness): Unit = {
    val a = h.args
    val days = a.opts("days").toInt
    val anchor = LocalDate.parse(a.opts("anchor")).atStartOfDay(ZoneOffset.UTC).toInstant
    val template = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(a.opts("meta"))), "UTF-8")

    /** The metadata of one scheduled run: outputs under `work/<tag>`,
      * anchor moved to `first`, the stats report dated `d` days after
      * it. Written as a file because the runner loads its spec from a
      * path. */
    def metaFor(tag: String, first: Instant, d: Int): String = {
      val date = first.plus(Day.multipliedBy(d)).toString.take(10)
      val p = s"${a.work}/$tag/metadata-$date.json"
      new java.io.File(p).getParentFile.mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        template.replace("__OUT__", s"${a.work}/$tag").replace("__RUN_DATE__", date)
          .replace(a.opts("anchor") + "T00:00:00Z", first.toString))
      p
    }
    def runDay(spark: SparkSession, tag: String, first: Instant, d: Int): Boolean = {
      val meta = metaFor(tag, first, d)
      val logical = first.plus(Day.multipliedBy(d))
      val done = graft.ScheduleRunner.runDue(spark, meta, s"${a.work}/$tag/state", None,
        logical.plus(Day).plusSeconds(3600))
      done == Seq(logical)
    }

    // set-up: session + spec load + one scheduled run of the warm-up
    // batch (the day before the anchor), each time on a fresh state
    val (spark, setups) = h.setUp { (s, i) =>
      require(runDay(s, s"warm-$i", anchor.minus(Day), 0), "warm-up run did not execute")
    }
    val env = h.environment(spark)

    // bytes of the sources one round's runs read (JSON batches + CSV)
    val userBytes = {
      val flow = MetaLoader.loadFile(metaFor("sizes", anchor, 0)).dataflows.head
      (0 until days).map(d => Schedule.bind(flow, anchor.plus(Day.multipliedBy(d)), "daily")
        .sources.map(s => Harness.treeBytes(s.path)).sum).sum
    }
    val ops = Seq.newBuilder[Op]
    val walls = Seq.newBuilder[Double]
    val written = Seq.newBuilder[Long]
    val c0 = h.counts(spark)
    val cpu0 = Harness.cpuS
    val app0 = h.appCpuS(spark)
    val t0 = Harness.now()
    var r = 0
    while (r == 0 || Harness.now() - t0 < a.seconds) {
      val tag = s"round-$r"
      val (_, wall) = Harness.timed(h.trace("round", tag) {
        (0 until days).foreach { d =>
          val date = anchor.plus(Day.multipliedBy(d)).toString.take(10)
          val (ok, s) = Harness.timed(h.trace("ScheduleRunner.runDue", tag) {
            try runDay(spark, tag, anchor, d)
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[motor] $tag $date failed: $e"); false }
          })
          ops += Op("scheduled_run", s, ok, Map("round" -> tag, "date" -> date))
          if (a.trace) h.heap.sample(spark)
        }
      })
      walls += wall
      written += Seq("ok", "ko", "stats").map(d => Harness.treeBytes(s"${a.work}/$tag/$d")).sum
      r += 1
    }
    val regionWall = Harness.now() - t0
    val c1 = h.counts(spark)
    val regionCpu = Harness.cpuS - cpu0
    val regionAppCpu = h.appCpuS(spark) - app0
    val opList = ops.result()

    val layers =
      if (!a.trace) Map.empty[String, Double]
      else layerProbes(h, spark, a, anchor, metaFor("probe", anchor, 0), c1 - c0, r,
        opList.size, regionWall, days)
    val w = written.result().last
    h.result(setups, walls.result(), opList, c1 - c0, regionCpu, regionAppCpu, layers, env,
      Map("written_mb" -> w / 1048576.0, "write_amp" -> w.toDouble / userBytes))
    spark.stop()
  }

  /** Per-layer numbers of a traced run: counters over the timed region,
    * then each layer's public entry point called and timed on its own
    * over the first day's batch. */
  private def layerProbes(h: Harness, spark: SparkSession, a: Args, anchor: Instant,
                          meta: String, region: Counts, rounds: Int, nOps: Int,
                          regionWall: Double, days: Int): Map[String, Double] = {
    val perOp = nOps.max(1).toDouble
    val run = "probe"
    def countsOf[T](body: => T): (T, Counts, Double) = {
      val c0 = h.counts(spark)
      val (r, s) = Harness.timed(body)
      (r, h.counts(spark) - c0, s)
    }
    val loads = (1 to 5).map(_ => Harness.timed(h.trace("MetaLoader.loadFile", run)(MetaLoader.loadFile(meta)))._2)
    val pipeline = MetaLoader.loadFile(meta)
    val flow = Schedule.bind(pipeline.dataflows.head, anchor, "daily")

    val (frames0, readC, readS) = countsOf(h.trace("Readers.read", run) {
      flow.sources.map(s => s.name -> Readers.read(spark, s)).toMap
    })
    // bytes the timed region read ÷ bytes of the sources its runs named
    val srcBytes = (0 until days).map { d =>
      val fl = Schedule.bind(pipeline.dataflows.head, anchor.plus(Day.multipliedBy(d)), "daily")
      fl.sources.map(s => Harness.treeBytes(s.path)).sum
    }.sum * rounds
    val (_, planC, planS) = countsOf(h.trace("Dataflow.plan", run)(graft.Dataflow.plan(spark, flow)))

    // operators over cached, already-parsed inputs
    val cached: Map[String, DataFrame] = frames0.map { case (k, df) =>
      val c = df.cache(); c.count(); k -> c }
    val noSources = flow.copy(sources = Nil)
    val norm = flow.transformations.collectFirst { case s: NormalizeSpec => s }.get
    val valid = flow.transformations.collectFirst { case s: ValidateSpec => s }.get
    val stats = flow.transformations.collectFirst { case s: ComputeStatsSpec => s }.get
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val normS = Harness.timed(h.trace("Normalize.normalizeFields", run)(
      noop(Normalize.normalizeFields(cached(norm.input), norm.fields, norm.autoFlattenNaming))))._2
    val planned = graft.Dataflow.plan(spark, noSources, cached)
    val withMeta = planned(valid.input).cache()
    withMeta.count()
    val (okDf, koDf) = Validate.split(withMeta, valid.rules)
    val validS = Harness.timed(h.trace("Validate.split", run) { noop(okDf); noop(koDf) })._2
    val statsS = Harness.timed(h.trace("StatsOp", run) {
      StatsOp.fieldStats(withMeta, stats.fields.getOrElse(Nil)).collect()
      StatsOp.validationStatsFromSplit(okDf, koDf).collect()
      StatsOp.topErrors(koDf).collect()
    })._2
    val fr = graft.Dataflow.plan(spark, flow)
    val (_, statsC, _) = countsOf(h.trace("StatsOp.writeStatsJson", run) {
      StatsOp.writeStatsJson(stats.name, s"${a.work}/probe/stats", fr(s"${stats.name}_fields"),
        fr.get(s"${stats.name}_validation"), fr.get(s"${stats.name}_top_errors"))
    })
    val okC = okDf.cache(); okC.count()
    val koC = koDf.cache(); koC.count()
    val sinkInputs = Map(valid.okOutput -> okC, valid.koOutput -> koC)
    val writeS = Harness.timed(h.trace("Writers.write", run) {
      flow.sinks.foreach(k => Writers.write(sinkInputs(k.input),
        k.copy(paths = k.paths.map(p => s"${a.work}/probe/sink-${k.name}"))))
    })._2
    Seq(okC, koC, withMeta).foreach(_.unpersist())
    cached.values.foreach(_.unpersist())

    val files = (0 until rounds).map { i =>
      Harness.listTree(s"${a.work}/round-$i").keys.count { p =>
        val n = p.substring(p.lastIndexOf('/') + 1)
        n.startsWith("part-") && !n.endsWith(".crc")
      }
    }.sum
    val byFile = region.jobsByFile
    def jobsIn(f: String) = byFile.getOrElse(f, 0L) / perOp
    Map(
      "meta.load_s" -> Harness.median(loads),
      "sources.read_s" -> readS,
      "sources.infer_jobs" -> readC.jobs.toDouble,
      "sources.scan_passes" -> (if (srcBytes > 0) region.inputBytes.toDouble / srcBytes else 0.0),
      "runner.plan_s" -> planS,
      "runner.plan_jobs" -> planC.jobs.toDouble,
      "runner.jobs" -> region.jobs / perOp,
      "runner.jobs.readers" -> jobsIn("Readers"),
      "runner.jobs.writers" -> jobsIn("Writers"),
      "runner.jobs.statsop" -> jobsIn("StatsOp"),
      "runner.jobs.other" -> (region.jobs - Seq("Readers", "Writers", "StatsOp")
        .map(byFile.getOrElse(_, 0L)).sum) / perOp,
      "operators.normalize_s" -> normS,
      "operators.validate_s" -> validS,
      "operators.stats_s" -> statsS,
      "operators.stats_jobs" -> statsC.jobs.toDouble,
      "sinks.write_s" -> writeS,
      "sinks.output_mb" -> region.outputBytes / 1048576.0 / perOp,
      "sinks.files_written" -> files / perOp
    ) ++ Harness.sparkLayers(region, rounds, a.cores, regionWall)
  }
}
