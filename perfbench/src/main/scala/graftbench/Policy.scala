package graftbench

import graft.operators.Snapshot
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** policy_table: a keyed snapshot table of policies under daily
  * merge commits, read back after every commit. A round creates the
  * table afresh from the initial load and applies every delivery.
  * Each merge and each read is one operation; the five point lookups
  * of one commit count as one read. `compact` + `vacuum` run after
  * every odd-numbered commit. Time-travel reads and change sets return
  * order-free fingerprints (row count and the sum of CRC-32s of each
  * row's text rendering), the latest read an aggregate by region, the
  * lookups their rows; the checks recompute all of them from an
  * independent model of the deliveries. */
object Policy {
  val Key = "policy_id"
  val Cols = Seq("policy_id", "region", "start_month", "start_date", "premium_cents", "status", "version")
  val RetainLast = 3

  def fingerprint(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(crc32(concat_ws("|", Cols.map(c => col(c).cast("string")): _*).cast("binary"))),
        lit(0L))).head()
    Seq(r.getLong(0), r.getLong(1))
  }

  def rowsOf(rs: Array[Row]): Seq[Seq[String]] =
    rs.toSeq.map(r => Cols.map(c => String.valueOf(r.get(r.fieldIndex(c)))))

  def run(h: Harness): Unit = {
    val a = h.args
    val commits = a.opts("commits").toInt
    val probes: Seq[Seq[String]] = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"${a.data}/main/probes.json")), "UTF-8")
      "\"([^\"]*)\"".r.findAllMatchIn(txt).map(_.group(1)).toSeq.grouped(5).toSeq
    }

    /** One round over the deliveries in `src`; returns the round's
      * per-layer tallies. `log` receives each measured operation. */
    def round(spark: SparkSession, src: String, table: String, n: Int,
              log: Op => Unit, tag: String): Map[String, Double] = {
      Harness.deleteTree(table)
      var seen = Map.empty[String, (Long, Long)]
      var userBytes, dataBytes, metaBytes = 0L
      /** Bytes written under the table since the last call, split into
        * data files and everything else (manifests, logs, checksums). */
      def written(): (Long, Long) = {
        val now = Harness.listTree(table)
        val fresh = now.filter { case (p, v) => !seen.get(p).contains(v) }
        seen = now
        val (d, m) = fresh.partition { case (p, _) => p.contains(".parquet") }
        (d.values.map(_._1).sum, m.values.map(_._1).sum)
      }
      h.trace("Snapshot.create", tag)(Snapshot.create(spark, table,
        spark.read.parquet(s"$src/init.parquet"), Key, "start_month", Seq("premium_cents")))
      val (createData, createMeta) = written()
      var commitJobs, rewritten, readFiles = 0L
      var planS, maintainS = 0.0
      var nReads, fsOps = 0L
      def plan(name: String, body: => DataFrame): DataFrame = {
        val ops0 = CountingFs.ops.get
        val (df, s) = Harness.timed(h.trace(name, tag)(body))
        planS += s; nReads += 1
        fsOps += CountingFs.ops.get - ops0
        if (a.trace) readFiles += df.inputFiles.length
        df
      }
      def op(kind: String, detail: Map[String, Any])(body: => Map[String, Any]): Unit = {
        val (res, s) = Harness.timed {
          try Some(body)
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[policy] $tag $kind failed: $e"); None }
        }
        log(Op(kind, s, res.isDefined, detail ++ res.getOrElse(Map.empty)))
      }
      (1 to n).foreach { c =>
        val ups = spark.read.parquet(f"$src/c$c%03d_ups.parquet")
        val dels = spark.read.parquet(f"$src/c$c%03d_del.parquet")
        userBytes += new java.io.File(f"$src/c$c%03d_ups.parquet").length
        val c0 = h.counts(spark)
        var version = 0
        op("commit", Map("round" -> tag, "commit" -> c)) {
          version = h.trace("Snapshot.merge", tag)(Snapshot.merge(spark, table, ups, dels)).version
          Map("version" -> version)
        }
        commitJobs += (h.counts(spark) - c0).jobs
        val (d, m) = written()
        dataBytes += d; metaBytes += m
        if (version > 1) {
          val parent = Snapshot.readManifest(table, version - 1).files.map(_.path).toSet
          rewritten += (parent -- Snapshot.readManifest(table, version).files.map(_.path)).size
        }
        val cur = Snapshot.currentVersion(table)
        op("read_latest", Map("round" -> tag, "commit" -> c, "version" -> cur)) {
          val df = plan("Snapshot.readLatest", Snapshot.readLatest(spark, table))
          Map("by_region" -> df.groupBy("region")
            .agg(count(lit(1)), sum("premium_cents")).collect().toSeq
            .map(r => Seq(r.getString(0), r.getLong(1).toString, r.getLong(2).toString)))
        }
        val past = cur - 1
        if (past >= 1) op("read_at", Map("round" -> tag, "commit" -> c, "version" -> past)) {
          Map("fingerprint" -> fingerprint(plan("Snapshot.readAt", Snapshot.readAt(spark, table, past))))
        }
        op("read_points", Map("round" -> tag, "commit" -> c, "version" -> cur, "keys" -> probes(c - 1))) {
          Map("rows" -> probes(c - 1).map(key => rowsOf(plan("Snapshot.readWhereEq",
            Snapshot.readWhereEq(spark, table, Key, key)).collect())))
        }
        op("change_set", Map("round" -> tag, "commit" -> c, "version" -> cur)) {
          val (rem, add) = h.trace("Snapshot.changeSet", tag)(Snapshot.changeSet(spark, table, cur))
          Map("removed" -> fingerprint(rem), "added" -> fingerprint(add))
        }
        if (c % 2 == 1) {
          maintainS += Harness.timed(h.trace("Snapshot.compact+vacuum", tag) {
            Snapshot.compact(spark, table)
            Snapshot.vacuum(spark, table, retainLast = RetainLast)
          })._2
          val (d, m) = written()
          dataBytes += d; metaBytes += m
        }
      }
      val nc = n.max(1).toDouble
      Map(
        "snapshot.commit_jobs" -> commitJobs / nc,
        "snapshot.commit_data_mb" -> dataBytes / 1048576.0 / nc,
        "snapshot.commit_meta_kb" -> metaBytes / 1024.0 / nc,
        "snapshot.files_rewritten" -> rewritten / nc,
        "snapshot.read_plan_s" -> planS / nReads.max(1),
        "snapshot.read_plan_fs_ops" -> fsOps.toDouble / nReads.max(1),
        "snapshot.read_files" -> readFiles.toDouble / nReads.max(1),
        "snapshot.maintain_s" -> maintainS,
        "policy.write_amp" -> (dataBytes + metaBytes).toDouble / userBytes.max(1),
        "written_mb" -> (createData + createMeta + dataBytes + metaBytes) / 1048576.0,
        "policy.stored_mb" -> Harness.treeBytes(table) / 1048576.0)
    }

    // set-up: session + a full round over the small warm-up deliveries
    val (spark, setups) = h.setUp { (s, i) =>
      round(s, s"${a.data}/warm", s"${a.work}/warm-table", 1, _ => (), s"warm-$i")
    }
    val env = h.environment(spark)

    val ops = Seq.newBuilder[Op]
    val walls = Seq.newBuilder[Double]
    val layers = Seq.newBuilder[Map[String, Double]]
    val c0 = h.counts(spark)
    val cpu0 = Harness.cpuS
    val app0 = h.appCpuS(spark)
    val t0 = Harness.now()
    var r = 0
    while (r == 0 || Harness.now() - t0 < a.seconds) {
      val tag = s"round-$r"
      val (l, wall) = Harness.timed(h.trace("round", tag)(
        round(spark, s"${a.data}/main", s"${a.work}/table", commits,
          o => { ops += o; if (a.trace) h.heap.sample(spark) }, tag)))
      layers += l
      walls += wall
      r += 1
    }
    val regionWall = Harness.now() - t0
    val c1 = h.counts(spark)
    val regionCpu = Harness.cpuS - cpu0
    val regionAppCpu = h.appCpuS(spark) - app0
    val opList = ops.result()
    val last = layers.result().last
    def p50(kind: String => Boolean) = Harness.median(opList.filter(o => kind(o.kind)).map(_.seconds))
    val perLayer =
      if (!a.trace) Map.empty[String, Double]
      else (last - "written_mb") ++ Map(
        "policy.commit_p50_s" -> p50(_ == "commit"),
        "policy.read_p50_s" -> p50(_ != "commit"),
        "sinks.output_mb" -> (c1 - c0).outputBytes / 1048576.0 / r
      ) ++ Harness.sparkLayers(c1 - c0, r, a.cores, regionWall)
    h.result(setups, walls.result(), opList, c1 - c0, regionCpu, regionAppCpu, perLayer, env,
      Map("write_amp" -> last("policy.write_amp"), "written_mb" -> last("written_mb"),
        "stored_mb" -> last("policy.stored_mb")))
    spark.stop()
  }
}
