package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, run a workload for a time budget, check its
  * outputs, and print the outcome as `PERFBENCH_*` lines for `run.py`.
  *
  *   perfbench.Main --workload etl|query_breadth|query_heavy --seed N
  *     --seconds S --trace 0|1 --work DIR --scratch DIR --cores N
  *
  * `--freeze` (query workloads) prints `name<TAB>hash` for every query of
  * the frozen sets instead of checking, to regenerate
  * `expected_hashes.tsv`. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, scratch: Path, cores: Int,
                        freeze: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", Paths.get(get("--work")), Paths.get(get("--scratch")),
      get("--cores").toInt,
      args.contains("--freeze"))
  }

  /** The three setups of a run: the first from JVM start, two more by
    * stopping the session and building it again in the same JVM. */
  val SetupRounds = 3
  /** Quiesce of the inter-query hygiene step. */
  val QuiesceMs = 250L
  /** The etl warmup corpus, run once untimed before the measured loop. */
  val EtlWarmup = EtlCorpus.Size(patients = 500, docs = 6, rounds = 1)

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    require(Set("etl", "query_breadth", "query_heavy")(o.workload),
      s"unknown workload ${o.workload}")
    val isQuery = o.workload != "etl"
    val dataDir = o.work.resolve("data").resolve("sf0.1")
    val scratch = o.scratch
    val tracer = new Tracer(o.trace)

    def build(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[${o.cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", o.cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.local.dir", scratch.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", scratch.resolve("spark-warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      tracer.attach(s)
      s
    }

    // ---- setup: median of SetupRounds, generator time excluded ----------
    val setupS = mutable.ArrayBuffer.empty[Double]
    val setupParts = mutable.ArrayBuffer.empty[String]
    var spark: SparkSession = null
    for (k <- 0 until SetupRounds) {
      val t0 = if (k == 0) jvmStartMs else System.currentTimeMillis()
      spark = build()
      val t1 = System.currentTimeMillis()
      val genS = if (k == 0 && isQuery) QueryData.ensure(spark, dataDir) else 0.0
      spark.range(1000000).selectExpr("sum(id)").collect()
      val t2 = System.currentTimeMillis()
      if (isQuery) QueryData.tableNames.foreach(t =>
        spark.read.parquet(dataDir.resolve(s"$t.parquet").toString).limit(1).collect())
      val t3 = System.currentTimeMillis()
      val elapsed = (t3 - t0) / 1e3 - genS
      setupS += (if (k == 0) elapsed else (mainMs - jvmStartMs) / 1e3 + elapsed)
      setupParts += f"session ${(t1 - t0) / 1e3}%.2f + job ${(t2 - t1) / 1e3 - genS}%.2f + scans ${(t3 - t2) / 1e3}%.2f"
      if (k < SetupRounds - 1) { tracer.detach(); spark.stop() }
    }

    val setupDoneMs = System.currentTimeMillis()
    var warmS = 0.0
    var inputS = 0.0
    var loopS = 0.0
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val report = mutable.ArrayBuffer.empty[String]
    def metric(name: String, value: Double, unit: String, note: String = ""): Unit =
      report += f"$name%-24s ${Json.num(value)} $unit${if (note.isEmpty) "" else s"  ($note)"}"
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    e2e("setup_s") = Stats.median(setupS.toSeq)
    metric("setup_s", e2e("setup_s"), "s", s"median of ${setupS.size}: " +
      setupS.zip(setupParts).map { case (x, p) => f"$x%.3f ($p)" }.mkString(", "))

    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    var units = 1
    var wallS = 0.0
    var etlCounters = Map.empty[String, Double]
    var etl: EtlResults = null

    if (isQuery) {
      val set = if (o.workload == "query_breadth") QueryWorkload.BreadthRun
                else QueryWorkload.HeavyRun
      val frozen = if (o.freeze) QueryWorkload.BreadthFrozen ++ QueryWorkload.HeavyFrozen else set
      val w = new QueryWorkload(spark, tracer, dataDir.toString, frozen, o.seed, QuiesceMs)
      var t = System.nanoTime()
      w.warmup()
      warmS = since(t)
      tracer.startMeasuring()
      t = System.nanoTime()
      val passes = w.run(if (o.freeze) 0 else o.seconds)
      loopS = since(t)
      if (o.freeze) passes.head.sortBy(_.name).foreach { r =>
        println(s"PERFBENCH_HASH\t${r.name}\t${r.hash}\t${r.error.getOrElse("")}")
      }
      val tl = QueryWorkload.tally(passes, QueryWorkload.expectedHashes)
      attempted = tl.attempted
      failed = tl.failed
      errors ++= tl.errors
      val totals = tl.passTotals
      val perQuery = passes.flatten.map(_.wallS)
      units = passes.size
      wallS = totals.sum
      val totalName = if (o.workload == "query_breadth") "breadth_total_s" else "heavy_total_s"
      e2e("total_s") = Stats.median(totals)
      e2e("op_p50_ms") = Stats.median(perQuery) * 1e3
      metric(totalName, e2e("total_s"), "s", s"median of ${totals.size} passes of ${set.size} queries")
      metric("query_p50_s", Stats.median(perQuery), "s", s"n=${perQuery.size}")
      passes.flatten.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
        report += f"  $n%-28s ${Stats.median(rs.map(_.wallS))}%.3f s"
      }
    } else {
      var t = System.nanoTime()
      val warm = new EtlWorkload(spark, tracer, scratch.resolve("etl-warmup"), o.seed, EtlWarmup)
      warm.run(0)
      warmS = since(t)
      t = System.nanoTime()
      val w = new EtlWorkload(spark, tracer, scratch.resolve("etl"), o.seed, EtlCorpus.Full)
      inputS = since(t)
      tracer.startMeasuring()
      t = System.nanoTime()
      etl = w.run(o.seconds)
      loopS = since(t)
      etlCounters = w.extractCounters
      attempted = etl.attempted
      failed = etl.failed
      errors ++= etl.errors
      units = math.max(1, etl.repTotalS.size)
      wallS = etl.repTotalS.sum
      if (etl.repTotalS.nonEmpty) {
        e2e("total_s") = Stats.median(etl.repTotalS.toSeq)
        e2e("op_p50_ms") = Stats.median(etl.commitS.toSeq) * 1e3
        val reps = etl.repTotalS.size
        metric("load_s", Stats.median(etl.loadS.toSeq), "s", s"median of $reps")
        val up = Stats.median(etl.upsertS.toSeq)
        metric("patient_upsert_s", up, "s",
          f"median of $reps; ${etl.upsertRows.toDouble / reps / up}%.0f rows/s vs the reference's 5.2k rows/s")
        metric("poll_commit_p50_s", Stats.median(etl.commitS.toSeq), "s", s"n=${etl.commitS.size}")
        Stats.tail(etl.commitS.toSeq).filter(_._1 >= 50) match {
          case Some((p, v)) => metric("poll_commit_tail_s", v, "s", s"p$p, n=${etl.commitS.size}")
          case None => report += s"poll_commit_tail_s       n/a  (n=${etl.commitS.size}: " +
            "no percentile from p50 up has 10 samples beyond it)"
        }
        metric("idle_poll_p50_s", Stats.median(etl.idleS.toSeq), "s", s"n=${etl.idleS.size}")
        metric("etl_total_s", e2e("total_s"), "s", s"median of $reps repetitions")
      }
    }
    metric("failed_frac", if (attempted == 0) 1.0 else failed.toDouble / attempted, "",
      s"$failed of $attempted")
    e2e("peak_rss_mb") = peakRssMb()
    metric("peak_rss_mb", e2e("peak_rss_mb"), "MB", "VmHWM")

    if (tracer.on) {
      tracer.drain()
      tracer.measuring = false
      def t(n: String) = tracer.total(n)
      def per(v: Double) = v / units
      val busy = t("spark.task_busy_s")
      Seq(
        "sources.xlsx_read_s" -> per(tracer.spanSeconds("XlsxSource.read")),
        "sources.xlsx_rows" -> per(t("sources.xlsx_rows")),
        "sources.pdf_extract_s" -> per(etlCounters.getOrElse("sources.pdf_extract_s", 0.0)),
        "sources.pdf_calls" -> per(etlCounters.getOrElse("sources.pdf_calls", 0.0)),
        "sources.docx_extract_s" -> per(etlCounters.getOrElse("sources.docx_extract_s", 0.0)),
        "sources.docx_calls" -> per(etlCounters.getOrElse("sources.docx_calls", 0.0)),
        "sources.extract_bytes_in" -> per(etlCounters.getOrElse("sources.extract_bytes_in", 0.0)),
        "sources.extract_empty_frac" -> etlCounters.getOrElse("sources.extract_empty_frac", 0.0),
        "engine.patients_dedup_s" -> per(tracer.spanSeconds("Patients.dedupAndNumber")),
        "engine.patients_dup_drop_frac" ->
          (if (etl == null || etl.stagedRows == 0) 0.0 else etl.dupDropped.toDouble / etl.stagedRows),
        "engine.watcher_snapshot_s" -> per(tracer.spanSeconds("Watcher.snapshot")),
        "engine.watcher_diff_s" -> per(tracer.spanSeconds("Watcher.diff")),
        "engine.watcher_files_listed" -> per(t("engine.watcher_files_listed")),
        "engine.documents_resolved_frac" ->
          (if (etl == null || etl.candidateDocs == 0) 0.0 else etl.resolvedRows.toDouble / etl.candidateDocs),
        "engine.txlog_merge_s" -> per(tracer.spanSeconds("TxLog.merge") + tracer.spanSeconds("TxLog.mergeEpoch")),
        "engine.txlog_versions" -> per(t("engine.txlog_versions")),
        "engine.txlog_files_written" -> per(t("engine.txlog_files_written")),
        "engine.txlog_bytes_written" -> per(t("engine.txlog_bytes_written")),
        "engine.txlog_write_amp" ->
          (if (t("engine.txlog_batch_rows") == 0) 0.0 else t("engine.txlog_rows_written") / t("engine.txlog_batch_rows")),
        "query.construct_s" -> per(tracer.spanSeconds("construct")),
        "query.construct_jobs" -> per(tracer.counterOver("spark.jobs", "construct")),
        "query.execute_s" -> per(tracer.spanSeconds("execute")),
        "catalyst.analysis_s" -> per(t("catalyst.analysis_s")),
        "catalyst.optimization_s" -> per(t("catalyst.optimization_s")),
        "catalyst.planning_s" -> per(t("catalyst.planning_s")),
        "catalyst.actions" -> per(t("catalyst.actions")),
        "spark.jobs" -> per(t("spark.jobs")),
        "spark.stages" -> per(t("spark.stages")),
        "spark.tasks" -> per(t("spark.tasks")),
        "spark.task_overhead_s" -> per(t("spark.task_overhead_s")),
        "spark.idle_core_frac" -> (if (wallS <= 0) 0.0 else 1 - busy / (wallS * o.cores)),
        "spark.task_busy_s" -> per(busy),
        "spark.task_cpu_s" -> per(t("spark.task_cpu_s")),
        "spark.task_gc_s" -> per(t("spark.task_gc_s")),
        "spark.shuffle_write_bytes" -> per(t("spark.shuffle_write_bytes")),
        "spark.shuffle_read_bytes" -> per(t("spark.shuffle_read_bytes")),
        "spark.shuffle_fetch_wait_s" -> per(t("spark.shuffle_fetch_wait_s")),
        "spark.spill_bytes" -> per(t("spark.spill_bytes")),
        "spark.peak_exec_mem_bytes" -> t("spark.peak_exec_mem_bytes")
      ).foreach { case (k, v) => layer(k) = v }
      report += s"per-layer metrics, per ${if (isQuery) "pass" else "repetition"} (n=$units):"
      layer.foreach { case (k, v) => report += f"  $k%-32s ${Json.num(v)}" }
      Seq("sources", "engine", "query", "etl", "spark").foreach { l =>
        report += f"  self time in $l%-8s spans   ${tracer.selfTimeOfLayer(l) / units}%.4f s"
      }
      if (!isQuery) {
        val polls = tracer.allSpans.filter(_.name == "poll")
        if (polls.nonEmpty) report += f"  poll span p50 ${Stats.median(polls.map(_.durNs / 1e9))}%.4f s " +
          f"= sum of self times in its subtree (p50 ${Stats.median(polls.map(p => tracer.subtreeSelfNs(p.id) / 1e9))}%.4f s)"
      }
      val traces = o.work.resolve("traces")
      Files.createDirectories(traces)
      val file = traces.resolve(s"${o.workload}-seed${o.seed}.jsonl")
      Files.write(file, tracer.spansJson.mkString("", "\n", "\n").getBytes("UTF-8"))
      report += s"spans written to $file"
    }

    report += f"wall: setup ${(setupDoneMs - jvmStartMs) / 1e3}%.1f s, warmup $warmS%.1f s, " +
      f"inputs $inputS%.1f s, measured loop $loopS%.1f s" +
      (if (etl != null) f" (checks ${etl.checkS}%.1f s)" else "") +
      f", total ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s"
    report.foreach(l => println(s"[perfbench] $l"))
    errors.take(10).foreach(e => println(s"[perfbench] FAILED $e"))
    println("PERFBENCH_E2E " + Json.obj(e2e.toSeq.map { case (k, v) => k -> Json.num(v) }))
    if (tracer.on)
      println("PERFBENCH_LAYER " + Json.obj(layer.toSeq.map { case (k, v) => k -> Json.num(v) }))
    println("PERFBENCH_OUTCOME " + Json.obj(Seq(
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "correct" -> (failed == 0 && attempted > 0 && e2e.contains("total_s")).toString)))
    tracer.detach()
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
