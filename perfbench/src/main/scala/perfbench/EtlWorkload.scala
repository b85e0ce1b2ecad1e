package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.immutable.SortedMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.engine.{Documents, Merge, Patients, TxLog, Watcher}
import graft.sources.{DocxExtract, PdfExtract, XlsxSource, XlsxWriter}

/** Per-call extraction counters, summed on the executors (traced run). */
final case class ExtractAcc(pdfNs: LongAccumulator, pdfCalls: LongAccumulator,
                            docxNs: LongAccumulator, docxCalls: LongAccumulator,
                            bytesIn: LongAccumulator, empty: LongAccumulator)

object EtlWorkload {
  def plainExtract(bytes: Array[Byte], path: String): String =
    if (path.endsWith(".docx")) DocxExtract.extractText(bytes)
    else if (path.endsWith(".pdf")) PdfExtract.extractText(bytes)
    else ""

  /** The benchmark's extraction UDF body: plain extraction, plus per-call
    * busy time and counts when `acc` is set. */
  def extract(bytes: Array[Byte], path: String, acc: Option[ExtractAcc]): String =
    acc match {
      case None => plainExtract(bytes, path)
      case Some(a) =>
        val t0 = System.nanoTime()
        val text = plainExtract(bytes, path)
        val ns = System.nanoTime() - t0
        if (path.endsWith(".docx")) { a.docxNs.add(ns); a.docxCalls.add(1) }
        else { a.pdfNs.add(ns); a.pdfCalls.add(1) }
        a.bytesIn.add(bytes.length.toLong)
        if (text.isEmpty) a.empty.add(1)
        text
    }

  private def iso(frDate: String): String = {
    val Array(d, m, y) = frDate.split('/')
    s"$y-$m-$d"
  }
  private def long(r: Row, i: Int): Long = r.getAs[Number](i).longValue

  /** First difference between the warehouse patient tables and the
    * expected ones, if any. `pat` rows: PATIENT_NUM, LASTNAME, BIRTH_DATE,
    * RESIDENCE_CITY, DEATH_CODE, UPLOAD_ID; `ipp` rows: PATIENT_NUM,
    * HOSPITAL_PATIENT_ID, MASTER_PATIENT_ID, UPLOAD_ID. */
  def patientMismatch(pat: Seq[Row], ipp: Seq[Row],
                      expected: SortedMap[Long, EtlCorpus.Patient],
                      uploadId: Long): Option[String] = {
    def want(p: EtlCorpus.Patient, num: Long) = (num, p.nom, iso(p.naissance),
      p.ville, if (p.mort == null) "0" else "1", uploadId)
    val got = pat.map(r => (long(r, 0), r.getString(1), r.getString(2),
      r.getString(3), r.getString(4), long(r, 5))).sortBy(_._1)
    val exp = expected.toSeq.map { case (n, p) => want(p, n) }
    val gotIpp = ipp.map(r => (long(r, 0), r.getString(1), r.getString(2),
      long(r, 3))).sortBy(_._1)
    val expIpp = expected.toSeq.map { case (n, p) => (n, p.hpid, "1", uploadId) }
    if (got.size != exp.size) Some(s"DWH_PATIENT has ${got.size} rows, expected ${exp.size}")
    else if (gotIpp.size != expIpp.size)
      Some(s"DWH_PATIENT_IPPHIST has ${gotIpp.size} rows, expected ${expIpp.size}")
    else got.zip(exp).find(p => p._1 != p._2)
      .orElse(gotIpp.zip(expIpp).find(p => p._1 != p._2))
      .map { case (g, e) => s"patient row $g, expected $e" }
  }

  /** First difference between DWH_DOCUMENT rows (DOCUMENT_NUM, PATIENT_NUM,
    * DOCUMENT_DATE, AUTHOR, DOCUMENT_TYPE, UPLOAD_ID) and the model. */
  def documentMismatch(rows: Seq[Row],
                       expected: SortedMap[Long, EtlCorpus.ExpDoc]): Option[String] = {
    val got = SortedMap(rows.map(r => long(r, 0) -> EtlCorpus.ExpDoc(long(r, 1),
      Option(r.getString(2)), Option(r.getString(3)), r.getString(4),
      long(r, 5))): _*)
    if (got.size != expected.size)
      Some(s"DWH_DOCUMENT has ${got.size} rows, expected ${expected.size}")
    else got.toSeq.zip(expected.toSeq).find(p => p._1 != p._2)
      .map { case (g, e) => s"document row $g, expected $e" }
  }
}

/** Timings and outcome of the `etl` workload, pooled over repetitions. */
final class EtlResults {
  val loadS = mutable.ArrayBuffer.empty[Double]
  val upsertS = mutable.ArrayBuffer.empty[Double]
  val commitS = mutable.ArrayBuffer.empty[Double]
  val idleS = mutable.ArrayBuffer.empty[Double]
  val repTotalS = mutable.ArrayBuffer.empty[Double]
  var upsertRows = 0L
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  var resolvedRows = 0L
  var candidateDocs = 0L
  var dupDropped = 0L
  var stagedRows = 0L
  var checkS = 0.0
}

/** The paper's pipeline end to end, repeated in fresh directories: (a)
  * load — XLSX patient export, dedup and numbering, TxLog MERGE of both
  * patient tables, then the first watcher poll over the documents; (b) a
  * patient re-export merged into the warehouse; (c) watch rounds, each one
  * change to the source directory followed by a committing poll and an
  * idle poll. The warehouse is checked against [[EtlCorpus]]'s independent
  * expectation after every step. */
final class EtlWorkload(spark: SparkSession, tracer: Tracer, work: Path,
                        seed: Long, size: EtlCorpus.Size) {
  import EtlCorpus._
  import EtlWorkload._

  // ---- corpus, generated once per run and untimed ----------------------
  private val export1 = patients(seed, size.patients)
  private val export2 = reexport(seed, export1)
  private val kept1 = expectedPatients(export1)
  private val kept2 = expectedPatients(export2)
  private val ipp1 = ippIndex(kept1)
  private val ipp2 = ippIndex(kept2)
  private val docs0 = documents(seed, export1.map(_.hpid).distinct, size.docs)
  private val changes: Seq[Change] = {
    var current = docs0
    (0 until size.rounds).map { r =>
      val c = change(seed, r, current, export2.map(_.hpid).distinct)
      current = applyTo(current, c)
      c
    }
  }
  private val xlsx1 = work.resolve("export_patient.xlsx")
  private val xlsx2 = work.resolve("export_patient_reexport.xlsx")
  Files.createDirectories(work)
  Files.write(xlsx1, XlsxWriter.writeBytes(Header, export1.map(_.cells)))
  Files.write(xlsx2, XlsxWriter.writeBytes(Header, export2.map(_.cells)))

  private def applyTo(docs: Vector[Doc], c: Change): Vector[Doc] = c match {
    case Add(d) => docs :+ d
    case Modify(d) => docs.map(o => if (o.fileName == d.fileName) d else o)
    case Delete(f) => docs.filterNot(_.fileName == f)
  }

  private val acc: Option[ExtractAcc] =
    if (!tracer.on) None
    else {
      val sc = spark.sparkContext
      Some(ExtractAcc(sc.longAccumulator, sc.longAccumulator, sc.longAccumulator,
        sc.longAccumulator, sc.longAccumulator, sc.longAccumulator))
    }
  private val extractUdf = {
    val a = acc
    udf((bytes: Array[Byte], path: String) => EtlWorkload.extract(bytes, path, a))
  }

  val results = new EtlResults

  /** Run one timed operation; a throw counts as a failed operation. */
  private def op[T](body: => T): Option[(Double, T)] = {
    results.attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = body
      Some(((System.nanoTime() - t0) / 1e9, v))
    } catch {
      case e: Throwable =>
        results.failed += 1
        results.errors += s"${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    } finally tracer.drain()
  }

  /** An untimed correctness check after an operation. */
  private def check(what: String)(mismatch: => Option[String]): Boolean = {
    val t0 = System.nanoTime()
    val m = tracer.unmeasured {
      try mismatch
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    m.foreach { e => results.failed += 1; results.errors += s"$what: $e" }
    results.checkS += (System.nanoTime() - t0) / 1e9
    m.isEmpty
  }

  // ---- one repetition -----------------------------------------------------

  /** The open phase span of the running poll (traced run): the snapshot
    * and diff until `process` is called, then `process`, then the TxLog
    * merge until `pollOnce` returns. */
  private var phase = 0

  /** Whole repetitions until the next one would end after `seconds`; at
    * least one. */
  def run(seconds: Double): EtlResults = {
    val start = System.nanoTime()
    var rep = 0
    var last = 0.0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (rep == 0 || elapsed + last <= seconds) {
      val r0 = System.nanoTime()
      runRep(rep)
      last = (System.nanoTime() - r0) / 1e9
      rep += 1
    }
    results
  }

  private def runRep(rep: Int): Unit = {
    val dir = work.resolve(s"rep$rep")
    val src = dir.resolve("documents")
    val wh = dir.resolve("warehouse")
    Files.createDirectories(src)
    docs0.foreach(d => Files.write(src.resolve(d.fileName), d.bytes))
    val patPath = wh.resolve("DWH_PATIENT").toString
    val ippPath = wh.resolve("DWH_PATIENT_IPPHIST").toString
    val docPath = wh.resolve("DWH_DOCUMENT").toString
    var current = docs0
    var model = SortedMap.empty[Long, ExpDoc]
    var repTotal = 0.0

    def patientLoad(xlsx: Path, uploadId: Long, expected: Int): DataFrame = {
      val excel = tracer.span("sources", "XlsxSource.read")(XlsxSource.read(spark, xlsx.toString))
      val staged = excel.withColumn("__src_order", monotonically_increasing_id())
      val deduped = tracer.span("engine", "Patients.dedupAndNumber")(Patients.dedupAndNumber(staged))
      txMerge(patPath, Patients.toDwhPatient(deduped, uploadId), "PATIENT_NUM", uploadId, expected)
      txMerge(ippPath, Patients.toDwhIpphist(deduped, uploadId), "PATIENT_NUM", uploadId, expected)
      excel
    }

    def txMerge(path: String, df: DataFrame, key: String, epoch: Long, batchRows: Long): Unit = {
      val before = if (tracer.on) TxLog.snapshot(spark, path) else null
      tracer.span("engine", "TxLog.merge")(Merge.upsertTransactional(spark, path, df, key, Some(epoch)))
      if (tracer.on) txlogAccount(path, before, batchRows)
    }

    def process(files: DataFrame, uploadId: Long): DataFrame = {
      tracer.end(phase)
      phase = tracer.begin("engine", "process")
      val docs = files.withColumn("text", extractUdf(col("content"), col("path")))
        .select("path", "text")
      val out = Documents.pipeline(docs, TxLog.read(spark, ippPath), uploadId)
      tracer.end(phase)
      phase = tracer.begin("engine", "TxLog.mergeEpoch")
      out
    }

    def poll(loader: Watcher.IncrementalLoader, batchRows: Long): Option[Long] = {
      val before = if (tracer.on && batchRows > 0) TxLog.snapshot(spark, docPath) else null
      val r = tracer.span("engine", "pollOnce") {
        phase = tracer.begin("engine", "Watcher.snapshot+diff")
        try loader.pollOnce() finally tracer.end(phase)
      }
      if (before != null) txlogAccount(docPath, before, batchRows)
      r
    }

    def expectCommit(ipp: Map[String, Long], epoch: Long): Long = {
      val batch = expectedBatch(current, ipp, epoch)
      model = model ++ batch
      results.candidateDocs += current.count(_.text.nonEmpty)
      batch.size.toLong
    }

    def checkDocs(epoch: Long): Boolean = check(s"rep$rep epoch $epoch") {
      val rows = TxLog.read(spark, docPath).select(col("DOCUMENT_NUM"),
        col("PATIENT_NUM"), col("DOCUMENT_DATE").cast("string"), col("AUTHOR"),
        col("DOCUMENT_TYPE"), col("UPLOAD_ID")).collect().toSeq
      results.resolvedRows += rows.count(r => long(r, 5) == epoch)
      documentMismatch(rows, model).orElse(
        TxLog.lastEpoch(spark, docPath).filter(_ != epoch)
          .map(e => s"last committed epoch $e, expected $epoch"))
    }

    def checkPatients(expected: SortedMap[Long, Patient], uploadId: Long): Boolean =
      check(s"rep$rep patients v$uploadId") {
        val pat = TxLog.read(spark, patPath).select(col("PATIENT_NUM"), col("LASTNAME"),
          col("BIRTH_DATE").cast("string"), col("RESIDENCE_CITY"), col("DEATH_CODE"),
          col("UPLOAD_ID")).collect().toSeq
        val ipp = TxLog.read(spark, ippPath).select(col("PATIENT_NUM"),
          col("HOSPITAL_PATIENT_ID"), col("MASTER_PATIENT_ID"), col("UPLOAD_ID"))
          .collect().toSeq
        patientMismatch(pat, ipp, expected, uploadId)
      }

    def countRows(excel: DataFrame, staged: Int, kept: Int): Unit =
      if (tracer.on) tracer.unmeasured {
        tracer.add("sources.xlsx_rows", excel.count().toDouble)
        results.stagedRows += staged
        results.dupDropped += staged - kept
      }

    // (a) load
    val batch1 = expectCommit(ipp1, 1L)
    val load = op {
      tracer.span("etl", "load", traceId = s"rep$rep/load") {
        val excel = patientLoad(xlsx1, 1L, kept1.size)
        val loader = new Watcher.IncrementalLoader(spark, src.toString, docPath,
          Seq("DOCUMENT_NUM"), process, useTxLog = true)
        val first = poll(loader, batch1)
        require(first.contains(1L), s"first poll returned $first, expected Some(1)")
        (excel, loader)
      }
    }
    if (load.isEmpty) return
    val (loadS, (excel1, loader)) = load.get
    results.loadS += loadS
    repTotal += loadS
    countRows(excel1, export1.size, kept1.size)
    if (!checkPatients(kept1, 1L) || !checkDocs(1L)) return

    // (b) patient re-export upsert
    val upsert = op {
      tracer.span("etl", "patient_upsert", traceId = s"rep$rep/upsert") {
        patientLoad(xlsx2, 2L, kept2.size)
      }
    }
    if (upsert.isEmpty) return
    results.upsertS += upsert.get._1
    results.upsertRows += export2.size
    repTotal += upsert.get._1
    countRows(upsert.get._2, export2.size, kept2.size)
    if (!checkPatients(kept2, 2L)) return

    // (c) watch rounds
    var epoch = 1L
    var probePrev = if (tracer.on) Watcher.snapshot(src.toString) else Map.empty[String, Long]
    for (c <- changes) {
      c match {
        case Add(d) => Files.write(src.resolve(d.fileName), d.bytes)
        case Modify(d) =>
          val p = src.resolve(d.fileName)
          val old = Files.getLastModifiedTime(p).toMillis
          Files.write(p, d.bytes)
          Files.setLastModifiedTime(p, FileTime.fromMillis(
            math.max(System.currentTimeMillis(), old + 1000)))
        case Delete(f) => Files.delete(src.resolve(f))
      }
      current = applyTo(current, c)
      epoch += 1
      val rows = expectCommit(ipp2, epoch)
      val commit = op {
        tracer.span("etl", "poll", traceId = s"rep$rep/epoch$epoch") {
          val got = poll(loader, rows)
          require(got.contains(epoch), s"poll returned $got, expected Some($epoch)")
        }
      }
      if (commit.isEmpty) return
      results.commitS += commit.get._1
      repTotal += commit.get._1
      if (!checkDocs(epoch)) return

      val idle = op {
        tracer.span("etl", "idle_poll", traceId = s"rep$rep/idle$epoch") {
          val got = poll(loader, 0L)
          require(got.isEmpty, s"idle poll returned $got")
        }
      }
      if (idle.isEmpty) return
      results.idleS += idle.get._1
      repTotal += idle.get._1
      if (tracer.on) tracer.span("engine", "probe") {
        val snap = tracer.span("engine", "Watcher.snapshot")(Watcher.snapshot(src.toString))
        tracer.span("engine", "Watcher.diff")(Watcher.diff(probePrev, snap))
        tracer.add("engine.watcher_files_listed", snap.size.toDouble)
        probePrev = snap
      }
    }
    results.repTotalS += repTotal
  }

  /** TxLog counters of one commit, read from the table before and after. */
  private def txlogAccount(path: String, before: graft.engine.TxSnapshot,
                           batchRows: Long): Unit = tracer.unmeasured {
    val after = TxLog.snapshot(spark, path)
    val old = before.files.map(_.path).toSet
    val added = after.files.filterNot(f => old(f.path))
    tracer.add("engine.txlog_versions", (after.version - before.version).toDouble)
    tracer.add("engine.txlog_files_written", added.size.toDouble)
    tracer.add("engine.txlog_bytes_written",
      added.map(f => Files.size(java.nio.file.Paths.get(path, f.path))).sum.toDouble)
    tracer.add("engine.txlog_rows_written", added.map(_.rows).sum.toDouble)
    tracer.add("engine.txlog_batch_rows", batchRows.toDouble)
  }

  /** Extraction counters of the traced run. */
  def extractCounters: Map[String, Double] = acc.map { a =>
    val calls = a.pdfCalls.value + a.docxCalls.value
    Map("sources.pdf_extract_s" -> a.pdfNs.value / 1e9,
      "sources.pdf_calls" -> a.pdfCalls.value.toDouble,
      "sources.docx_extract_s" -> a.docxNs.value / 1e9,
      "sources.docx_calls" -> a.docxCalls.value.toDouble,
      "sources.extract_bytes_in" -> a.bytesIn.value.toDouble,
      "sources.extract_empty_frac" ->
        (if (calls == 0) 0.0 else a.empty.value.toDouble / calls))
  }.getOrElse(Map.empty)

}
