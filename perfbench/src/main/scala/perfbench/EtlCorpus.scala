package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.{Deflater, DeflaterOutputStream, ZipEntry, ZipOutputStream}

import scala.collection.immutable.SortedMap

/** The seeded input corpus of the `etl` workload and its expected
  * warehouse, computed independently in plain Scala (no Spark).
  *
  * The patient export has the 12 columns of the reference export. Rows are
  * unique on the five dedup keys except for planted duplicates: exact
  * re-exports of an earlier row and re-registrations (same five keys, new
  * hospital id). Both sit at interior positions, so keep-first dedup leaves
  * gaps in PATIENT_NUM.
  *
  * Each document is named `IPP_IDDOC.pdf|docx` and carries one planted
  * `dd/MM/yyyy` date from 2001 or later and one `dr <name>` author at the
  * end of its text. Some texts also carry an earlier birth date before the
  * planted one. A few files have an IPP that resolves to no patient, and a
  * few have empty text. */
object EtlCorpus {

  val Header: Seq[String] = Seq("NOM", "PRENOM", "DATE_NAISSANCE", "SEXE",
    "NOM_JEUNE_FILLE", "HOSPITAL_PATIENT_ID", "ADRESSE", "TEL", "CP", "VILLE",
    "PAYS", "DATE_MORT")

  final case class Patient(nom: String, prenom: String, naissance: String,
                           sexe: String, hpid: String, adresse: String,
                           tel: String, cp: String, ville: String,
                           pays: String, mort: String) {
    def key: (String, String, String, String, String) =
      (nom, prenom, naissance, adresse, tel)
    def cells: Seq[String] = Seq(nom, prenom, naissance, sexe, null, hpid,
      adresse, tel, cp, ville, pays, mort)
  }

  /** A source document. `date` is the expected DOCUMENT_DATE as
    * `yyyy-MM-dd`; `author` the expected AUTHOR. Both are None when the
    * text is empty. */
  final case class Doc(ipp: String, idDoc: String, pdf: Boolean, text: String,
                       date: Option[String], author: Option[String]) {
    def fileName: String = s"${ipp}_$idDoc.${if (pdf) "pdf" else "docx"}"
    def docType: String = if (pdf) "pdf" else "docx"
    def bytes: Array[Byte] = if (pdf) Pdf.write(text) else Docx.write(text)
  }

  sealed trait Change
  final case class Add(doc: Doc) extends Change
  final case class Modify(doc: Doc) extends Change
  final case class Delete(fileName: String) extends Change

  /** Sizes of one corpus. */
  final case class Size(patients: Int, docs: Int, rounds: Int)
  /** 5x the reference's 4,828-row export, 200 documents at about 4 PDF to
    * 1 DOCX, and 10 watch rounds: one repetition takes about 25 s, inside
    * the 30 s a run measures. */
  val Full = Size(patients = 24140, docs = 200, rounds = 10)

  private val LastNames = Vector("martin", "bernard", "thomas", "petit",
    "robert", "richard", "durand", "dubois", "moreau", "laurent", "simon",
    "michel", "lefebvre", "leroy", "roux", "david", "bertrand", "morel",
    "fournier", "girard", "bonnet", "dupont", "lambert", "fontaine",
    "rousseau", "vincent", "muller", "faure", "mercier", "blanc", "guerin",
    "boyer", "garnier", "chevalier", "legrand", "gauthier", "garcia",
    "perrin", "robin", "clement", "morin", "nicolas", "henry", "mathieu")
  private val FirstNames = Vector("jean", "marie", "pierre", "anne", "louis",
    "claire", "paul", "julie", "luc", "emma", "hugo", "lea", "noah", "chloe",
    "jules", "alice", "adam", "ines", "leo", "sarah", "lucas", "camille")
  private val Cities = Vector(("75001", "Paris"), ("69001", "Lyon"),
    ("13001", "Marseille"), ("31000", "Toulouse"), ("06000", "Nice"),
    ("44000", "Nantes"), ("67000", "Strasbourg"), ("34000", "Montpellier"),
    ("33000", "Bordeaux"), ("59000", "Lille"))
  private val Countries = Vector("France", "Norway", "Italy", "Spain",
    "Belgium", "Germany", "Portugal", "Morocco")
  private val Streets = Vector("rue de la paix", "avenue foch",
    "boulevard victor hugo", "rue pasteur", "place de la gare",
    "chemin des vignes", "rue du moulin")
  /** Author names: lowercase ASCII and free of the letters "dr", so the
    * author rule keeps them whole. */
  private val Doctors: Vector[String] =
    (LastNames ++ FirstNames.map(f => s"$f ${LastNames(f.length)}"))
      .filterNot(_.contains("dr"))
  private val Filler = Vector("patient", "examen", "clinique", "normal",
    "traitement", "suivi", "consultation", "bilan", "sanguin", "tension",
    "arterielle", "stable", "poursuite", "controle", "semaines", "douleur",
    "thoracique", "absence", "fievre", "antecedents", "familiaux", "allergie",
    "connue", "radiographie", "pulmonaire", "sans", "anomalie")

  private def hpid(i: Int): String = f"${10000000L + 17L * i}%08d"
  private def date(d: Int, m: Int, y: Int): String = f"$d%02d/$m%02d/$y%04d"
  private def iso(d: Int, m: Int, y: Int): String = f"$y%04d-$m%02d-$d%02d"
  private def pick[T](r: SplittableRandom, v: Vector[T]): T = v(r.nextInt(v.size))

  private def newPatient(r: SplittableRandom, i: Int): Patient = {
    val (cp, ville) = pick(r, Cities)
    Patient(
      nom = pick(r, LastNames).capitalize,
      prenom = pick(r, FirstNames).capitalize,
      naissance = date(1 + r.nextInt(28), 1 + r.nextInt(12), 1920 + r.nextInt(95)),
      sexe = if (r.nextBoolean()) "M" else "F",
      hpid = hpid(i),
      adresse = s"${1 + r.nextInt(200)} ${pick(r, Streets)}",
      tel = f"+33 6 ${i}%08d",
      cp = cp, ville = ville,
      pays = if (r.nextInt(1000) == 0) null else pick(r, Countries),
      mort = if (r.nextInt(8) == 0)
        date(1 + r.nextInt(28), 1 + r.nextInt(12), 2001 + r.nextInt(20))
      else null)
  }

  /** A duplicate of `p`: the same five keys, and either the same hospital
    * id (a double export) or a new one (a re-registration). */
  private def duplicate(r: SplittableRandom, p: Patient, newId: Int): Patient =
    if (r.nextBoolean()) p
    else p.copy(hpid = f"${10000000L + 17L * newId + 5}%08d")

  /** The first export: `n` rows, about 1% of them planted duplicates. */
  def patients(seed: Long, n: Int): Vector[Patient] = {
    val r = new SplittableRandom(seed * 7919 + 1)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Patient]
    for (i <- 0 until n)
      rows += (if (i > 10 && r.nextInt(100) == 0) duplicate(r, rows(r.nextInt(i)), i)
               else newPatient(r, i))
    rows.toVector
  }

  /** A re-export of `base`: the same rows in the same order with about 1%
    * of them edited on non-key columns (a move within the same street
    * number, a recorded death), then about 1% new rows appended, a few of
    * which re-register an existing patient. */
  def reexport(seed: Long, base: Vector[Patient]): Vector[Patient] = {
    val r = new SplittableRandom(seed * 7919 + 2)
    val edited = base.map { p =>
      if (r.nextInt(100) != 0) p
      else if (r.nextBoolean()) {
        val (cp, ville) = pick(r, Cities)
        p.copy(cp = cp, ville = ville)
      } else p.copy(mort = date(1 + r.nextInt(28), 1 + r.nextInt(12), 2022))
    }
    val extra = math.max(1, base.size / 100)
    val added = (0 until extra).map { j =>
      val i = base.size + j
      if (j % 40 == 7)
        base(r.nextInt(base.size)).copy(hpid = f"${10000000L + 17L * i + 5}%08d")
      else newPatient(r, i)
    }
    edited ++ added
  }

  // ---- documents ------------------------------------------------------

  /** Draw a document for a patient id `ipp`. */
  private def newDoc(r: SplittableRandom, ipp: String, idDoc: Int): Doc = {
    val pdf = r.nextInt(5) != 0
    if (r.nextInt(40) == 0) Doc(ipp, f"$idDoc%06d", pdf, "", None, None)
    else {
      val (d, m, y) = (1 + r.nextInt(28), 1 + r.nextInt(12), 2001 + r.nextInt(24))
      val doctor = pick(r, Doctors)
      val lines = Vector.newBuilder[String]
      lines += s"compte rendu ${f"$idDoc%06d"}"
      if (r.nextBoolean())
        lines += s"patient ne le ${date(1 + r.nextInt(28), 1 + r.nextInt(12),
          1920 + r.nextInt(80))}"
      for (_ <- 0 until 2 + r.nextInt(6))
        lines += (0 until 6 + r.nextInt(8)).map(_ => pick(r, Filler)).mkString(" ")
      lines += s"consultation du ${date(d, m, y)}"
      for (_ <- 0 until r.nextInt(3))
        lines += (0 until 6 + r.nextInt(8)).map(_ => pick(r, Filler)).mkString(" ")
      lines += s"signe dr $doctor."
      val author = "Dr " + doctor.split(' ').map(_.capitalize).mkString(" ")
      Doc(ipp, f"$idDoc%06d", pdf, lines.result().mkString("\n"),
        Some(iso(d, m, y)), Some(author))
    }
  }

  /** An IPP that resolves to no patient. */
  private def strayIpp(r: SplittableRandom): String =
    f"9${r.nextInt(10000000)}%07d"

  /** Draw an IPP: mostly a kept patient, sometimes a stray id. */
  private def drawIpp(r: SplittableRandom, ipps: Vector[String]): String =
    if (r.nextInt(30) == 0) strayIpp(r) else pick(r, ipps)

  /** The initial document set over the hospital ids in `ipps`. */
  def documents(seed: Long, ipps: Vector[String], n: Int): Vector[Doc] = {
    val r = new SplittableRandom(seed * 7919 + 3)
    (0 until n).map(i => newDoc(r, drawIpp(r, ipps), 100000 + i)).toVector
  }

  /** The change of watch round `round`, given the current file set. Adds
    * draw from `ipps`, which may include patients of the re-export. */
  def change(seed: Long, round: Int, current: Vector[Doc],
             ipps: Vector[String]): Change = {
    val r = new SplittableRandom(seed * 7919 + 1000 + round)
    val k = r.nextInt(100)
    if (k < 45 || current.size < 10)
      Add(newDoc(r, drawIpp(r, ipps), 500000 + round))
    else if (k < 85) {
      val old = current(r.nextInt(current.size))
      Modify(newDoc(r, old.ipp, old.idDoc.toInt).copy(pdf = old.pdf))
    } else Delete(current(r.nextInt(current.size)).fileName)
  }

  // ---- expected warehouse ---------------------------------------------

  /** Keep-first dedup on the five keys with numbering BEFORE dedup:
    * PATIENT_NUM is the 1-based row position, so dropped rows leave gaps. */
  def expectedPatients(rows: Seq[Patient]): SortedMap[Long, Patient] = {
    val seen = scala.collection.mutable.HashSet.empty[(String, String, String, String, String)]
    val b = SortedMap.newBuilder[Long, Patient]
    rows.iterator.zipWithIndex.foreach { case (p, i) =>
      if (seen.add(p.key)) b += ((i + 1).toLong -> p)
    }
    b.result()
  }

  /** Hospital id -> PATIENT_NUM (first by PATIENT_NUM). */
  def ippIndex(kept: SortedMap[Long, Patient]): Map[String, Long] =
    kept.toSeq.reverse.map { case (num, p) => p.hpid -> num }.toMap

  final case class ExpDoc(patientNum: Long, date: Option[String],
                          author: Option[String], docType: String,
                          uploadId: Long)

  /** One reprocess-all batch: the current files in path order, without
    * empty texts and unresolved ids, numbered 1..m. */
  def expectedBatch(files: Seq[Doc], ipp: Map[String, Long],
                    uploadId: Long): SortedMap[Long, ExpDoc] = {
    val kept = files.sortBy(_.fileName)
      .filter(d => d.text.nonEmpty && ipp.contains(d.ipp))
    SortedMap(kept.zipWithIndex.map { case (d, i) =>
      (i + 1).toLong -> ExpDoc(ipp(d.ipp), d.date, d.author, d.docType, uploadId)
    }: _*)
  }

  // ---- file formats -----------------------------------------------------

  /** Minimal one-page PDF: a Flate content stream showing the text with
    * `Tj`, and the first line split into a kerned `TJ` array. */
  object Pdf {
    private def esc(s: String): String =
      s.flatMap {
        case c @ ('(' | ')' | '\\') => "\\" + c
        case c => c.toString
      }
    def content(text: String): String =
      if (text.isEmpty) "BT /F1 11 Tf 72 760 Td ET"
      else {
        val lines = text.split('\n')
        val first = lines.head.split(' ')
        val tj = first.map(w => s"(${esc(w)})").mkString("[", " -400 ", "] TJ")
        val rest = lines.tail.map(l => s"0 -14 Td (${esc(l)}) Tj").mkString(" ")
        s"BT /F1 11 Tf 72 760 Td $tj $rest ET"
      }
    def write(text: String): Array[Byte] = {
      val raw = new ByteArrayOutputStream()
      val z = new DeflaterOutputStream(raw, new Deflater(6))
      z.write(content(text).getBytes(UTF_8)); z.close()
      val stream = raw.toByteArray
      val out = new ByteArrayOutputStream()
      val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
      def put(s: String): Unit = out.write(s.getBytes(UTF_8))
      put("%PDF-1.4\n")
      def obj(n: Int, body: String): Unit = {
        offsets += out.size(); put(s"$n 0 obj\n$body\nendobj\n")
      }
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
      obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
      offsets += out.size()
      put(s"4 0 obj\n<< /Length ${stream.length} /Filter /FlateDecode >>\nstream\n")
      out.write(stream)
      put("\nendstream\nendobj\n")
      obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
      val xref = out.size()
      put(s"xref\n0 6\n0000000000 65535 f \n")
      offsets.foreach(o => put(f"$o%010d 00000 n \n"))
      put(s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
      out.toByteArray
    }
  }

  /** Minimal DOCX: a zip holding the content types and a document part
    * with one paragraph per line. */
  object Docx {
    private def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def write(text: String): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val zip = new ZipOutputStream(out)
      def part(name: String, body: String): Unit = {
        zip.putNextEntry(new ZipEntry(name)); zip.write(body.getBytes(UTF_8))
        zip.closeEntry()
      }
      part("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/><Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/></Types>""")
      val paras = text.split('\n').map(l =>
        s"<w:p><w:r><w:t xml:space=\"preserve\">${esc(l)}</w:t></w:r></w:p>").mkString
      part("word/document.xml",
        """<?xml version="1.0" encoding="UTF-8"?><w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"><w:body>""" +
          paras + "</w:body></w:document>")
      zip.close()
      out.toByteArray
    }
  }
}
