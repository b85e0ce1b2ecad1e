package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DocxExtract, PdfExtract}
import perfbench.EtlCorpus._

class EtlCorpusSpec extends AnyFunSuite {

  private def p(nom: String, hpid: String, tel: String = "1") =
    Patient(nom, "Jean", "01/02/1950", "M", hpid, "1 rue", tel, "75001",
      "Paris", "France", null)

  test("keep-first dedup numbers before dropping, leaving gaps") {
    val rows = Seq(p("A", "01"), p("B", "02"), p("A", "03"), p("C", "04"),
      p("B", "02"))
    val kept = expectedPatients(rows)
    assert(kept.keys.toSeq == Seq(1L, 2L, 4L))
    assert(kept.values.map(_.hpid).toSeq == Seq("01", "02", "04"))
    // the re-registration ("03") never resolves
    assert(ippIndex(kept) == Map("01" -> 1L, "02" -> 2L, "04" -> 4L))
  }

  test("a tiny seed plants interior duplicates and the re-export keeps every number") {
    val base = patients(seed = 5, n = 2000)
    val kept = expectedPatients(base)
    val dropped = (1L to base.size.toLong).filterNot(kept.contains)
    assert(dropped.nonEmpty && dropped.forall(_ < base.size))
    // every dropped row repeats the five keys of an earlier kept row
    val keys = kept.values.map(_.key).toSet
    assert(dropped.forall(n => keys(base((n - 1).toInt).key)))
    assert(patients(seed = 5, n = 2000) == base)
    assert(patients(seed = 6, n = 2000) != base)

    val again = reexport(seed = 5, base)
    assert(again.take(base.size).map(_.key) == base.map(_.key))
    assert(again.size == base.size + base.size / 100)
    val kept2 = expectedPatients(again)
    assert(kept.keySet.subsetOf(kept2.keySet))
    assert(kept2.size > kept.size && kept2.size < again.size)
    val edited = kept.count { case (n, q) => kept2(n) != q }
    assert(edited > 0 && edited < base.size / 30)
  }

  test("a reprocess-all batch numbers resolvable non-empty files in path order") {
    val ipp = Map("10" -> 7L, "20" -> 9L)
    val docs = Seq(
      Doc("20", "000002", pdf = true, "x", Some("2010-01-01"), Some("Dr A")),
      Doc("10", "000005", pdf = false, "y", Some("2011-01-01"), Some("Dr B")),
      Doc("99", "000001", pdf = true, "z", Some("2012-01-01"), Some("Dr C")),
      Doc("10", "000003", pdf = true, "", None, None))
    val batch = expectedBatch(docs, ipp, uploadId = 4)
    assert(batch.toSeq == Seq(
      1L -> ExpDoc(7, Some("2011-01-01"), Some("Dr B"), "docx", 4),
      2L -> ExpDoc(9, Some("2010-01-01"), Some("Dr A"), "pdf", 4)))
  }

  test("generated PDF and DOCX files extract to texts whose rules give the planted values") {
    val ipps = patients(seed = 9, n = 300).map(_.hpid)
    val docs = documents(seed = 9, ipps, 120)
    assert(docs.count(_.pdf) > 3 * docs.count(!_.pdf))
    assert(docs.exists(_.text.isEmpty) || documents(9, ipps, 400).exists(_.text.isEmpty))
    val DateRe = """\b(\d{2})/(\d{2})/(\d{4})\b""".r
    val AuthorRe = """\bdr\s+([a-z]+(?:\s+[a-z]+)?)\b""".r
    for (d <- docs) {
      val text = if (d.pdf) PdfExtract.extractText(d.bytes) else DocxExtract.extractText(d.bytes)
      val norm = text.trim.replaceAll("\\s+", " ").toLowerCase
      if (d.text.isEmpty) assert(text.isEmpty, d.fileName)
      else {
        val date = DateRe.findAllMatchIn(norm).find(_.group(3).toInt >= 2001)
          .map(m => s"${m.group(3)}-${m.group(2)}-${m.group(1)}")
        val author = AuthorRe.findAllMatchIn(norm).toSeq.lastOption.map(m =>
          "Dr " + m.group(1).split("dr")(0).trim.split(' ').map(_.capitalize).mkString(" "))
        assert(date == d.date, s"${d.fileName}: $norm")
        assert(author == d.author, s"${d.fileName}: $norm")
      }
    }
  }

  test("the change schedule is a function of the seed and the current files") {
    val ipps = patients(seed = 2, n = 300).map(_.hpid)
    val docs = documents(seed = 2, ipps, 30)
    val a = (0 until 20).map(r => change(2, r, docs, ipps))
    assert(a == (0 until 20).map(r => change(2, r, docs, ipps)))
    assert(a.exists(_.isInstanceOf[Add]) && a.exists(_.isInstanceOf[Modify]) &&
      a.exists(_.isInstanceOf[Delete]))
  }
}
