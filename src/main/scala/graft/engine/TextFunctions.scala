package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar text/date semantics of the reference pipeline (SURVEY.md §2.5),
  * re-expressed as pure `Column => Column` combinators over Spark's
  * built-in (whole-stage-codegen'd) functions — no UDFs anywhere, so
  * Catalyst can constant-fold, push down and fuse these freely.
  *
  * Reference semantics (cited per function): normalize_text
  * `exo_2.py:136-149`, extract_metadata date rule `exo_2.py:181-189`,
  * author rule `exo_2.py:166-201`, conditional encodes `exo_1.py:55-105`,
  * provenance zero-pad (export_patient.xlsx sheet "SQL").
  *
  * All expressions are ANSI-mode-safe: `try_to_timestamp`/`get` instead of
  * throwing `to_date`/`element_at`, so a malformed date in 100 TB of
  * documents degrades to NULL instead of failing the job (the reference
  * aborts the whole batch on one bad date — a deliberate divergence,
  * SURVEY.md §7.4).
  */
object TextFunctions {

  /** F1 — normalize: trim, collapse runs of whitespace to one space,
    * lowercase. (`exo_2.py:136-149`) */
  def normalizeText(c: Column): Column =
    lower(regexp_replace(trim(c), "\\s+", " "))

  /** `dd/MM/yyyy` token pattern used by the reference (`exo_2.py:183`). */
  val DatePattern = "\\b\\d{2}/\\d{2}/\\d{4}\\b"

  /** Null-safe parse of a `dd/MM/yyyy` string to a date. */
  def parseFrDate(c: Column): Column =
    try_to_timestamp(c, lit("dd/MM/yyyy")).cast("date")

  /** F2 — document-date rule: over the normalized text, the FIRST
    * `dd/MM/yyyy` occurrence whose year >= `minYear` wins; NULL when none.
    * (`exo_2.py:181-189`; first-match-wins verified in SURVEY.md §2.5 F2) */
  def extractDocumentDate(text: Column, minYear: Int = 2001): Column = {
    val all = regexp_extract_all(normalizeText(text), lit(DatePattern), lit(0))
    val kept = filter(all, d => year(parseFrDate(d)) >= minYear)
    parseFrDate(get(kept, lit(0)))
  }

  /** Author pattern: `dr` + one or two lowercase-ASCII words, applied to
    * normalized text (`exo_2.py:171`). ASCII-only on purpose — accented
    * names are invisible to the reference and the faithful mode pins that. */
  val AuthorPattern = "\\bdr\\s+([a-z]+(?:\\s+[a-z]+)?)\\b"

  /** F3 — author rule, faithful mode: LAST match wins; the captured name is
    * then truncated at its first internal "dr" (the reference's
    * `full_name.split("dr")[0]` quirk, which also mangles names containing
    * the letters "dr" — verified `exo_2.py:166-201`); finally title-cased
    * with the literal prefix "Dr". NULL when no match. */
  def extractAuthor(text: Column): Column = {
    val last = try_element_at(
      regexp_extract_all(normalizeText(text), lit(AuthorPattern), lit(1)), lit(-1))
    val truncated = trim(get(split(last, "dr"), lit(0)))
    when(last.isNotNull && length(last) > 0,
      concat(lit("Dr "), initcap(truncated))).otherwise(lit(null))
  }

  /** Author pattern, SANE mode: Unicode-letter word class, so accented
    * names (`Dr Pêche`) are captured whole instead of being cut at the
    * first non-ASCII letter. `(?U)` turns on UNICODE_CHARACTER_CLASS so
    * `\b` and `\w` agree with `\p{L}` about where words end. */
  val AuthorPatternSane = "(?U)\\bdr\\s+(\\p{L}+(?:\\s+\\p{L}+)?)\\b"

  /** F3 — author rule, sane mode: same last-match-wins selection as the
    * faithful [[extractAuthor]], but with the accent-aware pattern and
    * WITHOUT the reference's `split("dr")[0]` truncation quirk (which
    * mangles any name containing the letters "dr" — `exo_2.py:166-201`).
    * The mode toggle is SQL-visible: the registered `graft_author`
    * function reads `spark.graft.author.legacySemantics` (default true,
    * the faithful reference behavior) at resolution time —
    * `graft.functions.GraftExtensions`. */
  def extractAuthorSane(text: Column): Column = {
    val last = try_element_at(
      regexp_extract_all(normalizeText(text), lit(AuthorPatternSane), lit(1)),
      lit(-1))
    when(last.isNotNull && length(last) > 0,
      concat(lit("Dr "), initcap(last))).otherwise(lit(null))
  }

  /** F7 — provenance zero-pad: Oracle `decode(length(id*5124), ...)`
    * zero-pad of `id*5124` to width 8 (export_patient.xlsx sheet "SQL"). */
  def zeroPadId(c: Column, mult: Int = 5124, width: Int = 8): Column =
    lpad((c * mult).cast("string"), width, "0")

  /** F9 — Python-truthiness test on a string column: non-null AND
    * non-empty (`exo_1.py:105` tests `if row["HOSPITAL_PATIENT_ID"]`). */
  def truthy(c: Column): Column = length(coalesce(c, lit(""))) > 0

  /** P4 — boolean-as-"0"/"1"-string encode (`exo_1.py:74,105`). */
  def boolFlag(cond: Column): Column = when(cond, "1").otherwise("0")

  /** F8/P7 — filename parse: `IPP_IDDOC.ext` convention
    * (`exo_2.py:238-239`). Group 1 = ipp, 2 = id_doc, 3 = extension. */
  val FilenamePattern = "([^/_]+)_([^/_]+)\\.(pdf|docx)$"
  def filenamePart(path: Column, group: Int): Column =
    regexp_extract(path, FilenamePattern, group)

  /** Deterministic 48-bit hash from the md5 hex digest — chosen because it
    * is reproducible bit-for-bit in any engine with md5 (the DuckDB oracle
    * computes `('0x'||substring(md5(x),1,12))::BIGINT`), and 48 bits keeps
    * it exactly representable even through double arithmetic. Used by the
    * MinHash/SimHash family (graft.ops.Dedup). */
  def md5Hash48(c: Column, seed: Int = 0): Column =
    conv(substring(md5(concat(lit(seed.toString), lit(":"), c)), 1, 12), 16, 10)
      .cast("long")
}
