package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Merge, Patients, TextFunctions => TF}
import graft.queries._
import graft.queries.Shared.t

/** The query contract — the flagship [[entry]] plus one named query per
  * implemented operator from SURVEY.md §2 and the training-data-pipeline
  * operators, each paired with a DuckDB-equivalent oracle. Every query is
  * one [[graft.queries.QueryDef]] in the object of its family under
  * `graft.queries`; [[registry]] lists them all and the maps below are
  * views of it.
  */
object SparkEntry {

  /** Flagship: the reference's patient-ingest pipeline (SURVEY.md §7.3) —
    * stage → keep-first dedup on identity keys with pre-dedup surrogate
    * numbering → DWH projection → MERGE — run over `customer` shaped as a
    * patient export. Driver smoke-checks rows>0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val staged = t(spark, dir, "customer").select(
      col("c_custkey").as("__src_order"),
      col("c_name").as("NOM"),
      col("c_mktsegment").as("PRENOM"),
      lit("01/01/1970").as("DATE_NAISSANCE"),
      lit("M").as("SEXE"),
      lit(null).cast("string").as("NOM_JEUNE_FILLE"),
      concat(lit("addr "), col("c_nationkey")).as("ADRESSE"),
      concat(lit("tel "), col("c_custkey")).as("TEL"),
      lit("75000").as("CP"),
      lit("Paris").as("VILLE"),
      lit("France").as("PAYS"),
      when(col("c_acctbal") < 0, lit("01/01/2020")).cast("string").as("DATE_MORT"),
      TF.zeroPadId(col("c_custkey")).as("HOSPITAL_PATIENT_ID"))
    val deduped = Patients.dedupAndNumber(staged)
    val patients = Patients.toDwhPatient(deduped, uploadId = 1L)
    val ipphist = Patients.toDwhIpphist(deduped, uploadId = 1L)
    Merge.upsert(
      existing = patients.limit(0),
      incoming = patients,
      keys = Seq("PATIENT_NUM"))
      .join(ipphist.select("PATIENT_NUM", "HOSPITAL_PATIENT_ID"), Seq("PATIENT_NUM"))
  }

  /** Every query with its oracle, family by family. */
  val registry: Seq[QueryDef] = QueryDef.registry(
    WarehouseQueries.defs, DataQualityQueries.defs, JoinLayoutQueries.defs,
    ChangeDataQueries.defs, BehaviorQueries.defs, TimeSeriesQueries.defs,
    StatisticsQueries.defs, ModelingQueries.defs, TextQueries.defs,
    DedupQueries.defs, CurationQueries.defs, SimilarityQueries.defs,
    GraphQueries.defs, SketchQueries.defs, SqliteQueries.defs,
    MultimodalQueries.defs)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(d => d.name -> d.build).toMap

  val oracleSql: Map[String, String] =
    registry.map(d => d.name -> d.oracle).toMap

  /** Queries whose builder executes sink DML ([[QueryDef.eagerSink]]):
    * plan-only consumers must skip them. */
  val eagerSinks: Set[String] = registry.filter(_.eagerSink).map(_.name).toSet
}
