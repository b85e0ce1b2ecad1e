package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{TextFunctions => TF}

/** Fragments shared by the query families. */
private[graft] object Shared {

  /** Table `name` of the scale-factor directory `dir`. */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Normalized document text (F1) used by the text/dedup family. */
  def normText: Column = TF.normalizeText(col("text"))

  /** `events` with `ts` normalized to a session-TZ TIMESTAMP, whatever
    * the parquet encodes — generations of the testdata have shipped
    * TIMESTAMP(NANOS) (read as a ns-since-epoch long under
    * `spark.sql.legacy.parquet.nanosAsLong`) and TIMESTAMP_NTZ
    * (timestamp[us] with no zone). The session runs UTC, so the
    * NTZ→LTZ cast is wall-clock identity, and every query (incl. the
    * `unix_micros` frame arithmetic in q45/q124) sees one type. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    e.schema("ts").dataType.typeName match {
      // integer DIV, not `/`: ns-since-epoch exceeds 2^53, so double
      // division is off by up to a microsecond
      case "long" => e.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case "timestamp_ntz" => e.withColumn("ts", col("ts").cast("timestamp"))
      case _ => e
    }
  }
}
