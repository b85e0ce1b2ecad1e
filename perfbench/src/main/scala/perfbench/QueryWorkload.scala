package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** The two query workloads: a closed loop with one client that runs a
  * frozen set of `SparkEntry.queries` at sf0.1 in a seeded order, each
  * forced by graft.Bench's full-row hash reduce and checked against a
  * frozen expected hash. */
object QueryWorkload {

  /** The queries under 1.0 s in BENCH_r15_c8.json, sorted by name, every
    * 6th kept. */
  val BreadthFrozen: Seq[String] = Seq("q01_pricing_agg", "q08_merge_upsert",
    "q111_dq_audit", "q122_pseudonymize", "q132_pmi_collocations",
    "q141_trigram_paths", "q148_rolling_wau", "q155_hhi", "q163_kll_grouped",
    "q172_skyline", "q17_fingerprint", "q18_dedup_exact",
    "q203_schema_drift_union", "q213_backtest_mape", "q223_standardized_rate",
    "q234_padding_waste", "q246_knn_label_purity", "q252_aa_calibration",
    "q258_woe_encoding", "q264_wilson_interval", "q272_threshold_crossing",
    "q282_streak_histogram", "q28_setops", "q299_seasonal_backtest",
    "q305_zonemap_skipping", "q31_embedding_lsh", "q326_grouped_folds",
    "q331_sqlite_rowid_window", "q339_sqlite_index_lookup",
    "q348_sqlite_index_prefix", "q370_jsonl_csv_roundtrip", "q44_cube",
    "q53_unigram_surprisal", "q61_multimodal_audio", "q67_interval_join",
    "q76_gopher_rules", "q88_hll", "q97_edit_distance")

  /** The 12 slowest queries in BENCH_r15_c8.json, slowest first. */
  val HeavyFrozen: Seq[String] = Seq("q360_suffix_lcp",
    "q361_curation_pipeline", "q357_suffix_rank_order", "q96_cc_star",
    "q366_power_iteration", "q359_gram_hash_dedup", "q354_suffix_array_dedup",
    "q91_knn_join", "q298_hubness", "q108_entity_resolution",
    "q273_txlog_exactly_once", "q46_fuzzy_pairs")

  /** The sets one run measures, thinned from the frozen lists so that one
    * pass (about 20 s) fits the 30 s a run measures: every second breadth
    * query from the second on (19 queries), and every sixth heavy query
    * from the first (q360 and q354, both suffix-family users of
    * `Dedup.numberRows`). */
  val BreadthRun: Seq[String] = BreadthFrozen.drop(1).grouped(2).map(_.head).toSeq
  val HeavyRun: Seq[String] = HeavyFrozen.grouped(6).map(_.head).toSeq

  /** Queries run untimed before the measured loop (graft.Bench's warmup). */
  val Warmup: Seq[String] = Seq("q01_pricing_agg", "q06_regex_date_extract",
    "q03_antijoin_new_rows")

  /** Frozen `name -> hash` of every query of both frozen sets over the
    * generated data ([[QueryData]]). */
  lazy val expectedHashes: Map[String, String] = {
    val in = getClass.getResourceAsStream("/perfbench/expected_hashes.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
    finally in.close()
  }

  /** The full-row hash reduce of graft.Bench: `bit_xor(xxhash64(all
    * columns))`, map columns serialized with `to_json` first. */
  def resultHash(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("__h"))
      .agg(bit_xor(col("__h"))).collect()(0)
    if (r.isNullAt(0)) "null" else r.getLong(0).toString
  }

  /** graft.Bench's inter-query hygiene, outside the timed region: blocking
    * unpersist of every persistent RDD, GC, a short quiesce, GC. */
  def hygiene(spark: SparkSession, quiesceMs: Long): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(quiesceMs)
    System.gc()
  }

  final case class QueryRun(name: String, constructS: Double, executeS: Double,
                            hash: String, error: Option[String]) {
    def wallS: Double = constructS + executeS
  }

  /** Outcome of a run's passes: every query counts as attempted; a failed
    * one counts in `failed` and adds nothing to its pass total. */
  final case class Tally(attempted: Int, failed: Int, errors: Seq[String],
                         passTotals: Seq[Double])

  def tally(passes: Seq[Seq[QueryRun]], expected: Map[String, String]): Tally = {
    val verdicts = passes.map(_.map(r => r -> verdict(r, expected)))
    val errors = verdicts.flatten.collect { case (r, Some(e)) => s"${r.name}: $e" }
    Tally(verdicts.map(_.size).sum, errors.size, errors,
      verdicts.map(_.collect { case (r, None) => r.wallS }.sum))
  }

  /** Judge one run: it passes when it did not throw and its hash equals the
    * frozen one. A failed query is never counted as a healthy time. */
  def verdict(r: QueryRun, expected: Map[String, String]): Option[String] =
    r.error.orElse(expected.get(r.name) match {
      case None => Some(s"no frozen hash for ${r.name}")
      case Some(h) if h != r.hash => Some(s"hash ${r.hash} != frozen $h")
      case _ => None
    })
}

final class QueryWorkload(spark: SparkSession, tracer: Tracer, dataDir: String,
                          queries: Seq[String], seed: Long, quiesceMs: Long) {
  import QueryWorkload._

  private val fns = graft.SparkEntry.queries

  def runOne(name: String): QueryRun = {
    hygiene(spark, quiesceMs)
    var constructS = 0.0
    var executeS = 0.0
    var hash = ""
    val error =
      try {
        tracer.span("query", name, traceId = name) {
          val t0 = System.nanoTime()
          val df = tracer.span("query", "construct")(fns(name)(spark, dataDir))
          val t1 = System.nanoTime()
          constructS = (t1 - t0) / 1e9
          hash = tracer.span("query", "execute")(resultHash(df))
          executeS = (System.nanoTime() - t1) / 1e9
        }
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    tracer.drain()
    QueryRun(name, constructS, executeS, hash, error)
  }

  def warmup(): Unit = Warmup.foreach(runOne)

  /** Whole passes over the set in a seeded order, until the next pass
    * would end after `seconds`; at least one. */
  def run(seconds: Double): Seq[Seq[QueryRun]] = {
    val start = System.nanoTime()
    val passes = Seq.newBuilder[Seq[QueryRun]]
    var pass = 0
    var last = 0.0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (pass == 0 || elapsed + last <= seconds) {
      val p0 = System.nanoTime()
      val order = new Random(seed * 1000003L + pass).shuffle(queries)
      passes += order.map(runOne)
      last = (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    passes.result()
  }
}
