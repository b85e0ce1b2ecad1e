package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming surface over the `events` shape (ts, event_type,
  * value, props). The reference has no event-time semantics of its own
  * (SURVEY.md §2 T7) — this is the engine's forward-looking streaming
  * API: the same transforms work on a batch DataFrame or a readStream,
  * with watermarked state cleanup when streaming.
  */
object EventStreams {

  /** Watermarked tumbling-window aggregation: count + sum(value) per
    * (window, event_type). On a stream, state for windows older than the
    * watermark is dropped — bounded memory at any scale. */
  def windowedAgg(events: DataFrame,
                  windowLen: String = "5 minutes",
                  watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming COMPOSITION-DRIFT monitor — the deployment form of the
    * batch q276 KL query: each watermarked tumbling window's event-type
    * mix is scored against a FIXED reference mix (a model-sized
    * artifact computed in batch over the corpus and threaded into the
    * plan as literals). One single aggregation per window — no chained
    * streaming aggs, so the query is legal in append/complete modes and
    * state is bounded by the watermark horizon. Terms follow the q276
    * convention: only OBSERVED types contribute (q·ln(q/p) with q>0).
    * Works identically on a batch frame (parity-tested). */
  def klDrift(events: DataFrame, refMix: Seq[(String, Double)],
              windowLen: String = "1 hour",
              watermark: String = "2 hours"): DataFrame = {
    require(refMix.nonEmpty && refMix.forall(_._2 > 0),
      "reference mix must cover the scored types with positive mass")
    val counts = refMix.map { case (t, _) =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")
    }
    val agged = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(counts.head, counts.tail: _*)
      .withColumn("n",
        refMix.map { case (t, _) => col(s"n_$t") }.reduce(_ + _))
    val kl = refMix.map { case (t, p) =>
      val q = col(s"n_$t").cast("double") / col("n")
      when(col(s"n_$t") > 0, q * log(q / lit(p))).otherwise(lit(0.0))
    }.reduce(_ + _)
    agged
      .withColumn("kl", round(kl, 6))
      .select(col("window.start").as("window_start"), col("n"), col("kl"))
  }

  /** Streaming exact dedup on a key subset with BOUNDED state:
    * `dropDuplicatesWithinWatermark` keeps a key's fingerprint only
    * until the watermark passes it, so state is ∝ keys-per-watermark-
    * horizon instead of all-keys-ever (the unbounded hazard of plain
    * `dropDuplicates` on an infinite stream). Duplicates arriving
    * within the lateness budget are suppressed; a key recurring far
    * later is (by design) treated as new — the streaming analogue of
    * the batch keep-first contract. */
  def dedupedStream(events: DataFrame, keys: Seq[String],
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream INTERVAL join: each left event pairs with right
    * events of the same key whose time lies in [left.ts − before,
    * left.ts + after]. Both sides are watermarked and the join condition
    * bounds event-time distance, so Spark derives a state-retention
    * horizon for BOTH buffers — state is ∝ events within the watermark
    * + interval window, never the full streams (the unbounded hazard of
    * an unconstrained stream-stream join, which Spark rejects in append
    * mode for exactly that reason). Works identically on batch frames.
    * Inputs must expose distinct column names (e.g. `l_ts`/`r_ts`). */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   key: String, rightKey: String,
                   leftTs: String, rightTs: String,
                   before: String = "10 minutes",
                   after: String = "10 minutes",
                   watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      col(key) === col(rightKey) &&
        col(rightTs) >= col(leftTs) - expr(s"interval $before") &&
        col(rightTs) <= col(leftTs) + expr(s"interval $after"))
  }
}
