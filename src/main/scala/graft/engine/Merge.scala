package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed upsert (MERGE) semantics — the reference's update-then-insert
  * pair (`exo_1.py:134-170`, `exo_2.py:287-308`: per-row UPDATE loop +
  * `to_sql` append) re-expressed set-at-a-time.
  *
  * Scale notes (100 TB): `upsert` is one left-anti shuffle join on the
  * key plus a union — Catalyst plans a hash-partitioned anti join, and AQE
  * converts it to a broadcast anti join automatically whenever the incoming
  * batch's key set is small (the common incremental case: a micro-batch of
  * thousands of keys against a warehouse of billions). Warehouse tables
  * take the transactional form, [[upsertTransactional]] over a [[TxLog]]
  * table — the `MERGE INTO` a Delta/Iceberg user would write
  * (SURVEY.md §7.4).
  */
object Merge {

  /** MERGE-as-antijoin-union: every incoming row wins over the existing
    * row with the same key; existing rows with unmatched keys survive.
    * Equivalent to `MERGE ... WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *` — and idempotent: re-merging the same batch
    * is a no-op (property-tested in MergeSpec). */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val incomingKeys = incoming.select(keys.map(col): _*).distinct()
    existing
      .join(incomingKeys, keys, "left_anti")
      .unionByName(incoming.select(existing.columns.map(col).toIndexedSeq: _*))
  }

  /** S8's PRODUCTION form: the same MERGE semantics as [[upsert]], but
    * against a transactional [[TxLog]] table instead of a caller-held
    * DataFrame — the `MERGE INTO` a Delta/Iceberg user would write,
    * backed by this repo's own manifest log. Differences that matter at
    * 100 TB:
    *
    *   - only data files whose key-range OVERLAPS the incoming batch are
    *     rewritten; disjoint files are carried into the new version
    *     byte-identical (TxLogSpec proves path- and byte-identity), so a
    *     micro-batch of thousands of keys against a warehouse of
    *     billions rewrites a handful of files, not the table;
    *   - visibility is an atomic manifest CAS — readers see the old
    *     version or the new one, never a half-written directory;
    *   - concurrent writers retry on commit conflict, and a replayed
    *     `epoch` (streaming batchId / watcher uploadId) is skipped for
    *     exactly-once delivery.
    *
    * Returns the post-merge table read, so call sites can swap
    * `upsert(existing, incoming, keys)` + write for
    * `upsertTransactional(spark, root, incoming, key)` without further
    * changes. Single long-castable key: that is [[TxLog]]'s file-stat
    * pruning contract. */
  def upsertTransactional(spark: org.apache.spark.sql.SparkSession,
                          root: String, incoming: DataFrame, key: String,
                          epoch: Option[Long] = None): DataFrame = {
    TxLog.merge(spark, root, incoming, key, epoch)
    TxLog.read(spark, root, schemaFrom = Some(incoming))
  }

  /** Anti-join "new rows" detection (`exo_1.py:199-204` `isin`-negation):
    * incoming rows whose key is absent from existing. */
  def newRows(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** CDC between two table snapshots: one FULL OUTER shuffle join on the
    * key classifies every row as insert (new only), delete (old only),
    * or update (both sides present, any compared column null-safely
    * distinct); unchanged rows are dropped. Output: keys, change_type,
    * then old_/new_ pairs for each compared column — the row-level feed
    * a downstream incremental consumer (or a MERGE) replays.
    *
    * Scale (100 TB): a single key-partitioned join — bucket both
    * snapshots on the key and it is exchange-free; AQE broadcasts when
    * one snapshot is a small increment. Column comparison is null-safe
    * equality (`<=>`), codegen'd, no hashing detour.
    *
    * Key contract: key columns must be NON-NULL. The join is plain
    * equality, so a row whose key is null in both snapshots never
    * matches itself and would surface as a delete + an insert rather
    * than an update/unchanged — if null keys are legal upstream, map
    * them to a sentinel (or swap in a null-safe join) first. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keys: Seq[String], compare: Seq[String]): DataFrame = {
    require(compare.nonEmpty,
      "snapshotDiff needs at least one compare column: with none, every " +
        "matched row would be 'unchanged' by definition — pass the value " +
        "columns to diff (or use newRows/Merge for key-existence checks)")
    val o = oldSnap.select(keys.map(col) ++
      compare.map(c => col(c).as(s"old_$c")) :+ lit(true).as("__op"): _*)
    val n = newSnap.select(keys.map(col) ++
      compare.map(c => col(c).as(s"new_$c")) :+ lit(true).as("__np"): _*)
    val changed = compare
      .map(c => not(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    o.join(n, keys, "full_outer")
      .withColumn("change_type",
        when(col("__op").isNull, "insert")
          .when(col("__np").isNull, "delete")
          .when(changed, "update")
          .otherwise("unchanged"))
      .filter(col("change_type") =!= "unchanged")
      .select(keys.map(col) ++ Seq(col("change_type")) ++
        compare.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** SCD TYPE 2 dimension build: collapse a keyed change history into
    * effective-dated version rows — one row per (key, run of identical
    * tracked values), with `effective_from` = the run's first event,
    * `effective_to` = the next run's first event (null while current),
    * and an `is_current` flag. The warehouse-dimension companion to
    * [[snapshotDiff]]: diff feeds the history, this collapses it.
    *
    * Scale (100 TB of history): ONE hash shuffle on the key — both
    * windows (change detection via `lag`, horizon via `lead`) share the
    * same partitioning, so Catalyst plans a single Exchange and two
    * in-partition sorts. No global sort, no driver state. Per-key
    * history fits a task trivially (versions per entity are
    * catalog-sized, not fact-sized).
    *
    * Determinism contract: `orderBy` must be a total order within each
    * key (pass a unique tiebreaker, e.g. the event/order id) — same
    * requirement as keep-first dedup (J1). Tracked-value comparison is
    * null-safe: a null→value or value→null transition IS a change;
    * null→null is not. */
  def scd2(history: DataFrame, keys: Seq[String], orderBy: Seq[String],
           tracked: Seq[String]): DataFrame = {
    require(tracked.nonEmpty, "scd2 needs at least one tracked column")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderBy.map(col): _*)
    val isChange = tracked
      .map(c => not(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _)
    val starts = history
      .withColumn("__rn", row_number().over(w))
      .withColumn("__chg", col("__rn") === 1 || isChange)
      .filter(col("__chg"))
      .withColumn("effective_from", col(orderBy.head))
    val wv = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__rn"))
    starts
      .withColumn("effective_to", lead(col("effective_from"), 1).over(wv))
      .withColumn("is_current", col("effective_to").isNull)
      .select((keys ++ tracked).map(col) ++
        Seq(col("effective_from"), col("effective_to"),
          col("is_current")): _*)
  }
}
