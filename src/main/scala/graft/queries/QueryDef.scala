package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One contract query: a Spark builder over a scale-factor
  * directory of parquet tables, paired with the DuckDB SQL that computes
  * the same result over the same tables.
  *
  * Conventions shared by every query/oracle pair (`tools/check_oracle.py`
  * hash-compares the results after sorting columns by name):
  *  - identical column aliases on both sides;
  *  - deterministic result sets: every window/limit has a total tiebreak
  *    order, double outputs are rounded, temporal outputs are formatted
  *    to strings (removes timestamp-encoding ambiguity between engines);
  *  - cross-engine hashing uses the first 12 hex digits of md5 (exact in
  *    48 bits — reproducible bit-for-bit in DuckDB).
  *
  * @param eagerSink the builder executes side effects — the sink IS the
  *   query's subject, so constructing the DataFrame runs real DML (TxLog
  *   merges, SQLite/JSONL/XLSX exports) before returning the lazy
  *   read-back plan. Runtime consumers (Verify, Bench) pay that by
  *   design; plan-only consumers (PlanAudit, ContractSpec's all-query
  *   plan gates) skip these queries, so that "build every plan" is
  *   side-effect-free. Their scale shape is audited by their own specs
  *   (TxLogSpec races the commit path; the read-back plan is a plain
  *   parquet scan + keyed agg). */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    eagerSink: Boolean = false)

object QueryDef {

  /** The families' definitions as one list. Fails on a name defined
    * twice, which a name-keyed map would otherwise silently drop. */
  def registry(families: Seq[QueryDef]*): Seq[QueryDef] = {
    val all = families.flatten
    val dups = all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"query names defined twice: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }
}
