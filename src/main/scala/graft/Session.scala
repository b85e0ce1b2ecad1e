package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession of the mains that run the query registry. */
object Session {

  /** The core count in `SPARK_GRAFT_CPUS`, 4 when unset. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A local session on `cpus` cores: one shuffle partition per core,
    * UTC session time zone, no UI, AQE on, and TIMESTAMP(NANOS) parquet
    * columns read as ns-since-epoch longs (Spark 4 rejects them by
    * default; `events.parquet` carries one and the queries convert it).
    * The `conf` pairs are applied last, over these defaults. */
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
    conf.foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }
}
