package graft

import org.apache.spark.sql.functions._

/** Deterministic blocking-action evidence for the job-fusion
  * optimizations (r15): per query, the number of Spark JOBS launched
  * from construction through one full evaluation of the result (the
  * bench's xxhash64-all-columns reduce). Wall-clock at sf0.1 is noisy
  * (±15-20% run to run on a shared box, measured r15); the job count
  * is exact and reproducible, and the r15 round's main lever is
  * precisely "fewer blocking driver actions per operator".
  *
  * Usage: sbt "runMain graft.JobCount [sfDir] q26_global_rownum ..."
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1).toSeq
    val spark = Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    // warm up scan/codegen paths so the first query's count is not
    // inflated by one-time table touches
    Seq("lineitem", "documents", "embeddings", "events").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).collect()
      catch { case _: Throwable => }
    }
    names.foreach { n =>
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      // one job group per query: statusTracker reports exactly the
      // jobs launched between setJobGroup and clearJobGroup
      spark.sparkContext.setJobGroup(n, n)
      val df = SparkEntry.queries(n)(spark, sfDir)
      val cols = df.schema.fields.map { f =>
        f.dataType match {
          case _: org.apache.spark.sql.types.MapType => to_json(col(f.name))
          case _ => col(f.name)
        }
      }
      df.select(xxhash64(cols.toIndexedSeq: _*).as("__h"))
        .agg(bit_xor(col("__h"))).collect()
      spark.sparkContext.clearJobGroup()
      val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(n).length
      println(s"[jobs] $n $jobs")
    }
    spark.stop()
  }
}
