package graft

/** Plan inspection: print formatted physical plans for selected queries —
  * the tool used to keep scans pruned, joins broadcast, and codegen spans
  * wide. Usage: sbt "runMain graft.Plans [sfDir] [query ...]" */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_pricing_agg", "q02_dedup_keepfirst", "q04_join_resolve",
        "q08_merge_upsert", "q22_cosine_topk")
    val spark = Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
