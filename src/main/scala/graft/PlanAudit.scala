package graft
/** Prints formatted physical plans for representative queries —
  * the scale-review loop (pushdown, broadcast, codegen spans). Each
  * dump header names the shuffle-partition count it was planned at,
  * which Exchange nodes and partition-sized joins depend on. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session(logLevel = "ERROR")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val dir = "/root/testdata/sf0.01"
    val targets = if (args.nonEmpty) args.toSeq else Seq(
      "q02_filter_project", "q03_star_join", "q04_left_join_agg", "q49_cosine_topk")
    targets.foreach { name =>
      println(s"\n========== $name (shuffle partitions $parts) ==========")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
