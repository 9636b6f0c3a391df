package graft

/** Plan-audit dev loop: print a registered query's formatted physical
  * plan without running it. Usage:
  *   sbt "Test/runMain graft.ExplainSmoke q228_ivf_auto [sfDir]"
  * The session is Verify/Bench's (LocalSpark), so the printed plan is
  * the plan those mains execute.
  */
object ExplainSmoke {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExplainSmoke <query_name> [sfDir]")
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = LocalSpark.session(logLevel = "ERROR")
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name' — keys: ${SparkEntry.queries.keys.toSeq.sorted.take(5).mkString(", ")}..."))
    fn(spark, dir).explain("formatted")
    spark.stop()
  }
}
