package graft

import org.apache.spark.sql.SparkSession

/** The one local session the graft mains and specs run on: local[n]
  * with n shuffle partitions, UTC, no UI, the graft extensions, and
  * the nanos-as-long parquet flag events.parquet needs. Built with
  * getOrCreate, so a second call returns the running session.
  * `graft.EntrySmoke` stays a bare session on purpose: it is the
  * no-graft-configs smoke of SparkEntry.entry. */
object LocalSpark {

  /** SPARK_GRAFT_CPUS, else the machine's core count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(cpus: Int = defaultCpus, logLevel: String = "WARN"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
