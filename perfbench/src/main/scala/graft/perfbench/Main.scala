package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its inputs, and where
  * its tracing goes (`counters` is set only on the traced run). */
final case class Ctx(spark: SparkSession, dataDir: String, workDir: String,
                     seed: Long, seconds: Double, cores: Int, params: Map[String, String],
                     tracer: Tracer, counters: Option[Counters]) {
  def traced: Boolean = counters.isDefined
  def param(k: String): String =
    params.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  /** Engine counters so far (traced run only); a workload takes this at
    * the end of its timed region. */
  def engineCounters(): Agg = counters.map { c => Counters.drain(spark); c.sum(_ => true) }.getOrElse(new Agg)

  /** Calls into a layer: a span, plus the layer key on every job. */
  def layer[T](name: String)(body: => T): T =
    if (!traced) body else tracer.span(name)(Counters.inLayer(spark, name)(body))
}

/** What one run measured, plus the raw outputs the harness checks
  * against the frozen expectations. */
final class Result {
  var attempted = 0L
  var failed = 0L
  /** Operations in the timed region (runs, passes) and the engine
    * counters over it; the per-layer spark.* metrics are per operation. */
  var ops = 0
  var engine = new Agg
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val outputs = mutable.LinkedHashMap.empty[String, String]
  val errors = mutable.ArrayBuffer.empty[String]

  def fail(msg: String): Unit = { failed += 1; errors += msg }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  private def metrics(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
  def json: String =
    s"""{"attempted":$attempted,"failed":$failed,"end_to_end":${metrics(endToEnd)},""" +
      s""""per_layer":${metrics(perLayer)},""" +
      s""""outputs":${outputs.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")},""" +
      s""""errors":${errors.map(Json.str).mkString("[", ",", "]")}}"""
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}

/** Benchmark driver. One JVM runs one workload:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --work DIR --out FILE [workload parameters]
  *
  * It sets up the session several times (the median is `setup_s`),
  * runs the workload closed- or open-loop for S seconds, checks its
  * outputs outside the timed region and writes one JSON record to
  * FILE. perfbench/run.py builds it, launches it and turns the record
  * into the benchmark's result line. */
object Main {
  val SetupRounds = 7

  /** A progress line on stderr; stdout carries only the result. */
  def note(msg: String): Unit = System.err.println(
    f"perfbench [${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s]: $msg")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = Workloads.byName.getOrElse(arg("workload"),
      throw new IllegalArgumentException(s"unknown workload ${arg("workload")}"))
    val traced = arg("trace") == "1"
    val dataDir = arg("data")
    val workDir = arg("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val jvmStartS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // set-up = session start + touch the workload's input tables + one
    // small job; repeated so the median reads the set-up path rather
    // than one cold JIT pass (the first round is reported on its own)
    val setups = (1 to SetupRounds).map { i =>
      val t0 = System.nanoTime()
      val s = Session.create(cores, workDir)
      Session.warm(s, dataDir, args.get("tables").toSeq.flatMap(_.split(",")))
      val dt = (System.nanoTime() - t0) / 1e9
      note(f"set-up round $i: $dt%.3f s")
      if (i < SetupRounds) s.stop()
      (dt, s)
    }
    val spark = setups.last._2
    val counters = if (traced) Some(Counters.install(spark)) else None
    val ctx = Ctx(spark, dataDir, workDir, arg("seed").toLong, arg("seconds").toDouble,
      cores, args, new Tracer(traced, s"${arg("workload")}-${arg("seed")}-${System.currentTimeMillis()}"),
      counters)
    val result = new Result
    val wall = try workload.run(ctx, result)
    catch { case t: Throwable => result.fail(s"workload aborted: $t"); t.printStackTrace(); 0.0 }
    result.endToEnd("setup_s") = (jvmStartS + Stats.median(setups.map(_._1)), "s")
    if (traced) {
      val a = result.engine
      val k = math.max(1, result.ops).toDouble
      val L = result.perLayer
      L("setup.cold_s") = (jvmStartS + setups.head._1, "s")
      L("jvm.heap_after_gc_peak_mb") = (Heap.peakOldAfterGcMb, "MB")
      result.endToEnd.get("latency_ms").foreach(v => L("traced.latency_ms") = v)
      result.endToEnd.get("throughput_per_s").foreach(v => L("traced.throughput_per_s") = v)
      L("spark.jobs") = (a.jobs / k, "count")
      L("spark.stages") = (a.stages / k, "count")
      L("spark.tasks") = (a.tasks / k, "count")
      L("spark.exec_busy_s") = (a.runMs / 1e3 / k, "s")
      L("spark.core_s") = (wall * cores / k, "s")
      L("spark.exec_busy_share") = (if (wall > 0) a.runMs / 1e3 / (wall * cores) else 0.0, "ratio")
      L("spark.gc_s") = (a.gcMs / 1e3 / k, "s")
      L("spark.input_bytes") = (a.inputBytes / k, "bytes")
      L("spark.output_bytes") = (a.outputBytes / k, "bytes")
      L("spark.shuffle_bytes") = (a.shuffleWriteBytes / k, "bytes")
      L("spark.spill_bytes") = (a.spillBytes / k, "bytes")
      Files.writeString(Paths.get(workDir, "spans.json"), ctx.tracer.json)
    }
    Files.writeString(Paths.get(arg("out")), result.json + "\n")
    spark.stop()
  }
}

object Session {
  /** The graft.Bench session: same master width, shuffle width and
    * engine extensions; every scratch path points into `workDir`. */
  def create(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def warm(spark: SparkSession, dataDir: String, tables: Seq[String]): Unit = {
    tables.foreach(t => graft.Tables.load(spark, dataDir, t).count())
    spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect()
  }

  /** Drop what a finished operation left cached, then collect it, so
    * the next operation's timer does not pay for it (graft.Bench's
    * sweep after each query). */
  def sweep(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
    Heap.collect()
  }
}

object Heap {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.toArray
    .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
    .filter(p => p.isCollectionUsageThresholdSupported && p.getName.toLowerCase.contains("old"))
  @volatile private var peak = 0L

  /** Records old-generation occupancy as it stood after the last GC. */
  def sample(): Unit = oldGen.foreach { p =>
    val u = p.getCollectionUsage
    if (u != null) peak = math.max(peak, u.getUsed)
  }
  def collect(): Unit = { System.gc(); sample() }
  def peakOldAfterGcMb: Double = { sample(); peak / (1024.0 * 1024.0) }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    (s((s.length - 1) / 2) + s(s.length / 2)) / 2
  }
}
