package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.telecom.Pipeline

/** The paper's own DAG: telecom.Pipeline.runAll (bronze → silver →
  * gold → DQ gate → serving), each run into a fresh output directory.
  * `warmUp` is an untimed run (the cold run is about a third slower
  * than a warm one); each `timed` run returns its wall seconds.
  *
  * runAll is one call, so the traced run splits it by Spark's own
  * SQL execution events: a write execution names its table by output
  * path, the executions up to it belong to that table, the executions
  * the gate runs are called from telecom.Checks, and what follows the
  * gate is the serving query. Each table's span runs from the end of
  * the previous one to the end of its last execution, so the spans
  * tile the run and runAll's self time is the driver work between
  * them. */
final class Medallion(ctx: Ctx, res: Result) {
  import Medallion._

  private val spark = ctx.spark
  val calls: Int = ctx.param("calls").toInt
  private var n = 0
  private var last: String = null
  private var attributed = -1L
  private val layerRuns = ArrayBuffer.empty[Map[String, Double]]

  private def once(timed: Boolean): (Seq[Pipeline.TableRun], String, String, Double) = {
    n += 1
    val out = s"${ctx.workDir}/medallion/run$n"
    val t0 = System.nanoTime()
    val (manifest, status) =
      if (timed) ctx.layer("medallion.runAll")(Pipeline.runAll(spark, out, calls))
      else Pipeline.runAll(spark, out, ctx.params.get("warm_calls").map(_.toInt).getOrElse(calls))
    (manifest, status, out, (System.nanoTime() - t0) / 1e9)
  }
  private def check(manifest: Seq[Pipeline.TableRun], status: String): Unit = {
    res.attempted += 1 + manifest.size
    if (status != "HEALTHY") res.fail(s"pipeline status $status")
    manifest.foreach(t => res.outputs(s"rows.${t.table}") = t.rows.toString)
  }
  private def clean(dir: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  def warmUp(): Unit = {
    val (m, st, out, s) = once(timed = false)
    Main.note(f"warm-up runAll: $s%.3f s")
    check(m, st)
    clean(out)
    Session.sweep(spark)
  }

  /** One timed runAll; the previous run's output is removed and the
    * caches swept outside the timer. */
  def timed(): Double = {
    if (last != null) clean(last)
    val (m, st, out, s) = once(timed = true)
    Main.note(f"runAll: $s%.3f s")
    check(m, st)
    ctx.counters.foreach(c => layerRuns += attribute(c, m))
    last = out
    Session.sweep(spark)
    s
  }

  /** Checks the last timed run's gold outputs and serving refresh
    * (outside the timers) and reports the per-layer medians. */
  def finish(): Unit = {
    Seq("fact_calls", "agg_tower_hourly_utilization", "agg_customer_monthly_summary").foreach { t =>
      try res.outputs(s"digest.$t") = Digest.of(spark.read.parquet(s"$last/$t")).json
      catch { case e: Throwable => res.fail(s"digest of $t failed: $e") }
    }
    val manifestJson = new String(Files.readAllBytes(Paths.get(last, "run_manifest.json")), "UTF-8")
    if (!manifestJson.contains("\"refreshed\": true")) res.fail("serving refresh skipped")
    clean(last)
    layerRuns.flatMap(_.keys).distinct.foreach { k =>
      val unit = if (k.endsWith(".s") || k.endsWith("_s")) "s"
        else if (k.endsWith("bytes") || k.endsWith("written")) "bytes" else "count"
      res.perLayer(k) = (Stats.median(layerRuns.map(_.getOrElse(k, 0.0)).toSeq), unit)
    }
  }

  /** Per-layer numbers of the run just finished, from its SQL
    * executions (see the class comment), plus its spans. */
  private def attribute(c: Counters, manifest: Seq[Pipeline.TableRun]): Map[String, Double] = {
    Counters.drain(spark)
    val execs = c.finishedExecutions.filter(x => x.layer == "medallion.runAll" && x.id > attributed)
    attributed = (attributed +: execs.map(_.id)).max
    val root = ctx.tracer.all.filter(_.name == "medallion.runAll").last
    val wallToNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    def ns(ms: Long) = ms * 1000000L + wallToNs
    // owner of each execution: a write names its table, a read-back of
    // the table just written belongs to it, the gate's executions are
    // called from telecom.Checks, what follows the gate is serving, and
    // anything else builds the next table written
    val owner = Array.fill(execs.size)("serving")
    var current = ""
    var pending = List.empty[Int]
    var gate = false
    execs.zipWithIndex.foreach { case (x, i) =>
      val written = WriteTarget.findFirstMatchIn(x.plan).map(_.group(1)).filter(Pipeline.lineage.contains)
      if (written.isDefined) {
        current = written.get
        (i :: pending).foreach(owner(_) = current)
        pending = Nil
      } else if (x.description.contains("Checks.scala")) { gate = true; owner(i) = "gate" }
      else if (gate) owner(i) = "serving"
      else if (current.nonEmpty && (x.plan.contains(s"/$current]") || x.plan.contains(s"/$current,"))) owner(i) = current
      else pending ::= i
    }

    // contiguous spans in execution order, each closing at the end of
    // its owner's last execution
    val order = owner.toSeq.distinct
    var from = root.startNs
    val spanSec = order.map { o =>
      val end = ns(execs.zip(owner).filter(_._2 == o).map(_._1.endMs).max)
      val name = o match {
        case "gate" | "serving" => o
        case t => s"${layerOf(t)}.$t"
      }
      val clipped = math.min(math.max(end, from), root.endNs)
      ctx.tracer.record(name, root, from, clipped)
      val s = (clipped - from) / 1e9
      from = clipped
      o -> s
    }.toMap
    def aggOf(p: String => Boolean): Agg =
      execs.zip(owner).filter(e => p(e._2)).foldLeft(new Agg)((a, e) => a += c.ofExecution(e._1.id))
    def isLayer(l: String)(o: String) = o != "gate" && o != "serving" && layerOf(o) == l
    val rows = manifest.map(t => t.table -> t.rows.toDouble).toMap
    val bronze = aggOf(isLayer("bronze"))
    val silver = aggOf(isLayer("silver"))
    val gold = aggOf(isLayer("gold"))
    val checks = aggOf(_ == "gate")
    def sec(p: String => Boolean) = spanSec.filter(e => p(e._1)).values.sum
    val goldTables = Pipeline.lineage.keys.filter(isLayer("gold")).toSeq.sorted
    Map(
      "medallion.runAll_self_s" -> ctx.tracer.selfSeconds(root),
      "bronze.s" -> sec(isLayer("bronze")),
      "bronze.rows" -> rows.filter(_._1.startsWith("bronze_")).values.sum,
      "bronze.bytes_written" -> bronze.outputBytes.toDouble,
      "silver.s" -> sec(isLayer("silver")),
      "silver.rows_in" -> rows.filter(_._1.startsWith("bronze_")).values.sum,
      "silver.rows_out" -> rows.filter(_._1.startsWith("silver_")).values.sum,
      "silver.shuffle_bytes" -> silver.shuffleWriteBytes.toDouble,
      "gold.s" -> sec(isLayer("gold")),
      "gold.shuffle_bytes" -> gold.shuffleWriteBytes.toDouble,
      "gold.bytes_written" -> gold.outputBytes.toDouble,
      "gate.s" -> sec(_ == "gate"),
      "gate.jobs" -> checks.jobs.toDouble,
      "serving.s" -> sec(_ == "serving"),
    ) ++ goldTables.map(t => s"gold.$t.s" -> spanSec.getOrElse(t, 0.0))
  }
}

object Medallion {
  private val WriteTarget = """Arguments: file:\S*/(\w+), """.r

  private def layerOf(table: String): String =
    if (table.startsWith("bronze_")) "bronze"
    else if (table.startsWith("silver_")) "silver"
    else "gold"
}
