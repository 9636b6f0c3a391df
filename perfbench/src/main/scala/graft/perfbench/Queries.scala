package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** A frozen list of SparkEntry queries run back to back. Each query is
  * timed as graft.Bench.timeOnce times it: build the DataFrame
  * (construction, which may run eager jobs), then force it through the
  * noop sink (the action); the cache sweep and GC that follow stay
  * outside both timers. The seed fixes the order of the list for the
  * whole run.
  *
  * `warmUp` is an untimed pass that digests each output for the
  * harness to check; each `pass` returns its summed query seconds. */
final class Queries(ctx: Ctx, res: Result) {
  private val spark = ctx.spark
  private val all = graft.SparkEntry.queries
  private def short(n: String) = n.takeWhile(_ != '_')
  private val order = new scala.util.Random(ctx.seed).shuffle(ctx.param("queries").split(",").toSeq.map { q =>
    all.keys.find(short(_) == q).getOrElse(throw new IllegalArgumentException(s"no query $q"))
  })
  private val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var passes = 0
  private var construct, action, catalystMs = 0.0

  private def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def warmUp(): Unit = order.foreach { n =>
    res.attempted += 1
    try res.outputs(short(n)) = Digest.of(all(n)(spark, ctx.dataDir)).json
    catch { case t: Throwable => res.fail(s"${short(n)} check run failed: $t") }
    Session.sweep(spark)
  }

  def pass(): Double = {
    var pass = 0.0
    order.foreach { n =>
      res.attempted += 1
      val q = short(n)
      try {
        val c0 = System.nanoTime()
        val df = ctx.layer(s"construct.$q")(all(n)(spark, ctx.dataDir))
        val c1 = System.nanoTime()
        // the final plan's Catalyst time: what the planning tracker
        // reports for the executions of the action alone
        val before = ctx.counters.map { c => Counters.drain(spark); c.catalystMs }.getOrElse(0L)
        val a0 = System.nanoTime()
        ctx.layer(s"action.$q")(force(df))
        val a1 = System.nanoTime()
        ctx.counters.foreach { c => Counters.drain(spark); catalystMs += c.catalystMs - before }
        construct += (c1 - c0) / 1e9
        action += (a1 - a0) / 1e9
        val s = (c1 - c0 + a1 - a0) / 1e9
        pass += s
        perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
      } catch { case t: Throwable => res.fail(s"$q failed: $t") }
      Session.sweep(spark)
    }
    passes += 1
    Main.note(f"query pass: $pass%.3f s")
    pass
  }

  /** Per-layer numbers per pass (traced run only). */
  def finish(): Unit = ctx.counters.foreach { c =>
    Counters.drain(spark)
    val k = math.max(1, passes).toDouble
    val cons = c.sum(_.startsWith("construct."))
    val act = c.sum(_.startsWith("action."))
    val L = res.perLayer
    L("queries.construct_s") = (construct / k, "s")
    L("queries.construct_stages") = (cons.stages / k, "count")
    L("queries.construct_tasks") = (cons.tasks / k, "count")
    L("queries.action_s") = (action / k, "s")
    L("queries.action_stages") = (act.stages / k, "count")
    L("queries.action_tasks") = (act.tasks / k, "count")
    L("queries.catalyst_ms") = (catalystMs / k, "ms")
    perQuery.foreach { case (q, xs) =>
      L(s"query.$q.s") = (Stats.median(xs.toSeq), "s")
      L(s"query.$q.construct_stages") = (c.sum(_ == s"construct.$q").stages / k, "count")
      L(s"query.$q.action_stages") = (c.sum(_ == s"action.$q").stages / k, "count")
    }
  }
}
