package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** The engine's batch side in one closed loop. One operation is a
  * refresh of the paper's medallion DAG (telecom.Pipeline.runAll)
  * followed by a pass over the frozen SparkEntry queries, the
  * turnaround from fresh call data to the analysts' answers. Both are
  * warmed up (and their outputs digested) before the timed region.
  * Operations run until the run time is spent, and another one starts
  * only if it should end within it.
  *
  * `latency_ms` is the median operation; `throughput_per_s` is call
  * events per second of the median runAll, so a query-side change
  * moves only the first. */
object BatchWorkload extends Workload {
  def run(ctx: Ctx, res: Result): Double = {
    val medallion = new Medallion(ctx, res)
    val queries = new Queries(ctx, res)
    medallion.warmUp()
    queries.warmUp()
    ctx.counters.foreach { c => Counters.drain(ctx.spark); c.reset() }

    val ops = ArrayBuffer.empty[Double]
    val runAlls = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (ops.isEmpty || elapsed + Stats.median(ops.toSeq) <= ctx.seconds) {
      val m = medallion.timed()
      ops += m + queries.pass()
      runAlls += m
    }
    val wall = elapsed
    res.ops = ops.size
    res.engine = ctx.engineCounters()
    medallion.finish()
    queries.finish()

    res.endToEnd("latency_ms") = (Stats.median(ops.toSeq) * 1e3, "ms")
    res.endToEnd("throughput_per_s") = (medallion.calls / Stats.median(runAlls.toSeq), "1/s")
    wall
  }
}
