package graft.perfbench

trait Workload {
  /** Runs the workload on a set-up session, filling `res`; returns
    * the wall seconds of its timed region. */
  def run(ctx: Ctx, res: Result): Double
}

object Workloads {
  val byName: Map[String, Workload] = Map(
    "batch" -> BatchWorkload,
    "fraud_stream" -> FraudStreamWorkload)
}
