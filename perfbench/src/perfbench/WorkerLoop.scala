package perfbench

/** `worker_loop`: both worker paths of the system in one repetition,
  * the `queue_drain` pipeline (ledger dispatcher over queue files) and
  * then the `batch_run` pipeline (batch runner, log routing, mutations),
  * each ending in the Manager query set. Inputs, checks and counters are
  * those of the two parts; the repetition's units are their items.
  */
final class WorkerLoop(scale: Double) extends Workload {
  val name = "worker_loop"
  val unit = "items"
  private val parts = Seq(
    new QueueWorkload("queue_drain", dispatchers = 1, scale), new BatchRun(scale))

  def generate(ctx: Ctx, dir: String): Map[String, Any] =
    parts.flatMap { p =>
      val d = s"$dir/${p.name}"
      new java.io.File(d).mkdirs()
      p.generate(ctx, d).map { case (k, v) => s"${p.name}.$k" -> v }
    }.toMap

  def rep(ctx: Ctx, input: String, dir: String): (Long, Map[String, Any]) =
    parts.foldLeft((0L, Map.empty[String, Any])) { case ((units, extra), p) =>
      val (u, e) = p.rep(ctx, s"$input/${p.name}", s"$dir/${p.name}")
      (units + u, extra ++ e)
    }

  def after(ctx: Ctx, dir: String, traced: Boolean): Map[String, Any] =
    parts.map(p => p.after(ctx, s"$dir/${p.name}", traced)).foldLeft(Map.empty[String, Any]) {
      (acc, counters) => counters.foldLeft(acc) { case (a, (k, v)) =>
        a.updated(k, a.get(k).fold(Workload.number(v))(Workload.number(_) + Workload.number(v)))
      }
    }
}
