package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.queries.{JobStates, StateQueries}

/** The Manager query set, run by one client thread as a closed loop:
  * counts by state, progress histogram, completion check, todo listing
  * and the item↔job-state join. Answers are returned so that they are
  * checked after the timed pipeline ends.
  */
object Monitor {

  /** Answers derived from the generated inputs. `jobStates` is evaluated
    * after the pipeline, when the checks run.
    */
  final case class Expect(
      byState: Map[String, Long],
      buckets: Map[String, Long],
      completionRows: Long,
      todo: Long,
      jobStates: () => Map[String, Long])

  final case class Answers(
      byState: Seq[Map[String, Long]] = Nil,
      buckets: Seq[Map[String, Long]] = Nil,
      completion: Seq[Array[Row]] = Nil,
      todo: Seq[Long] = Nil,
      jobStates: Seq[Map[String, Long]] = Nil)

  private def counts(rows: Array[Row]): Map[String, Long] =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap

  def run(ctx: Ctx, items: DataFrame, jobs: DataFrame, loops: Int): Answers =
    (0 until loops).foldLeft(Answers()) { (a, _) =>
      val byState = ctx.query("queries.item_counter")(
        counts(StateQueries.itemCounter(items).collect()))
      val buckets = ctx.query("queries.progress_histogram")(
        counts(StateQueries.progressHistogram(items).collect()))
      val completion = ctx.query("queries.completion_check")(
        StateQueries.completionCheck(items).collect())
      val todo = ctx.query("queries.todo_items")(
        StateQueries.todoItems(items).collect().length.toLong)
      val jobStates = ctx.query("queries.job_state_counts")(
        counts(JobStates.jobStateCounts(items, jobs).collect()))
      Answers(a.byState :+ byState, a.buckets :+ buckets,
        a.completion :+ completion, a.todo :+ todo, a.jobStates :+ jobStates)
    }

  /** One check per answer: a wrong answer is a failed operation. */
  def verify(ctx: Ctx, a: Answers, e: Expect): Unit = {
    val rec = ctx.rec
    a.byState.foreach(m => rec.check("monitor.item_counter", m == e.byState,
      s"got $m, want ${e.byState}"))
    a.buckets.foreach(m => rec.check("monitor.progress_histogram", m == e.buckets,
      s"got $m, want ${e.buckets}"))
    a.completion.foreach(rows => rec.check("monitor.completion_check",
      rows.length == e.completionRows && rows.forall(_.getString(2) == "done"),
      s"got ${rows.length} rows ${rows.take(3).mkString(",")}, want ${e.completionRows} all done"))
    a.todo.foreach(n => rec.check("monitor.todo_items", n == e.todo,
      s"got $n, want ${e.todo}"))
    if (a.jobStates.nonEmpty) {
      val want = e.jobStates()
      a.jobStates.foreach(m => rec.check("monitor.job_state_counts", m == want,
        s"got $m, want $want"))
    }
  }
}
