package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one benchmark process hands back: repetitions, latency samples,
  * counters, correctness checks and operation counts. `run.py` turns it
  * into metrics.
  */
final class Record {
  val checks = new ConcurrentLinkedQueue[Map[String, Any]]()
  val errors = new ConcurrentLinkedQueue[String]()
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val samples = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  @volatile var attempted: Long = 0
  @volatile var failed: Long = 0

  def sample(kind: String, seconds: Double): Unit = {
    samples.computeIfAbsent(kind, _ => new ConcurrentLinkedQueue[Double]()).add(seconds)
    ()
  }

  /** One operation: counts as attempted, and as failed when `ok` is false. */
  def op(ok: Boolean): Unit = synchronized {
    attempted += 1
    if (!ok) failed += 1
  }

  /** A correctness check: an operation of its own, recorded by name. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    op(ok)
    checks.add(Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail)))
    ()
  }

  /** Drop the warm-up's latency samples. */
  def clearSamples(): Unit = samples.clear()

  def samplesMap: Map[String, Seq[Double]] =
    samples.asScala.map { case (k, v) => k -> v.asScala.toSeq }.toMap
}

/** Everything a workload needs while it runs. */
final case class Ctx(spark: SparkSession, cores: Int, seed: Long, tracer: Tracer, rec: Record) {

  /** A Manager query: timed into the `monitor` samples and wrapped in its
    * span. The caller checks the answer once the timed pipeline ends.
    */
  def query[T](name: String)(run: => T): T = {
    val t0 = System.nanoTime()
    val answer = tracer.span(name)(run)
    sample("monitor", (System.nanoTime() - t0) / 1e9)
    answer
  }

  def sample(kind: String, seconds: Double): Unit = rec.sample(kind, seconds)
}
