package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into the program. Each
  * span has a name, start and end (epoch ms), its parent span and the
  * pipeline repetition (`run`) it belongs to. While a span is open its id
  * is the thread's `perfbench.span` Spark local property, so every Spark
  * job the call submits, including the jobs of a streaming query started
  * inside it, carries the span id to [[SparkTrace]].
  *
  * Recording is switched per repetition: when `on` is false `span` only
  * runs its body.
  */
final class Tracer(sc: SparkContext) {
  @volatile var on: Boolean = false
  @volatile var run: String = ""
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  val spans = new ConcurrentLinkedQueue[Map[String, Any]]()

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Innermost open span of this thread, for spans opened on a worker
    * thread that belong under a span of the calling thread.
    */
  def current: Int = open.get().headOption.getOrElse(0)

  def span[T](name: String, parent: Int = -1)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val par = if (parent >= 0) parent else stack.headOption.getOrElse(0)
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      open.set(id :: stack)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        spans.add(Map("id" -> id, "name" -> name, "parent" -> par,
          "run" -> run, "start_ms" -> start, "end_ms" -> end,
          "thread" -> Thread.currentThread().getName))
        open.set(stack)
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
      }
    }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Spark listener for traced runs: one record per job submitted inside a
  * span (the span, start and end) and one per completed stage of such a
  * job (timing, task count and summed task metrics).
  */
final class SparkTrace extends SparkListener {
  private val started = new ConcurrentHashMap[Int, (Long, String)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).foreach { span =>
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      started.put(e.jobId, (e.time, span))
      ()
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach { case (t0, span) =>
      jobs.add(Map("job" -> e.jobId, "span" -> span, "start_ms" -> t0, "end_ms" -> e.time))
      ()
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(job => stage(e.stageInfo, job))

  private def stage(si: StageInfo, job: Int): Unit = {
    val m = si.taskMetrics
    val mb = 1024.0 * 1024.0
    val base = Map[String, Any]("stage" -> si.stageId, "job" -> job,
      "start_ms" -> si.submissionTime.getOrElse(0L),
      "end_ms" -> si.completionTime.getOrElse(0L),
      "tasks" -> si.numTasks)
    val metrics =
      if (m == null) Map.empty[String, Any]
      else Map("task_s" -> m.executorRunTime / 1000.0,
        "gc_s" -> m.jvmGCTime / 1000.0,
        "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / mb,
        "shuffle_read_mb" ->
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / mb,
        "input_mb" -> m.inputMetrics.bytesRead / mb,
        "spill_mb" -> (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
    stages.add(base ++ metrics)
    ()
  }

  def records: (Seq[Map[String, Any]], Seq[Map[String, Any]]) =
    (jobs.asScala.toSeq, stages.asScala.toSeq)
}

/** Wall-time profile of the streaming dispatchers. Spark labels every
  * job of a streaming query with the query's start call site, so a job
  * cannot tell which program function inside `foreachBatch` submitted
  * it. Instead, while a traced repetition runs, this thread samples the
  * stack of every stream execution thread every `periodMs` and charges
  * the interval to the outermost `graft.*` function on it (see
  * [[StackSampler.attribute]]), per repetition. Driver-side work between
  * jobs (file listings, commits) is charged the same way.
  */
final class StackSampler(tracer: Tracer, periodMs: Long = 10) {
  private val acc = new ConcurrentHashMap[(String, String), java.lang.Double]()
  @volatile private var running = false
  private var thread: Thread = _

  def start(): Unit = {
    running = true
    thread = new Thread(() => loop(), "perfbench-stack-sampler")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = {
    running = false
    if (thread != null) thread.join()
  }

  private def loop(): Unit = {
    var last = System.nanoTime()
    var streams = Seq.empty[Thread]
    var tick = 0
    while (running) {
      // queries start and stop during a repetition: look for their
      // threads every 20 samples, sample only those in between
      if (tick % 20 == 0)
        streams = Thread.getAllStackTraces.keySet.asScala.toSeq
          .filter(_.getName.startsWith("stream execution thread"))
      tick += 1
      Thread.sleep(periodMs)
      val now = System.nanoTime()
      val dt = (now - last) / 1e9
      last = now
      streams.filter(_.isAlive).foreach { t =>
        val fn = StackSampler.attribute(
          t.getStackTrace.toSeq.map(e => s"${e.getClassName}.${e.getMethodName}"))
        acc.merge((tracer.run, fn), dt, (a, b) => a + b)
      }
    }
  }

  def records: Seq[Map[String, Any]] =
    acc.asScala.toSeq.map { case ((run, fn), s) => Map("run" -> run, "fn" -> fn, "s" -> s.doubleValue) }
}

object StackSampler {

  /** The outermost `graft.*` frame of a stack of `class.method` names
    * (innermost frame first),
    * ignoring the dispatcher's own closure in `StreamingRunner` so that
    * time spent under a public function it calls is charged to that
    * function. Time in the closure itself keeps the dispatcher's name;
    * a stack with no `graft.*` frame (the stream waiting for its next
    * trigger, or Spark's own bookkeeping) is charged to "".
    */
  def attribute(frames: Seq[String]): String = {
    val named = frames.filter(_.startsWith("graft.")).map(frameName)
    named.filterNot(_.startsWith("StreamingRunner.")).lastOption
      .orElse(named.lastOption).getOrElse("")
  }

  /** `graft.store.connector.WorkQueueLedger$.$anonfun$claim$1` →
    * `WorkQueueLedger.claim`.
    */
  def frameName(frame: String): String = {
    val dot = frame.lastIndexOf('.')
    val cls = frame.substring(0, math.max(dot, 0))
    val simple = cls.substring(cls.lastIndexOf('.') + 1).takeWhile(_ != '$')
    val raw = frame.substring(dot + 1)
    val method =
      if (raw.startsWith("$anonfun$")) raw.stripPrefix("$anonfun$").takeWhile(_ != '$')
      else raw.takeWhile(_ != '$')
    s"$simple.$method"
  }
}
