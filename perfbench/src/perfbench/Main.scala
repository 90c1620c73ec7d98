package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload run. `run.py` starts it, reads the
  * raw record it writes to `--out` and derives the metrics.
  *
  * Flow: Spark session at `local[cores]` with `cores` shuffle
  * partitions → inputs generated from the seed three times (the copies
  * must be byte-identical; the median time counts as set-up) → one
  * untimed warm-up repetition at a quarter of the size → timed
  * repetitions until `--seconds` have passed → checks after every
  * repetition, the warm-up's too.
  *
  * With `--trace 1` repetitions alternate untraced and traced: traced
  * ones record spans and Spark job and stage events, untraced ones give
  * the tracing overhead by comparison.
  */
object Main {

  /** Size of the untimed warm-up repetition, relative to the timed one:
    * its cost is mostly first use (class loading, code generation), and a
    * full-size one did not make the timed repetition steadier.
    */
  val WarmScale = 0.25

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = new File(opts("work")).getAbsolutePath
    val out = opts("out")
    val train = opts.get("train").toSeq.flatMap(_.split(","))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${workload.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val rec = new Record
    val tracer = new Tracer(spark.sparkContext)
    // registered for the whole run: the listener bus delivers events
    // after the fact, so detaching it per repetition would lose the last
    // jobs of a traced one; jobs of untraced repetitions carry no span and
    // are not recorded
    val sparkTrace = new SparkTrace
    if (trace) spark.sparkContext.addSparkListener(sparkTrace)
    val sampler = new StackSampler(tracer)
    val ctx = Ctx(spark, cores, seed, tracer, rec)
    val reps = Seq.newBuilder[Map[String, Any]]
    var inputStats = Map.empty[String, Any]
    var genS = Seq.empty[Double]
    var warmupS = 0.0
    var timedS = 0.0

    /** One pipeline repetition of `w` over `input`, then its checks. */
    def runRep(w: Workload, input: String, id: String, traced: Boolean): Map[String, Any] = {
      val dir = s"$work/$id"
      // every repetition starts from the same state: no blocks cached or
      // checkpointed by the one before, and a collected heap
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      tracer.run = id
      tracer.on = traced
      if (traced) sampler.start()
      val startMs = tracer.nowMs
      val t0 = System.nanoTime()
      val (units, extra) =
        try tracer.span("pipeline")(w.rep(ctx, input, dir))
        finally {
          if (traced) sampler.stop()
          tracer.on = false
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = tracer.nowMs
      rec.op(true)
      val counters = w.after(ctx, dir, traced)
      Map("id" -> id, "traced" -> traced, "wall_s" -> wall, "units" -> units,
        "start_ms" -> startMs, "end_ms" -> endMs, "counters" -> counters) ++ extra
    }

    if (train.nonEmpty) {
      // the class-loading run behind the class-data archive the build
      // writes: each registered workload once at warm-up size, the first
      // one traced
      train.zipWithIndex.foreach { case (name, k) =>
        val w = Workload(name, WarmScale)
        val dir = s"$work/train-$name"
        new File(dir).mkdirs()
        w.generate(ctx, dir)
        runRep(w, dir, s"train-$name", traced = k == 0)
      }
      spark.stop()
      return
    }

    try {
      genS = (0 until 3).map { i =>
        val t0 = System.nanoTime()
        val dir = s"$work/input-$i"
        new File(dir).mkdirs()
        inputStats = workload.generate(ctx, dir)
        (System.nanoTime() - t0) / 1e9
      }
      val digests = (0 until 3).map(i => digest(new File(s"$work/input-$i")))
      rec.check("inputs.deterministic", digests.distinct.size == 1,
        s"input digests differ: ${digests.mkString(",")}")
      val t0 = System.nanoTime()
      val warm = Workload(workload.name, WarmScale)
      new File(s"$work/input-warmup").mkdirs()
      warm.generate(ctx, s"$work/input-warmup")
      runRep(warm, s"$work/input-warmup", "warmup", traced = false)
      rec.clearSamples()
      warmupS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      var i = 0
      // traced runs alternate untraced and traced repetitions, at least
      // untraced, traced, untraced, and end on an untraced one, so that
      // warm-up drift over the run does not read as tracing overhead
      while ((System.nanoTime() - t1) / 1e9 < seconds || (trace && (i < 3 || i % 2 == 0))) {
        reps += runRep(workload, s"$work/input-0", s"rep-$i", traced = trace && i % 2 == 1)
        i += 1
      }
      timedS = (System.nanoTime() - t1) / 1e9
    } catch {
      case t: Throwable =>
        rec.op(false)
        rec.errors.add(s"${t.getClass.getName}: ${t.getMessage}")
        t.printStackTrace()
    }

    val (jobs, stages) = sparkTrace.records
    val record = Map(
      "workload" -> workload.name,
      "unit" -> workload.unit,
      "seed" -> seed,
      "trace" -> trace,
      "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "setup" -> Map("session_s" -> (sessionMs - jvmStartMs) / 1000.0,
        "generate_s" -> genS, "warmup_s" -> warmupS),
      "timed_s" -> timedS,
      "input" -> inputStats,
      "reps" -> reps.result(),
      "samples" -> rec.samplesMap,
      "progress" -> rec.progress.asScala.toSeq,
      "checks" -> rec.checks.asScala.toSeq,
      "errors" -> rec.errors.asScala.toSeq,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "spans" -> tracer.spans.asScala.toSeq,
      "jobs" -> jobs,
      "stages" -> stages,
      "profile" -> sampler.records,
      "peak_rss_mb" -> peakRssMb)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(out), record)
    spark.stop()
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Digest of the contents of every regular file under `dir`, ignoring
    * names (Spark names its output files with a random id).
    */
  def digest(dir: File): String = {
    def sha(bytes: Array[Byte]) =
      MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    sha(walk(dir).map(f => sha(Files.readAllBytes(f.toPath))).sorted.mkString
      .getBytes(StandardCharsets.UTF_8))
  }
}
