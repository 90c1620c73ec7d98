package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** One benchmark workload. `generate` writes the seeded inputs (the
  * program sees only these files); `rep` is one timed pipeline
  * repetition and returns the units that reached a terminal state plus
  * per-repetition fields; `after` runs the correctness checks of the
  * repetition just timed and, when traced, returns its layer counters.
  */
trait Workload {
  def name: String
  def unit: String
  def generate(ctx: Ctx, dir: String): Map[String, Any]
  def rep(ctx: Ctx, input: String, dir: String): (Long, Map[String, Any])
  def after(ctx: Ctx, dir: String, traced: Boolean): Map[String, Any]
}

object Workload {

  /** `scale` 1 is the timed size. */
  def apply(name: String, scale: Double = 1.0): Workload = name match {
    case "worker_loop" => new WorkerLoop(scale)
    case "queue_drain" => new QueueWorkload(name, dispatchers = 1, scale)
    case "queue_contended" => new QueueWorkload(name, dispatchers = 2, scale)
    case "batch_run" => new BatchRun(scale)
    case "corpus_dedup" => new CorpusDedup(scale)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def number(v: Any): Double = v match {
    case n: Int => n.toDouble
    case n: Long => n.toDouble
    case d: Double => d
    case other => throw new IllegalArgumentException(s"not a counter: $other")
  }

  def writeLines(file: File, lines: Iterator[String]): Long = {
    file.getParentFile.mkdirs()
    val w = Files.newBufferedWriter(file.toPath, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    file.length()
  }

  /** Data files (not Spark's checksum or marker files) and their bytes. */
  def dataFiles(dir: File): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet") || f.getName.endsWith(".gz")) Seq(f)
      else Nil
    val fs = walk(dir)
    (fs.size.toLong, fs.map(_.length).sum)
  }

  def treeBytes(dir: File): Long =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.map(treeBytes).sum
    else dir.length()

  def fileCount(dir: File): Long =
    Option(dir.list()).map(_.count(!_.startsWith(".")).toLong).getOrElse(0L)
}
