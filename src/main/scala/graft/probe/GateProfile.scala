package graft.probe

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev profiler for single gates (optimization guide §1: measure first).
  *
  * Runs each named gate through the noop sink with a stage listener and
  * prints, per stage: wall duration, task count, shuffle read/write bytes,
  * input bytes and output rows — the evidence that says WHERE a slow gate
  * spends its time (shuffle vs compute vs task-count floor) before any
  * change is made. Usage:
  *
  *   sbt "runMain graft.probe.GateProfile <sfDir> <gate1,gate2> [reps]"
  *
  * The first rep is warm-up (codegen/scan init) and is reported separately;
  * profile numbers come from the LAST rep on a warm session, matching the
  * bench's steady-median methodology.
  */
object GateProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GateProfile <sfDir> <gate1,gate2> [reps]")
    val sfDir = args(0)
    val gates = graft.SparkEntry.select(Some(args(1)))
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.SparkEntry.session("graft-gate-profile")

    final case class StageRow(id: Int, name: String, sec: Double, tasks: Int,
      shufReadMb: Double, shufWriteMb: Double, inputMb: Double, rows: Long)
    val stages = scala.collection.mutable.ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val dur = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield (c - s) / 1000.0).getOrElse(-1.0)
        // call-site attribution: AQE stage names are all the same lambda;
        // the first graft frame in `details` says which operator built it
        val site = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("GateProfile"))
          .map(_.trim.stripPrefix("at ").take(70)).getOrElse("")
        stages.synchronized {
          stages += StageRow(si.stageId,
            (si.name.takeWhile(_ != '\n').take(40) + " @ " + site).take(110),
            dur, si.numTasks,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.bytesRead / 1e6,
            m.outputMetrics.recordsWritten)
        }
      }
    }

    gates.foreach { case (gate, fn) =>
      var lastSec = 0.0
      (1 to reps).foreach { rep =>
        if (rep == reps) {
          stages.clear()
          spark.sparkContext.addSparkListener(listener)
        }
        spark.sparkContext.setJobDescription(s"$gate rep$rep")
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[$gate] rep$rep%s: $sec%.3f s")
        lastSec = sec
        if (rep == reps) {
          // let async stage-completed events drain before reading
          Thread.sleep(300)
          spark.sparkContext.removeSparkListener(listener)
        }
      }
      println(f"== $gate last-rep $lastSec%.3f s — stages by duration ==")
      println(f"${"sec"}%7s ${"tasks"}%5s ${"shR_MB"}%8s ${"shW_MB"}%8s ${"in_MB"}%8s  stage")
      stages.toSeq.sortBy(-_.sec).take(30).foreach { s =>
        println(f"${s.sec}%7.3f ${s.tasks}%5d ${s.shufReadMb}%8.2f ${s.shufWriteMb}%8.2f ${s.inputMb}%8.2f  [${s.id}] ${s.name}")
      }
      val tot = stages.map(_.sec).filter(_ > 0).sum
      println(f"stage-sec sum: $tot%.3f over ${stages.size} stages (parallel overlap not deducted)")
      println()
    }
    spark.stop()
  }
}
