package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** Copy the testdata events parquet into a fresh directory (file stream
    * sources need a directory) and open it as a stream with `ts` normalized
    * to TimestampType. The explicit schema a file stream requires is taken
    * from a batch read of the same file, so the helper works for both the
    * TIMESTAMP(NANOS) and TIMESTAMP(MICROS,NTZ) encodings the generator has
    * shipped (see [[graft.Tables.normalizeEventTs]]).
    */
  def eventsStream(prefix: String): org.apache.spark.sql.DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val evDir = java.nio.file.Files.createTempDirectory(prefix)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      evDir.resolve("events.parquet"))
    val fileSchema = spark.read.parquet(evDir.toString).schema
    Tables.normalizeEventTs(
      spark.readStream.schema(fileSchema).parquet(evDir.toString))
  }
}

object SparkSpec {
  // one session per JVM: suites share it, which keeps `sbt test` fast
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Run `f` on a [[SparkEntry.session]] — the extended session shape
    * every `main` runs under — over the shared context. getOrCreate hands
    * back the shared session, extensions ignored, unless the active and
    * default sessions are cleared first; both are restored after.
    */
  def withEntrySession[A](f: SparkSession => A): A = {
    val base = session
    val (prevActive, prevDefault) =
      (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(SparkEntry.session("graft-test-entry"))
    finally {
      SparkSession.setActiveSession(prevActive.getOrElse(base))
      SparkSession.setDefaultSession(prevDefault.getOrElse(base))
    }
  }
}
