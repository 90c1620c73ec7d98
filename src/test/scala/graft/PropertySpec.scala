package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.dedup.Dedup
import graft.text.HeavyHitters
import graft.exec.{ScriptRunner, TimeKeeper}
import graft.sim.Similarity

/** ScalaCheck properties over the pure kernels (SURVEY §5 property plan). */
object GraftProps extends Properties("graft") {

  property("charHash stays in [0, 2^31-1) for any string") =
    forAll { (s: String) =>
      val h = Similarity.charHash(s)
      h >= 0L && h < Dedup.HashMod
    }

  property("plane numerators bounded and deterministic") =
    forAll(Gen.choose(0, 64), Gen.choose(1, 128)) { (p, d) =>
      val n = Similarity.planeNumerator(p, d)
      n >= -1000 && n <= 1000 && n == Similarity.planeNumerator(p, d)
    }

  property("env substitution replaces every ${VAR} occurrence") =
    forAll(Gen.identifier, Gen.alphaNumStr, Gen.alphaNumStr) { (k, v, tail) =>
      val script = s"run $${$k}/bin $${$k} $tail"
      val out = ScriptRunner.substituteEnv(script, Map(k -> v))
      !out.contains(s"$${$k}") && out == s"run $v/bin $v $tail"
    }

  property("env substitution is identity without matching vars") =
    forAll(Gen.alphaNumStr) { s =>
      ScriptRunner.substituteEnv(s, Map("PYANAMO" -> "/x")) == s
    }

  // JVM twin of Pipeline.redactPii's expression chain — java.util.regex IS
  // Spark's regexp_replace engine, so these properties hold for the operator
  private def redactJvm(s: String): String =
    graft.pipeline.Pipeline.PiiPatterns.foldLeft(s) { case (acc, (_, p, tok)) =>
      acc.replaceAll(p, java.util.regex.Matcher.quoteReplacement(tok))
    }

  private val genPii: Gen[String] = for {
    words <- Gen.listOfN(5, Gen.oneOf("alpha", "beta", "gamma", "delta"))
    user <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(8).mkString)
    n <- Gen.choose(0, 9999)
    ip <- Gen.choose(0, 255)
    pii <- Gen.someOf(
      s"$user@mail.example.com",
      f"555-867-$n%04d",
      s"10.0.$ip.7")
  } yield (words ++ pii).mkString(" ")

  property("PII redaction is idempotent and leaves nothing matchable") =
    forAll(genPii) { s =>
      val once = redactJvm(s)
      val matchable = graft.pipeline.Pipeline.PiiPatterns.exists { case (_, p, _) =>
        java.util.regex.Pattern.compile(p).matcher(once).find()
      }
      Prop(redactJvm(once) == once && !matchable) :| s"redacted=$once"
    }

  property("TimeKeeper window mean uses only the last 15 and sits in [min,max]") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0.0, 100.0))) { durations =>
      val tk = new TimeKeeper(1e9, clock = () => 0L)
      durations.foreach(tk.record)
      val lastW = durations.takeRight(TimeKeeper.DefaultWindow)
      val avg = tk.avgRecentSeconds
      Prop(avg >= lastW.min - 1e-9 && avg <= lastW.max + 1e-9) :| s"avg=$avg"
    }

  property("TimeKeeper forecast ≥ wall, and stop implies forecast or wall over limit") =
    forAll(Gen.choose(0L, 100L), Gen.listOf(Gen.choose(0.0, 50.0))) { (wallSec, ds) =>
      val tk = new TimeKeeper(60, clock = {
        var first = true
        () => if (first) { first = false; 0L } else wallSec * 1_000_000_000L
      })
      ds.foreach(tk.record)
      val ok = tk.forecastSeconds >= tk.wallSeconds - 1e-9
      val stopConsistent = !tk.shouldStop ||
        (tk.wallSeconds > 60 || tk.forecastSeconds > 60)
      ok && stopConsistent
    }

  property("Misra-Gries retains every item above n/(cap+1), merged or not") =
    forAll(Gen.listOf(Gen.choose(0, 30)), Gen.choose(4, 12),
        Gen.choose(0, 100)) { (xs, cap, cut0) =>
      val items = xs.map(i => s"i$i")
      val n = items.size
      // single-stream sketch
      val whole = items.foldLeft(
        scala.collection.mutable.HashMap.empty[String, Long])(
        (m, x) => HeavyHitters.mgUpdate(m, x, cap))
      // arbitrary split + merge
      val cut = if (n == 0) 0 else cut0 % (n + 1)
      val (l, r) = items.splitAt(cut)
      val merged = HeavyHitters.mgMerge(
        l.foldLeft(scala.collection.mutable.HashMap.empty[String, Long])(
          (m, x) => HeavyHitters.mgUpdate(m, x, cap)),
        r.foldLeft(scala.collection.mutable.HashMap.empty[String, Long])(
          (m, x) => HeavyHitters.mgUpdate(m, x, cap)),
        cap)
      val freq = items.groupBy(identity).view.mapValues(_.size.toLong)
      val heavy = freq.filter { case (_, c) => c * (cap + 1) > n }.keys.toSet
      heavy.forall(whole.contains) && heavy.forall(merged.contains) &&
        whole.size <= cap && merged.size <= cap
    }
}
