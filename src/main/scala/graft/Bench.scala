package graft

/** Benchmark main (driver contract): runs every registered query against
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line with total + per-query
  * seconds, on the [[SparkEntry.session]] shape (local[32] + 32 shuffle
  * partitions + AQE by default: the target deployment scaled down to one
  * node).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // comma-separated allowlist for quick single-query iteration
    val gates = SparkEntry.select(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val spark = SparkEntry.session("graft-bench")
    // median of 3 runs per query: the first run pays JVM/codegen warm-up
    // (and whichever query sorts first pays session init), which made
    // round-over-round per-query deltas lie by 2-3x; the median is the
    // steady-state number. Override for quick local iteration.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // The graph gates share a parquet-materialized pair substrate
    // (Graph.pairSupport) built once per (session, sfDir). Its one-time
    // build is timed HERE as its own entry so the amortization across the
    // graph family is explicit in the artifact (the DuckDB comparison
    // recomputes the substrate per query) rather than hidden inside
    // whichever graph query happens to run first.
    val graphGates = Set("q_triangles", "q_pagerank", "q_components",
      "q_kcore", "q_copurchase_pairs", "q_bfs_levels")
    // Idle-settle guard: rounds 7-9 proved the driver session carries
    // external load that swings identical binaries up to 6.5x per query
    // (r8->r9 ran the SAME code; q3 moved 0.73->4.79 s). Before anything is
    // timed, run a fixed probe until two consecutive runs agree within 25%
    // (or the attempt budget runs out) so measurement starts on a quiet,
    // warm JVM; the probe trace is persisted so a noisy round is diagnosable
    // from the artifact alone. Doubles as JVM/codegen/scan warm-up for the
    // one-shot substrate timing below.
    val settleTrace = {
      def probe(): Double = {
        val t0 = System.nanoTime()
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .selectExpr("sum(l_quantity)", "count(distinct l_returnflag)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      val trace = scala.collection.mutable.ArrayBuffer(probe())
      var settled = false
      while (!settled && trace.length < 8) {
        trace += probe()
        val (a, b) = (trace(trace.length - 2), trace.last)
        settled = math.abs(a - b) <= 0.25 * math.max(a, b)
      }
      trace.toSeq
    }
    val substrateEntry =
      if (gates.exists { case (name, _) => graphGates(name) }) {
        // the settle guard above already paid session warm-up; without it a
        // single-shot entry timed first absorbs all JVM/codegen/scan init
        // (measured ~4 s of the 8.2 s attributed to the build in r8)
        val t0 = System.nanoTime()
        graft.analytics.Graph.buildSubstrate(spark, sfDir)
        Seq("graph_substrate_build" -> (System.nanoTime() - t0) / 1e9)
      } else Seq.empty
    // median over the non-warm-up reps (rep 1 pays codegen/scan init);
    // lower-middle for even counts, so a single slow outlier among the
    // steady reps can never become the reported number
    def steadyMedian(times: Seq[Double]): Double = {
      val steady = (if (times.length > 1) times.tail else times).sorted
      steady((steady.length - 1) / 2)
    }
    def spread(times: Seq[Double]): Double = {
      val steady = if (times.length > 1) times.tail else times
      if (steady.min <= 0) Double.PositiveInfinity else steady.max / steady.min
    }
    val perRep = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    // noop sink, not count(): under count() Catalyst prunes unused
    // output columns and can eliminate whole aggregate subtrees above
    // the counted rows (measured 4x flattering on the profile-sketch
    // gate, whose HLL registers only feed output columns). The DuckDB
    // comparison fetches full results, so the honest number is full
    // execution with the output discarded.
    def runOnce(name: String, fn: SparkEntry.Gate): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          // failures are flagged as -1 so they can't masquerade as fast
          // successes (any failed rep fails the query)
          -1.0
      }
    }
    val results = substrateEntry.map { case (n, t) =>
      perRep(n) = Seq(t); n -> t
    } ++ gates.sortBy(_._1).map { case (name, fn) =>
      def rep(): Double = runOnce(name, fn)
      val original = (1 to reps).map(_ => rep())
      // heavy or unstable gates get extra reps: a >=1s query whose steady
      // reps disagree by >1.5x is still riding noise — two more samples
      // make the median robust to one bad rep
      var times = original
      if (reps >= 3 && !original.contains(-1.0) && steadyMedian(original) >= 1.0 &&
          spread(original) > 1.5) {
        times = original ++ (1 to 2).map(_ => rep())
      }
      perRep(name) = times
      // a gate fails only if an ORIGINAL rep failed: a transient failure in
      // a stabilizing EXTRA rep must not erase the valid measurements it
      // was added to protect — the median computes over successful reps
      val median =
        if (original.contains(-1.0)) -1.0
        else steadyMedian(times.filter(_ >= 0))
      name -> median
    }
    // 3-decimal seconds: ms resolution is below bench noise, and it
    // halves the JSON line the driver must capture intact
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3,
        BigDecimal.RoundingMode.HALF_UP).toString
    // Regression tripwire: compare each steady median to the previous
    // round's artifact (SPARK_GRAFT_BENCH_PREV, else the newest
    // BENCH_LOCAL_r*.json in cwd — the full per-query artifact; the
    // driver's BENCH_r*.json wrapper carries only the totals line) and
    // self-report >1.5x movers with both values — no one should have to
    // diff round tails by hand. Sub-half-second queries are exempt (that
    // band is scheduling noise, not plans).
    // default output name is stamped with core count + wall time so a later
    // run (e.g. the driver's low-core scaling pass) never clobbers the full
    // per-query results of an earlier one — r17's c8 run destroyed the
    // 32-core artifact, which emptied the driver's PERF per-query table.
    // An explicit SPARK_GRAFT_BENCH_OUT still pins the name exactly.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_out_c${SparkEntry.cpus}_${new java.text.SimpleDateFormat("yyyyMMdd-HHmmss")
        .format(new java.util.Date())}.json")
    val prevFile: Option[String] = sys.env.get("SPARK_GRAFT_BENCH_PREV")
      .orElse {
        val R = "BENCH_LOCAL_r(\\d+)\\.json".r
        // this run's own output (a re-run within the round) must not be
        // its comparison base — a self-compare reports zero regressions
        val self = new java.io.File(outPath).getName
        Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
          .flatMap(f => f.getName match {
            case R(n) if f.getName != self => Some(n.toInt -> f.getName)
            case _ => None
          })
          // numeric round order — lexicographic would rank r8 above r10
          .sortBy(_._1).lastOption.map(_._2)
      }
    val prevQueries: Map[String, Double] = prevFile.flatMap { p =>
      try {
        val txt = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
          java.nio.charset.StandardCharsets.UTF_8)
        org.json4s.jackson.JsonMethods.parse(txt) \ "queries" match {
          case org.json4s.JObject(fields) => Some(fields.collect {
            case (k, org.json4s.JDouble(v)) => k -> v
            case (k, org.json4s.JInt(v)) => k -> v.toDouble
            case (k, org.json4s.JLong(v)) => k -> v.toDouble
            case (k, org.json4s.JDecimal(v)) => k -> v.toDouble
          }.toMap)
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }.getOrElse(Map.empty)
    // Two-stage tripwire (VERDICT r14 task 7 — the naive 1.5x wire fired
    // on load noise in r11/r13/r14 and real regressions drowned in
    // adjudications):
    //  1. DRIFT-NORMALIZE — machine load moves the whole board together
    //     (r14: median 1.076x on untouched code), so the wire is 1.5x the
    //     prev value TIMES the board's median cur/prev ratio (floored at
    //     1.0 so a faster machine never hides a real regression).
    //  2. SCOPED A/B RECHECK — each gate still over the bar is re-measured
    //     NOW with 3 fresh reps (same binary, same session, after the
    //     sweep's load transients): only a recheck median still over the
    //     bar is reported. The artifact carries prev, sweep cur, recheck,
    //     and the drift used — an adjudication cites its A/B, not a
    //     blanket drift claim.
    // drift from a TRIMMED set (r15 ADVICE #3): gates already over the
    // raw 1.5x bar are excluded from the estimate — a change that
    // genuinely regresses most of the board by a common factor must not
    // normalize itself into silence — and the multiplier is capped at
    // 1.2x so a board-wide slowdown still trips the wire loudly. Load
    // noise observed on this box moves the board ~1.05-1.1x; a real
    // shared-operator regression moves it 1.5x+, which the cap preserves.
    val driftSamples = results.flatMap { case (k, v) =>
      prevQueries.get(k).collect {
        case p if p >= 0.2 && v >= 0 && v <= 1.5 * p => v / p
      }
    }.sorted
    val drift =
      if (driftSamples.isEmpty) 1.0
      else math.min(1.2,
        math.max(1.0, driftSamples((driftSamples.length - 1) / 2)))
    def wire(p: Double): Double = 1.5 * p * drift
    val gateFns = SparkEntry.queries
    val regressions = results.flatMap { case (k, v) =>
      prevQueries.get(k).collect {
        case p if v >= 0.5 && p > 0 && v > wire(p) =>
          val recheck = gateFns.get(k) match {
            case Some(fn) =>
              val ts = (1 to 3).map(_ => runOnce(k, fn)).filter(_ >= 0)
              if (ts.isEmpty) v else steadyMedian(ts)
            case None => v // substrate entry: no per-gate fn to re-run
          }
          k -> (p, recheck)
      }.filter { case (_, (p, recheck)) => recheck > wire(p) }
        .map { case (k2, (p, recheck)) =>
          k2 -> s"""{"prev":${fmt(p)},"cur":${fmt(v)},"recheck":${
            fmt(recheck)},"drift":${fmt(drift)}}"""
        }
    }
    val regressionsJson = regressions
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val regressVs = prevFile.filter(_ => prevQueries.nonEmpty).getOrElse("none")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val settleJson = settleTrace.map(fmt).mkString("[", ",", "]")
    val repsJson = perRep.map { case (k, v) =>
      "\"" + k + "\":" + v.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val totalsLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_reps":$reps,"n_queries":${results.size},"full_results_file":"$outPath","sf":"$sfDir"}"""
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_reps":$reps,"method":"steady_median_excl_warmup_rep;extra_reps_on_unstable_heavy_gates;graph_substrate_build_timed_once;full_execution_noop_sink_not_count","settle_probe_sec":$settleJson,"regressions_vs":"$regressVs","regressions":$regressionsJson,"queries":$qs,"per_rep_sec":$repsJson,"sf":"$sfDir"}"""
    // The driver captures only the TAIL of sbt output, and with 150+
    // queries the single JSON line grows past the capture window —
    // round 5's artifact lost its opening brace and parsed as null.
    // Defenses: (1) persist the full JSON to a file next to the repo,
    // (2) print a short totals-only JSON line FIRST and LAST so both a
    // head- and a tail-truncated capture contain a complete parseable
    // object, (3) build.sbt routes forked run output raw to stdout, so
    // none of these lines carries sbt's "[info] " prefix.
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(totalsLine)
    println(json)
    println(totalsLine)
    spark.stop()
  }
}
