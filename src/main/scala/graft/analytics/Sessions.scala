package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Gap-based sessionization of the events stream — the canonical
  * user-behavior operator the reference's event surface
  * (`/root/reference/code/monitor.py` progress snapshots over time) never
  * grew but any analytics engine needs: group each user's events into
  * sessions separated by >= `gap` of inactivity, then aggregate per session.
  *
  * All time arithmetic happens in epoch-MICROSECOND longs (`unix_micros`),
  * never raw file-encoded units (the events parquet has shipped as both
  * TIMESTAMP(NANOS) and TIMESTAMP(MICROS); see [[graft.Tables.events]]) and
  * never doubles — so the session boundary decision is exact integer
  * comparison, bit-identical in any engine.
  *
  * The break rule is `delta >= gap` (an event exactly `gap` later starts a
  * new session), which is precisely Structured Streaming's
  * `session_window(ts, gap)` merge rule, so a streaming `session_window`
  * aggregation over the same events produces the same sessions.
  *
  * Scale shape: ONE shuffle on user_id; the lag + running-sum window and
  * the final per-session aggregation share that partitioning (the groupBy
  * keys are prefixed by user_id, so AQE keeps it local). No driver-side
  * anything; session count per user is unbounded but each aggregation row
  * is O(1) state.
  */
object Sessions {

  val DefaultGapMicros: Long = 30L * 60 * 1000 * 1000 // 30 minutes

  /** Gap used by the gate: the synthetic events cadence has a ~7 h median
    * inter-event gap per user, so the web-canonical 30 min would degenerate
    * to one session per event; one day groups ~9 events/session and
    * exercises both the merge and the break branch on every user.
    */
  val GateGapMicros: Long = 24L * 60 * 60 * 1000 * 1000 // 1 day

  /** One row per (user, session): ordinal session index, event count,
    * start/end in epoch micros, exact decimal-summed value total.
    */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, valueCol: String,
      gapMicros: Long = DefaultGapMicros): DataFrame = {
    val wOrd = Window.partitionBy(userCol).orderBy(col("us"), col(idCol))
    events
      .select(col(userCol).as("user_id"), col(idCol).as("event_id"),
        unix_micros(col(tsCol)).as("us"), col(valueCol).as("value"))
      .withColumn("new_sess",
        when(col("us") - lag("us", 1).over(
          Window.partitionBy("user_id").orderBy(col("us"), col("event_id")))
          >= gapMicros, 1L).otherwise(0L))
      .withColumn("sess_idx",
        sum("new_sess").over(
          Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_idx"))
      .agg(count(lit(1)).as("n_events"),
        min("us").as("start_us"), max("us").as("end_us"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
  }

  /** Markov transition counts between consecutive event types WITHIN a
    * session (same gap rule as [[sessionize]]: a gap ≥ `gapMicros` breaks
    * the chain, so no transition crosses a session boundary). Output: one
    * row per observed (from, to) pair with its count, the from-type's
    * outgoing total, and the transition probability — counts and totals
    * exact integers, the probability one IEEE division. Plan: the per-user
    * lag window (one shuffle, shared with sessionization in a combined
    * pipeline) then a tiny (|types|²-bounded) aggregate.
    */
  def sessionTransitions(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String,
      gapMicros: Long = DefaultGapMicros): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val hops = events
      .select(col(userCol).as("user_id"), col(idCol).as("event_id"),
        unix_micros(col(tsCol)).as("us"), col(typeCol).as("etype"))
      .withColumn("prev_type", lag("etype", 1).over(w))
      .withColumn("prev_us", lag("us", 1).over(w))
      .filter(col("prev_type").isNotNull &&
        col("us") - col("prev_us") < gapMicros)
    val counts = hops
      .groupBy(col("prev_type").as("from_type"), col("etype").as("to_type"))
      .agg(count(lit(1)).as("n"))
    // totals as a window over the |types|²-bounded count table — NOT a
    // self-join back (which would re-execute the corpus-sized lag window
    // for each consumer; this was measured 2× at the 10× probe)
    counts
      .withColumn("n_from",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .withColumn("p", col("n").cast("double") / col("n_from").cast("double"))
      .select("from_type", "to_type", "n", "n_from", "p")
  }

  /** Union of overlapping/adjacent intervals per key — the coverage
    * question sessionization can't answer (sessions split on GAPS between
    * points; intervals carry their own extents and can nest or chain).
    * The classic sweep, distributed: per key order intervals by (start,
    * id), compute the running max end over STRICTLY PRECEDING rows (an
    * interval starts a new merged block iff its start exceeds that), and
    * the block id is the running sum of those break flags — the same
    * one-window-partition machinery as [[sessionize]], so one shuffle.
    * Returns per-key totals: merged-block count and exact covered
    * micros (Σ block extents — overlap never double-counts). All integer
    * arithmetic on epoch micros.
    */
  def intervalCoverage(intervals: DataFrame, keyCol: String,
      startCol: String, endCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy("key").orderBy(col("s"), col("iid"))
    val prevMax = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val blocks = intervals
      .select(col(keyCol).as("key"), col(startCol).as("s"),
        col(endCol).as("e"), col(idCol).as("iid"))
      .withColumn("brk",
        when(col("s") > coalesce(prevMax, lit(Long.MinValue)), 1L).otherwise(0L))
      .withColumn("blk", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("key"), col("blk"))
      .agg(min(col("s")).as("bs"), max(col("e")).as("be"))
    blocks.groupBy(col("key"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("be") - col("bs")).as("covered_us"))
  }

  /** Interval-overlap join WITHOUT range explosion: pairs of intervals
    * (one from each side, same key) that overlap in time. The naive theta
    * join (`a.s < b.e AND b.s < a.e`) has no equi component beyond the
    * key — on a hot key it degenerates to a per-key cross product. The
    * scale form bins each interval onto a fixed time grid (an interval
    * covers ⌈span/G⌉+1 cells — bounded when durations are), equi-joins on
    * (key, cell), dedups the (a, b) id pairs, and re-verifies the exact
    * overlap predicate: two intervals overlap iff they share a covered
    * cell AND pass the predicate, so the result is exact by construction
    * (cell co-residence is a superset of overlap; the residual filter
    * removes same-cell-but-disjoint pairs). Returns per-key overlap-pair
    * counts.
    */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame, keyCol: String,
      startCol: String, endCol: String, idCol: String,
      gridMicros: Long): DataFrame = {
    def cells(side: DataFrame, tag: String): DataFrame =
      side.select(col(keyCol).as("key"), col(idCol).as(s"${tag}_id"),
        col(startCol).as(s"${tag}_s"), col(endCol).as(s"${tag}_e"))
        .withColumn("cell", explode(sequence(
          expr(s"${tag}_s div $gridMicros"),
          // end is exclusive: the last covered cell holds e-1
          expr(s"(${tag}_e - 1) div $gridMicros"))))
    cells(a, "a").join(cells(b, "b"), Seq("key", "cell"))
      .filter(col("a_s") < col("b_e") && col("b_s") < col("a_e"))
      .select("key", "a_id", "b_id").distinct()
      .groupBy(col("key")).agg(count(lit(1)).as("n_overlaps"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_interval_overlap" -> ((s, d) => {
      def side(tpe: String) = Tables.events(s, d)
        .filter(col("event_type") === tpe)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("s0"),
          (unix_micros(col("ts")) +
            (col("value").cast("decimal(18,4)") * 60000000).cast("long"))
            .as("e0"))
        .filter(col("e0") > col("s0"))
      intervalOverlapJoin(side("view"), side("purchase"), "user_id",
        "s0", "e0", "event_id", 3600L * 1000000)
        .orderBy("key")
    }),
    "evt_interval_coverage" -> ((s, d) => {
      // events as intervals: [ts, ts + value minutes) on the micros grid
      val iv = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("s0"),
          (unix_micros(col("ts")) +
            (col("value").cast("decimal(18,4)") * 60000000).cast("long"))
            .as("e0"))
        .filter(col("e0") > col("s0")) // negative/zero durations drop
      intervalCoverage(iv, "user_id", "s0", "e0", "event_id")
        .orderBy("key")
    }),
    "evt_sessions" -> ((s, d) =>
      sessionize(Tables.events(s, d), "user_id", "ts", "event_id", "value",
        GateGapMicros)
        .orderBy("user_id", "sess_idx")),
    "evt_transitions" -> ((s, d) =>
      sessionTransitions(Tables.events(s, d), "user_id", "ts", "event_id",
        "event_type", GateGapMicros)
        .orderBy("from_type", "to_type")))

  /** DuckDB twin: identical lag/running-sum/aggregate chain over
    * `epoch_us(ts)`. `epoch_us` yields the same micros whether the events
    * view carries TIMESTAMP_NS (floored, matching the Spark-side
    * `ts div 1000` load path) or TIMESTAMP micros (identity), so the oracle
    * tracks [[graft.Tables.normalizeEventTs]] for either file encoding.
    */
  val oracles: Map[String, String] = Map(
    "evt_sessions" -> s"""
      |WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
      |f AS (SELECT *, CASE WHEN us - lag(us) OVER
      |        (PARTITION BY user_id ORDER BY us, event_id) >= ${GateGapMicros}
      |        THEN 1 ELSE 0 END AS new_sess
      |      FROM e),
      |s AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
      |        ORDER BY us, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx
      |      FROM f)
      |SELECT user_id, sess_idx, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  MIN(us) AS start_us, MAX(us) AS end_us,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, sess_idx
      |ORDER BY user_id, sess_idx""".stripMargin,
    // the oracle uses the DIRECT theta join the binned form replaces —
    // two algorithms, identical pair sets
    "evt_interval_overlap" -> s"""
      |WITH iv AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS s,
      |    epoch_us(ts) + CAST(CAST(value AS DECIMAL(18,4)) * 60000000 AS BIGINT) AS e
      |  FROM events),
      |f AS (SELECT * FROM iv WHERE e > s),
      |a AS (SELECT user_id, event_id, s, e FROM f WHERE event_type = 'view'),
      |b AS (SELECT user_id, event_id, s, e FROM f WHERE event_type = 'purchase')
      |SELECT a.user_id AS key, CAST(COUNT(*) AS BIGINT) AS n_overlaps
      |FROM a JOIN b ON a.user_id = b.user_id AND a.s < b.e AND b.s < a.e
      |GROUP BY 1 ORDER BY key""".stripMargin,
    "evt_interval_coverage" -> s"""
      |WITH iv AS (SELECT user_id AS key, event_id AS iid,
      |    epoch_us(ts) AS s,
      |    epoch_us(ts) + CAST(CAST(value AS DECIMAL(18,4)) * 60000000 AS BIGINT) AS e
      |  FROM events),
      |f AS (SELECT * FROM iv WHERE e > s),
      |m AS (SELECT key, iid, s, e,
      |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY key ORDER BY s, iid
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      ${Long.MinValue}) THEN 1 ELSE 0 END AS brk
      |  FROM f),
      |b AS (SELECT key, iid, s, e,
      |    CAST(SUM(brk) OVER (PARTITION BY key ORDER BY s, iid
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS blk
      |  FROM m),
      |g AS (SELECT key, blk, MIN(s) AS bs, MAX(e) AS be FROM b GROUP BY 1, 2)
      |SELECT key, CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |  CAST(SUM(be - bs) AS BIGINT) AS covered_us
      |FROM g GROUP BY key ORDER BY key""".stripMargin,
    "evt_transitions" -> s"""
      |WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
      |  FROM events),
      |h AS (SELECT event_type AS to_type,
      |    lag(event_type) OVER w AS from_type,
      |    us - lag(us) OVER w AS gap
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM h WHERE from_type IS NOT NULL AND gap < ${GateGapMicros}
      |  GROUP BY 1, 2),
      |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
      |  FROM c GROUP BY 1)
      |SELECT from_type, to_type, n, n_from,
      |  CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
      |FROM c JOIN t USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin)
}
