package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Scale-adaptive parallelism widening (optimization guide §2: make
  * partitioning scale-adaptive, never a constant tuned for one shape).
  *
  * A CPU-dense narrow stage inherits the parallelism of its SOURCE — and a
  * small parquet table arrives as a handful of scan splits, serializing
  * per-row kernels (md5 melts, shingle UDFs, merge-apply chains) on a few
  * cores even on a 32-core session. [[widen]] repartitions UP to the
  * session default parallelism only when the plan is under-partitioned;
  * an already-parallel 100 TB scan is left untouched (repartitioning it
  * would be a full shuffle of the payload).
  *
  * Input contract: BATCH, scan-rooted frames (every call site passes a
  * parquet scan or a checkpointed leaf). Guards for everything else:
  *  - streaming frames pass through untouched (`.rdd` would throw);
  *  - plans already containing a shuffle or broadcast exchange (found by
  *    a walk of the prepared physical plan, never by matching its rendered
  *    text, which also names scan paths) pass through untouched — their
  *    downstream parallelism is the session shuffle width already, and
  *    probing them via `.rdd` would FINALIZE the adaptive plan and execute
  *    its shuffle stages just to read a partition count. For an
  *    exchange-free plan `.rdd` only builds the scan RDD driver-side (no
  *    job), so the probe is a planning-time cost, not an execution.
  */
object Parallelism {

  def widen(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    if (hasExchange(df.queryExecution.executedPlan)) return df
    val dp = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < dp) df.repartition(dp) else df
  }

  /** Whether the prepared physical plan holds a shuffle or broadcast
    * exchange. Under AQE exchanges are inserted by the preparation rules
    * inside `AdaptiveSparkPlanExec`, so the walk reads its `initialPlan`
    * (built at planning time, no job runs) rather than the unfinalized
    * root. Cached relations and subqueries are walked too: `.rdd` would
    * execute their shuffle stages just as well.
    */
  private def hasExchange(plan: SparkPlan): Boolean = plan.exists {
    case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
    case a: AdaptiveSparkPlanExec => hasExchange(a.initialPlan)
    case m: InMemoryTableScanExec => hasExchange(m.relation.cachedPlan)
    case p => p.subqueries.exists(hasExchange)
  }
}
