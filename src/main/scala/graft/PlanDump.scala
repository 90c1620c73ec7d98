package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: formatted physical plans, the plan-audit evidence.
  *
  *   runMain graft.PlanDump [sfDir]
  *     writes PLANS.md: the flagship gates below, each with the shape to
  *     look for (sfDir defaults to sf0.01);
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> <g1,g2,...>
  *     writes `<outDir>/<gate>_<suffix>.txt` per named gate, the
  *     before/after evidence of an optimization round (plans/rNN/), and
  *     the [[plans.Lineage]] per-cut plans into
  *     `<outDir>/<gate>_<suffix>_rounds/` for the gates that cut lineage:
  *     the final plan of an iterative gate shows only its last scan.
  */
object PlanDump {
  val flagship: Seq[(String, String)] = Seq(
    "q3_shipping_priority" -> ("broadcast only the filtered dim; fact legs shuffle-join under AQE"),
    "q_topk_operator" -> ("custom partial/final heap operators around the exchange, no Sort"),
    "pa_todo_items" -> ("itemState partition pruning (the GSI analog) + column pruning"),
    "sim_topk_heap" -> ("bounded-heap partial aggregate, map-side combine"),
    "dedup_lsh_candidates" -> ("bucket-local pair generation: one shuffle on band signatures, no join, no distinct"),
    "dedup_incremental" -> ("batch->corpus band equi-join (corpus never self-paired), min-aggregated matches, leftovers through the collapsed-survivors pipeline"),
    "sim_topk_ivf" -> ("trained codebook: Lloyd rounds are broadcast-assign + posexplode mean shuffles; probe joins broadcast centroids then one bucket equi-join"),
    "pipe_decontaminate" -> ("eval shingles broadcast; train side scanned once, BroadcastHashJoin, only contaminated hits shuffle into the count agg"),
    "txt_top_ngrams" -> ("rank-filter lowered onto TopKPerKey: partial/final heap execs around the exchange, no per-key Sort"),
    "pipe_pack_sequences" -> ("one shuffle on the shard key; running-offset window is partition-local, no global sort"),
    "pipe_redact_pii" -> ("pure narrow projection: regex count/replace at scan speed, zero exchanges, ReadSchema pruned to id+text"),
    "pipe_mixture" -> ("tiny rate table broadcast back onto a narrow scan-filter; the only full-data exchange is the output ordering"),
    "evt_sessions" -> ("ONE shuffle on user_id shared by lag, running-sum, and the session aggregation (no second exchange before the final sort)"),
    "q_pivot_priority_year" -> ("explicit pivot values: single groupBy with map-side partial agg, no distinct pre-pass job"),
    "evt_funnel" -> ("chained per-step window mins share ONE user_id exchange; stage rollup is O(steps) rows"),
    "txt_search" -> ("explode+filter shrinks to query-term postings before the first exchange; global top-k is TakeOrderedAndProject, no global sort"),
    "txt_heavy_hitters" -> ("exact pass groups on candidates + other-bucket: partial agg collapses each partition to <=2k+1 rows before the exchange"),
    "q_triangles" -> ("edge-iterator close over the parquet-MATERIALIZED pair substrate (columnar scan, stats, codegen — not an InMemoryTableScan): only edges and O(sqrt m) out-lists shuffle; intersection count feeds a partial sum, wedges never hit an exchange"),
    "q_pagerank" -> ("each round = rank-vector join on source + quantized-sum groupBy on destination over the materialized substrate scan; lineage truncated per round"),
    "dedup_semantic" -> ("codebook broadcast in assignment; in-cluster pairs via the skew-capped bucket kernel keyed by cid"),
    "evt_anomalies" -> ("one shuffle on (user, type); the three frame aggregates share a single window sort"),
    "mm_embed_hashtrick" -> ("hashing-trick embedding: narrow mapPartitions batch stage at scan speed, only the output ordering exchanges"),
    "q_approx_distinct_parts" -> ("HLL + exact distinct in one partial-agg pass; err_bound_ok computed post-agg, no extra scan"),
    "q_bloom_delete" -> ("bloom-miss keepers pass scan->agg with NO join; only candidate rows (hits + fpp) enter the exact anti-join"),
    "pa_scd2_merge" -> ("history slice unions around the join — only the current slice joins the (broadcast) change batch"),
    "pa_scd2_pit" -> ("temporal lookup = equi-join on the key with the interval as residual filter; no range explosion, dim broadcasts"),
    "txt_lr_quality" -> ("scoring pass of the engine-trained LR: driver-held weights constant-fold into a narrow scan-speed projection, zero data exchanges before the output ordering"),
    "pipe_dsir_select" -> ("per-doc log-ratio under two bigram models in ONE stream pass: both models' log-probs sit on a merged per-DISTINCT-bigram q table, the corpus-sized bigram stream pays one join + one doc aggregate; the cross BNLJ broadcasts ONE-ROW smoothing-totals aggregates; selection is TakeOrderedAndProject, no global sort"),
    "txt_hybrid_rrf" -> ("RRF fusion of the BM25 and cosine lists: both retrievals end in TakeOrderedAndProject (k rows); the fusion full-outer join touches only those two k-row tables, never the corpus"),
    "dedup_survivors_quality" -> ("quality election over the cluster map: one max(struct(score,-id)) partial/final aggregate on the cluster label (sort-based — struct buffers aren't hash-aggregable — but map-side combined to <=|clusters| rows before the single exchange) + one member join; no window, no text re-scan past the quality projection"),
    "q4_late_orders" -> ("grouped EXISTS as LEFT SEMI: equi-keyed on orderkey with the shipdate inequality as join residual — no per-order subquery, fact legs stay hash/SMJ under AQE"),
    "q7_volume_shipping" -> ("nation dims filtered to 2 rows and broadcast on BOTH legs; fact joins shuffle on their natural keys; year extraction rides the final groupBy"),
    "q10_returned_items" -> ("returnflag + order-quarter filters pushed to the scans; 25-row nation broadcast; customer-attribute grouping rides the custkey shuffle; top-20 is TakeOrderedAndProject"),
    "q_components" -> ("frequent edges = support filter over the materialized pair-substrate scan; the star-contraction labeling runs per-round join+groupBy with lineage cut, never a diameter-length chain"),
    "q_profile_lineitem" -> ("exact ndistinct as N concurrent PRUNED single-column scans + native two-phase hash distinct — no count_distinct Expand (22 s), no posexplode string melt (3.7 s); this shape is 1.9 s at sf0.1"),
    "q_profile_sketch_lineitem" -> ("HLL-register profile: one melt pass whose register aggregate partial-collapses to <=64 rows per column per partition BEFORE the exchange — shuffle is metadata-sized at any data size, registers merge across daily drops"),
    "q_hll_orders_month" -> ("register build is ONE narrow shuffle keyed (month, bucket) with partial MAX; estimate collapses <=64 register rows per group — no count_distinct Expand anywhere"),
    "evt_resample_lerp" -> ("ONE exchange total: key repartition satisfies the (key,bucket) agg AND the window clustering, the sort is shared, and gap runs explode from the lead observation — no grid, no join, no unbounded frames (r12 rewrite: 1.72s -> 0.70s)"),
    "q2_min_cost_supplier" -> ("min-per-group decorrelated to a window MIN over the offer leg (no self-join back); region suppliers and size-filtered parts broadcast, the offer leg never is"),
    "q13_customer_distribution" -> ("orders aggregated to per-customer counts BEFORE the outer join — both join legs carry one row per customer, not one per order"),
    "q19_disjunctive_bands" -> ("the disjunction's union bounds (brand set, size<=15, quantity 1..30) appear as PushedFilters on BOTH scans; the exact OR evaluates once as join residual"),
    "q21_lone_failed_supplier" -> ("two-stage counting: (order,supplier) collapse with partial agg, then per-order counts — no count-DISTINCT Expand over raw lineitem"),
    "q22_dormant_customers" -> ("1-row (sum,count) broadcast for the scalar-average compare; LEFT ANTI against date-filtered orders with the filter pushed to the scan"),
    "q_kcore" -> ("per peeling round: one degree groupBy + two LEFT SEMI joins on node id, lineage cut per round — no driver-side graph state"),
    "evt_theta_intersect" -> ("KMV sketches via TopKPerKey partial/final heaps (<=k rows per set cross the exchange); all pairwise work downstream touches only sketch rows"),
    "pipe_sample_pps" -> ("range-repartition + local sort, metadata-sized per-partition weight sums, then a NARROW accumulation pass — no single-partition window for the global cumsum"),
    "q_window_frames" -> ("all six frame columns (running/trailing/full/lead/ntile) share ONE per-customer window exchange and sort"),
    "sim_covariance" -> ("whole Gram accumulation is one ObjectHashAggregate with a single long[] buffer — partitions collapse map-side, the exchange carries one buffer per partition; the d(d+1)/2 explosion happens on the one result row"),
    "q_expectations" -> ("five fused rules = ONE lineitem scan + one conditional aggregate; FK checks are single anti-join counts"),
    "q_hilbert_cells" -> ("the native hilbert_index expression: ONE plan node, generated quadrant-rotation loop, no shuffle before the output sort"),
    "evt_trend_ols" -> ("regression as one partial aggregate: per-key integer moments ride a single user_id exchange shared with the min-time window"),
    "evt_interval_coverage" -> ("one window shuffle shared by the running-max/break/block chain and both aggregates"),
    "q_copurchase_pairs" -> ("in-group pair expansion after one group-key exchange; global top-20 is TakeOrderedAndProject"),
    "dedup_ppjoin_pairs" -> ("exact jaccard join over exact-dup FAMILY REPRESENTATIVES (collapse-first: candidates and the gram-array verify are independent of duplicate multiplicity); candidates via an equi-join on PREFIX grams only (df-asc order keeps prefix buckets rare-gram-small); per-doc pairs recovered by the id-only member-map expansion — no theta join, no all-pairs"),
    "dedup_snm_pairs" -> ("positions from range-repartition + narrow numbering (no single-partition window); within-window pairing is a grid-cell equi-join with the |delta-pos|<=w residual"),
    "dedup_substring_pairs" -> ("char l-gram windows from the JVM kernel (per-doc distinct), lineage-cut gram table, SHUFFLE_HASH self-join on the gram (no stat-less SMJ sort), pair-count agg"),
    "evt_autocorr" -> ("one per-key window shuffle for the lag, then a partial-agg'd DECIMAL(38) moment aggregate; r is a post-agg projection"),
    "q20_dominant_suppliers" -> ("the correlated half-of-part-total HAVING decorrelated: window SUM over the (part,supplier) rollup — the window exchange carries the rollup, never the fact; qualifying keys LEFT SEMI into the supplier dim"),
    "q11_important_parts" -> ("global-fraction HAVING as a 1-row aggregate broadcast cross-joined onto the per-part rollup; threshold cross-multiplied in decimal, no double division"),
    "sim_topk_pq_indexed" -> ("persisted flat-PQ probe: codebooks broadcast into the per-query LUT build; the corpus side is ONE columnar scan of the persisted 4-code table — no training, no re-encode, rank via window over m integer lookups per candidate"),
    "pa_monitor_stream" -> ("monitor-log fold: latest-snapshot-per-user via one window over the VersionedTable part log (rows = touched keys x triggers, never the event stream); the streaming side committed one tagged version per trigger"),
    "txt_fingerprint" -> ("min-shingle fingerprint as a one-pass JVM kernel at scan speed: zero exchanges before the output ordering — the HOF spelling re-evaluated the normalize+split per shingle position"),
    "dedup_incremental_indexed" -> ("persisted band index: the batch side shingles+signs ITS OWN rows only and equi-joins the VersionedTable-backed index scan — the corpus is never re-shingled, per-batch cost independent of corpus size"),
    "dedup_ppjoin_indexed" -> ("persisted prefix index (v2: one prefix/gram row per exact-dup family + member map): batch reps ranked by the frozen build-time (df, gram) order equi-join the index's rep prefix rows; exact verification touches only surviving rep candidates, per-doc pairs via member expansion"),
    "vt_ivm_persisted" -> ("durable view refresh: feed-sized change scan + ONE union+groupBy fold against the group-sized persisted view, committed as a tagged overwrite — no upstream recompute anywhere in the plan"),
    "dedup_ppjoin_family_pairs" -> ("the scale-safe OUTPUT CONTRACT: verified rep pairs joined to family sizes, output-linear in FAMILIES — no member-map expansion anywhere in the plan (the expanded pair list is quadratic in family size by contract: use this form on dirty corpora, expand lazily per consumer)"))

  def main(args: Array[String]): Unit = {
    require(args.length <= 1 || args.length == 4,
      "usage: PlanDump [sfDir] | PlanDump <sfDir> <outDir> <suffix> <g1,g2,...>")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val gates = SparkEntry.select(
      Some(args.lift(3).getOrElse(flagship.map(_._1).mkString(","))))
    val spark = SparkEntry.session("graft-plan-dump")
    if (args.length == 4) {
      val (outDir, suffix) = (args(1), args(2))
      Files.createDirectories(Paths.get(outDir))
      gates.foreach { case (name, fn) =>
        spark.conf.set(plans.Lineage.DumpDirKey, s"$outDir/${name}_${suffix}_rounds")
        val txt = try finalPlan(spark, fn, sfDir)
          finally spark.conf.unset(plans.Lineage.DumpDirKey)
        Files.write(Paths.get(s"$outDir/${name}_$suffix.txt"), txt.getBytes(UTF_8))
        println(s"wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
      }
    } else {
      val notes = flagship.toMap
      val out = new StringBuilder
      out.append("# PLANS — formatted physical plans of flagship queries (sf0.01)\n\n")
      out.append("Generated by `SPARK_GRAFT_CPUS=4 sbt \"runMain graft.PlanDump\"`. What to\n")
      out.append("look for is noted per query; regenerate after plan-affecting changes.\n")
      gates.foreach { case (name, fn) =>
        out.append(s"\n## $name\n\n_${notes(name)}_\n\n```\n")
        out.append(clip(finalPlan(spark, fn, sfDir)))
        out.append("\n```\n")
      }
      Files.write(Paths.get("PLANS.md"), out.toString.getBytes(UTF_8))
      println("wrote PLANS.md")
    }
    spark.stop()
  }

  /** `plan` cut to at most `limit` chars at a line break, with a closing
    * marker line saying how much is shown, so a clipped plan never reads
    * as complete (a bare cut left no trace, often mid-line).
    */
  def clip(plan: String, limit: Int = 6000): String =
    if (plan.length <= limit) plan
    else {
      val nl = plan.lastIndexOf('\n', limit - 1)
      val kept = if (nl > 0) nl else limit
      plan.substring(0, kept) +
        s"\n… [truncated: $kept of ${plan.length} chars]"
    }

  /** The gate's plan after a full run through the noop sink, so AQE has
    * settled on the final plan — noop, not count(): a count prunes
    * output-only subtrees and would dump a plan the real query never runs
    * (same trap Bench fixed in round 11).
    */
  private def finalPlan(spark: SparkSession, gate: SparkEntry.Gate,
      sfDir: String): String = {
    val df = gate(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.explainString(FormattedMode)
  }
}
