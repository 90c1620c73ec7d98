"""Metric arithmetic for the benchmark: the raw record a benchmark process
writes (repetitions, samples, spans, Spark jobs and stages, counters and
checks) in, named metrics out. Pure functions, tested in test_metrics.py.
"""

import math
import statistics

TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10

# Program functions the dispatcher profile charges time to (the outermost
# graft.* frame on the stream thread's stack) and the per-layer time they
# count towards.
PROFILE_LAYER = {
    "WorkQueueLedger.claim": "ledger.claim_s",
    "WorkQueueLedger.notDone": "ledger.notdone_s",
    "WorkQueueLedger.markDone": "ledger.markdone_s",
    "WorkQueueLedger.release": "ledger.release_s",
    "WorkQueueLedger.compactDone": "ledger.maintain_s",
    "WorkQueueLedger.beat": "ledger.maintain_s",
    "WorkQueueLedger.takeoverStale": "ledger.maintain_s",
    "VersionedTable.vacuum": "ledger.maintain_s",
    "ItemStore.commitBatch": "store.commit_s",
    "ItemStore.batchCommitted": "store.commit_s",
    "ItemStore.batchRows": "store.commit_s",
    "ItemStore.batchItemIds": "store.commit_s",
    "Runner.processItems": "exec.process_s",
}

# Per-layer times taken from the benchmark's spans around public calls.
SPAN_LAYER = {
    "store.import": "store.import_s",
    "store.commit": "store.commit_s",
    "exec.process": "exec.process_s",
    "exec.merge": "exec.merge_s",
    "log.route": "log.route_s",
    "ops.reset": "ops.reset_s",
    "ops.update": "ops.update_s",
    "ops.rewrite": "ops.rewrite_s",
    "queries.item_counter": "queries.item_counter_s",
    "queries.progress_histogram": "queries.progress_histogram_s",
    "queries.completion_check": "queries.completion_check_s",
    "queries.todo_items": "queries.todo_items_s",
    "queries.job_state_counts": "queries.job_state_counts_s",
    "dedup.families": "dedup.families_s",
    "dedup.family_pairs": "dedup.family_pairs_s",
    "dedup.survivors": "dedup.survivors_s",
}

STREAM_FIELDS = {
    "stream.latest_offset_s": "latestOffset",
    "stream.get_batch_s": "getBatch",
    "stream.add_batch_s": "addBatch",
    "stream.planning_s": "queryPlanning",
    "stream.wal_commit_s": "walCommit",
}

COUNTERS = (
    "store.files", "store.bytes", "ledger.commits", "ledger.log_files",
    "exec.tasks", "exec.fork_s", "exec.failed_tasks",
    "log.rows.dynamo", "log.rows.dynamo_salvaged", "log.rows.cloudwatch", "log.rows.s3",
    "dedup.pairs_out", "dedup.families_out",
)

SPARK_SUMS = ("task_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "input_mb", "spill_mb")


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest of TAIL_PERCENTILES with at least TAIL_BEYOND samples
    above its nearest-rank position: (value, percentile, sample count),
    or None when there are too few samples for any of them.
    """
    s = sorted(xs)
    n = len(s)
    best = None
    for p in TAIL_PERCENTILES:
        k = max(1, math.ceil(p * n / 100.0 - 1e-9))  # nearest rank
        if n - k >= TAIL_BEYOND:
            best = (s[k - 1], p, n)
    return best


def failed_ratio(attempted, failed):
    return failed / attempted if attempted else 1.0


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans):
    """Span id -> self time in ms: the span's duration minus the part of
    its interval that its child spans cover (children may overlap each
    other and may run on other threads)."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append((sp["start_ms"], sp["end_ms"]))
    out = {}
    for sp in spans:
        s, e = sp["start_ms"], sp["end_ms"]
        covered = union_length(clip(children.get(sp["id"], []), s, e))
        out[sp["id"]] = (e - s) - covered
    return out


def spark_derived(start_ms, end_ms, stages, cores):
    """Derived Spark metrics for one span from its stages' intervals:
    core_util = task time / (wall × cores); driver_s = span wall time with
    no stage running; narrow_stage_s = wall time covered by stages that ran
    fewer tasks than cores."""
    wall = (end_ms - start_ms) / 1000.0
    spans = clip([(st["start_ms"], st["end_ms"]) for st in stages], start_ms, end_ms)
    narrow = clip([(st["start_ms"], st["end_ms"]) for st in stages if st["tasks"] < cores],
                  start_ms, end_ms)
    task_s = sum(st.get("task_s", 0.0) for st in stages)
    return {
        "spark.core_util": task_s / (wall * cores) if wall > 0 else 0.0,
        "spark.driver_s": wall - union_length(spans) / 1000.0,
        "spark.narrow_stage_s": union_length(narrow) / 1000.0,
    }


def setup_seconds(record):
    st = record["setup"]
    return st["session_s"] + statistics.median(st["generate_s"]) + st["warmup_s"]


def throughput(reps):
    """Units per second of the median repetition (every repetition of a
    run processes the same units)."""
    return reps[0]["units"] / median([r["wall_s"] for r in reps]) if reps else 0.0


def end_to_end(record):
    """Every end-to-end metric the workload reports: name -> (value, unit).
    Latency tails carry their percentile and sample count."""
    reps = [r for r in record["reps"] if not r["traced"]]
    rate = "items_per_s" if record["unit"] == "items" else "docs_per_s"
    out = {
        "setup_s": (setup_seconds(record), "s"),
        rate: (throughput(reps), "1/s"),
        "failed_ratio": (failed_ratio(record["attempted"], record["failed"]), "ratio"),
        "peak_rss_mb": (record["peak_rss_mb"], "MB"),
    }
    for kind in ("batch", "monitor"):
        xs = record["samples"].get(kind, [])
        if xs:
            out[f"{kind}_p50_s"] = (median(xs), "s")
            t = tail(xs)
            out[f"{kind}_tail_s"] = ((t[0], f"p{t[1]:g} of {t[2]}") if t
                                     else (None, f"fewer than {TAIL_BEYOND * 2} samples ({len(xs)})"))
    return out


def per_layer(record):
    """Per-layer metrics from the traced repetitions, each a mean per traced
    repetition: name -> value."""
    cores = record["cores"]
    traced = [r for r in record["reps"] if r["traced"]]
    runs = {r["id"] for r in traced}
    n = max(len(traced), 1)
    spans = [s for s in record["spans"] if s["run"] in runs]
    span_run = {str(s["id"]): s["run"] for s in spans}
    jobs = [j for j in record["jobs"] if j["span"] in span_run]
    job_ids = {j["job"] for j in jobs}
    stages = [st for st in record["stages"] if st["job"] in job_ids]
    progress = [p for p in record["progress"] if p["run"] in runs]
    profile = [p for p in record["profile"] if p["run"] in runs]

    m = {}
    for name in SPAN_LAYER.values():
        m[name] = 0.0
    for name in set(PROFILE_LAYER.values()):
        m[name] = 0.0
    for sp in spans:
        if sp["name"] in SPAN_LAYER:
            m[SPAN_LAYER[sp["name"]]] += (sp["end_ms"] - sp["start_ms"]) / 1000.0
    for p in profile:
        if p["fn"] in PROFILE_LAYER:
            m[PROFILE_LAYER[p["fn"]]] += p["s"]
    for key in COUNTERS:
        m[key] = float(sum(r["counters"].get(key, 0.0) for r in traced))

    retries = sum(r.get("cas_retries", 0) for r in traced)
    batches = len(progress)
    m["ledger.cas_retries"] = float(retries)
    # every trigger's claim ends in one successful commit; each CAS retry
    # is one more, failed, attempt
    m["ledger.claim_win_ratio"] = batches / (batches + retries) if batches else 0.0
    m["stream.batches"] = float(batches)
    for name, field in STREAM_FIELDS.items():
        m[name] = sum(p["duration_ms"].get(field, 0) for p in progress) / 1000.0
    trigger_s = sum(p["duration_ms"].get("triggerExecution", 0) for p in progress) / 1000.0
    drain_s = sum(d["wall_s"] for r in traced for d in r.get("drains", []))
    m["stream.idle_s"] = max(drain_s - trigger_s, 0.0) if progress else 0.0

    m["spark.jobs"] = float(len(jobs))
    m["spark.stages"] = float(len(stages))
    m["spark.tasks"] = float(sum(st["tasks"] for st in stages))
    for key in SPARK_SUMS:
        m["spark." + key] = sum(st.get(key, 0.0) for st in stages)
    for key in ("spark.core_util", "spark.driver_s", "spark.narrow_stage_s"):
        m[key] = 0.0
    job_run = {j["job"]: span_run[j["span"]] for j in jobs}
    for r in traced:
        mine = [st for st in stages if job_run.get(st["job"]) == r["id"]]
        for k, v in spark_derived(r["start_ms"], r["end_ms"], mine, cores).items():
            m[k] += v

    out = {k: v / n for k, v in m.items()}
    # a ratio over all traced repetitions, not a sum
    out["ledger.claim_win_ratio"] = m["ledger.claim_win_ratio"]

    plain = [r["wall_s"] for r in record["reps"] if not r["traced"]]
    with_trace = [r["wall_s"] for r in traced]
    if plain and with_trace:
        out["trace.overhead_s"] = median(with_trace) - median(plain)
        out["trace.overhead_pct"] = 100.0 * out["trace.overhead_s"] / median(plain)
    else:
        out["trace.overhead_s"] = out["trace.overhead_pct"] = 0.0
    return out


def span_summary(record):
    """Per span name over the traced repetitions: count, total and self
    seconds, and the Spark work of the jobs submitted inside that span
    (the innermost open span when the job started). Rows named
    `dispatcher:<function>` are the sampled wall time of the streaming
    dispatchers, by program function."""
    traced = {r["id"] for r in record["reps"] if r["traced"]}
    spans = [s for s in record["spans"] if s["run"] in traced]
    selfs = self_times(spans)
    by_id = {str(s["id"]): s for s in spans}
    stages_by_job = {}
    for st in record["stages"]:
        stages_by_job.setdefault(st["job"], []).append(st)
    out = {}
    for p in record["profile"]:
        if p["run"] in traced:
            name = "dispatcher:" + (p["fn"] or "(no program frame)")
            row = out.setdefault(name, {"count": 0, "total_s": 0.0, "self_s": 0.0,
                                        "spark.jobs": 0, "spark.tasks": 0, "spark.task_s": 0.0})
            row["total_s"] += p["s"]
            row["self_s"] += p["s"]
    for s in spans:
        row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0,
                                          "spark.jobs": 0, "spark.tasks": 0,
                                          "spark.task_s": 0.0})
        row["count"] += 1
        row["total_s"] += (s["end_ms"] - s["start_ms"]) / 1000.0
        row["self_s"] += selfs[s["id"]] / 1000.0
    for j in record["jobs"]:
        s = by_id.get(j["span"])
        if s is None:
            continue
        row = out[s["name"]]
        row["spark.jobs"] += 1
        for st in stages_by_job.get(j["job"], []):
            row["spark.tasks"] += st["tasks"]
            row["spark.task_s"] += st.get("task_s", 0.0)
    return out
