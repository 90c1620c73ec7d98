"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source when they changed
(build.py), starts one benchmark JVM (perfbench.Main) at local[nproc],
reads the raw record it writes and prints a report: the environment, the
input statistics, every metric by name and unit, the correctness checks,
and with --trace 1 the per-layer metrics, the span summary and the tracing
overhead. The last line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics registered in
BENCHMARK.json with --trace 0, the per-layer ones with --trace 1.

Exits 1 when a correctness check or an operation failed, 2 when the
sources are missing or do not build.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("worker_loop", "corpus_dedup", "queue_drain", "queue_contended", "batch_run")
DEADLINE_S = 170


def registered():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def version():
    """The git commit when the checkout is a repository, and always the
    build stamp (a digest of every source file)."""
    commit = "none"
    if os.path.isdir(os.path.join(build.ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           capture_output=True, text=True)
        commit = r.stdout.strip() or "unknown"
    with open(build.STAMP) as f:
        return f"commit={commit} sources={f.read().strip()[:16]}"


def run_jvm(jars, args, work, timeout):
    raw = os.path.join(work, "record.json")
    cmd = build.jvm_args(jars) + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(len(os.sched_getaffinity(0))), "--work", work, "--out", raw]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=build.ROOT, start_new_session=True)
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"benchmark process exceeded {timeout:.0f} s")
    if proc.returncode != 0 or not os.path.exists(raw):
        raise RuntimeError(f"benchmark process exited {proc.returncode}; see {log.name}")
    with open(raw) as f:
        return json.load(f)


def fmt(v):
    if v is None:
        return "n/a"
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def report(record, args, e2e, layers, spans):
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={record['cores']} heap_mb={record['heap_mb']} "
          f"spark={record['spark_version']} {version()}")
    print("input: " + " ".join(f"{k}={v}" for k, v in sorted(record["input"].items())))
    reps = record["reps"]
    print(f"timed: {len(reps)} repetitions in {record['timed_s']:.2f} s, "
          f"{reps[0]['units'] if reps else 0} {record['unit']} each")
    print("end-to-end:")
    for name, (value, unit) in e2e.items():
        print(f"  {name:<28} {fmt(value):>14} {unit}")
    if layers is not None:
        print("per-layer (mean per traced repetition):")
        for name, value in sorted(layers.items()):
            print(f"  {name:<32} {fmt(value):>14}")
        print("spans (traced repetitions): name count total_s self_s spark.jobs spark.tasks spark.task_s")
        for name, row in sorted(spans.items()):
            print(f"  {name:<30} {row['count']:>4} {row['total_s']:>9.3f} {row['self_s']:>9.3f} "
                  f"{row['spark.jobs']:>5} {row['spark.tasks']:>6} {row['spark.task_s']:>9.3f}")
    bad = [c for c in record["checks"] if not c["ok"]]
    print(f"checks: {len(record['checks']) - len(bad)} passed, {len(bad)} failed")
    for c in bad[:20]:
        print(f"  FAILED {c['name']}: {c['detail']}")
    for e in record["errors"]:
        print(f"  ERROR {e}")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    try:
        jars = build.build()
        e2e_units, layer_units = registered()
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    built = time.monotonic()

    runs = os.path.join(build.OUT, "runs")
    work = os.path.join(build.OUT, "work", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(runs, exist_ok=True)
    # a run that had to build first still gets the whole deadline
    timeout = DEADLINE_S - (time.monotonic() - built)
    try:
        record = run_jvm(jars, args, work, timeout)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1

    e2e = metrics.end_to_end(record)
    layers = metrics.per_layer(record) if args.trace else None
    spans = metrics.span_summary(record) if args.trace else None
    report(record, args, e2e, layers, spans)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(runs, name), "w") as f:
        json.dump(dict(record, metrics={"end_to_end": e2e, "per_layer": layers,
                                        "spans": spans}), f)
    shutil.rmtree(work, ignore_errors=True)

    correct = record["failed"] == 0 and not record["errors"] and bool(record["reps"])
    if args.trace:
        out = {k: {"value": layers[k], "unit": u} for k, u in layer_units.items()}
    else:
        named = dict(e2e, throughput_per_s=e2e.get("items_per_s") or e2e.get("docs_per_s"))
        out = {k: {"value": named[k][0], "unit": u} for k, u in e2e_units.items()}
    print(json.dumps({"correct": correct, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
