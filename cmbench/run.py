#!/usr/bin/env python3
"""CM-Well query-surface benchmark: one client, closed loop, a fresh JVM per
run against the sf0.1 store served by GraftStore.forDir.

    python3 cmbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout compiles the
engine and builds the store's ETL layout (a few minutes); later runs reuse
both. Every op's output is checked against DuckDB after the timed phase.
The last stdout line is the JSON result; with --trace 1 it carries the
per-layer metrics instead of the end-to-end ones. See cmbench/README.md."""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import build, oracle, stats, workloads  # noqa: E402

RUN_BUDGET_S = 170  # one run must end within 180 s once built


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def cpu_jiffies():
    """(all, steal) CPU time summed over CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[7]
    except (OSError, IndexError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests in between:
    contention this benchmark cannot remove, recorded to explain drift."""
    if before is None or after is None or after[0] <= before[0]:
        return -1.0
    return (after[1] - before[1]) / (after[0] - before[0])


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.REPO,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def check_outputs(orc, results, files):
    """Returns (timed attempted, timed failed, warm-up failed, messages)."""
    attempted = failed = warm_failed = 0
    msgs = []
    for r in results:
        op = r["op"]
        err = r.get("err")
        if err is None:
            try:
                exp, ordered = orc.expected(op, files)
                err = oracle.compare(exp, ordered,
                                     oracle.actual_rows(op, r["rows"]))
            except Exception as e:  # a malformed output is a failed op
                err = f"check error: {type(e).__name__}: {e}"
        if not r["warm"]:
            attempted += 1
        if err is not None:
            if r["warm"]:
                warm_failed += 1
            else:
                failed += 1
            if len(msgs) < 10:
                msgs.append(f"op {op[0]} {op[1]}: {err[:300]}")
    return attempted, failed, warm_failed, msgs


LAYER_SPANS = [
    ("qp.parse_s", "qp.parse"), ("qp.compile_s", "qp.compile"),
    ("search.call_s", "search.call"), ("search.collect_s", "search.collect"),
    ("agg.call_s", "agg.call"), ("agg.collect_s", "agg.collect"),
    ("format.collect_s", "format.collect"),
    ("admin.compound_s", "admin.compound"),
    ("graph.xg_s", "graph.xg"), ("graph.yg_s", "graph.yg"),
    ("graph.gqp_s", "graph.gqp"), ("gremlin.eval_s", "gremlin.eval"),
    ("sparql.parse_s", "sparql.parse"), ("sparql.select_s", "sparql.select"),
    ("ingest.commands_s", "ingest.commands"),
    ("ingest.merge_pruned_s", "ingest.merge_pruned"),
    ("ingest.readback_s", "ingest.readback"),
    ("consume.chunk_s", "consume.chunk"), ("pipeline.text_s", "pipeline.text"),
]
# run.json counter -> (metric, unit), reported per timed op
COUNTERS = [
    ("jobs", "spark.jobs", "count/op"), ("stages", "spark.stages", "count/op"),
    ("tasks", "spark.tasks", "count/op"),
    ("job_wall_s", "spark.job_wall_s", "s/op"),
    ("task_busy_s", "spark.task_busy_s", "s/op"),
    ("analysis_s", "catalyst.analysis_s", "s/op"),
    ("optimization_s", "catalyst.optimization_s", "s/op"),
    ("planning_s", "catalyst.planning_s", "s/op"),
    ("codegen_compile_s", "codegen.compile_s", "s/op"),
    ("codegen_compiles", "codegen.compiles", "count/op"),
    ("scan_bytes", "scan.bytes", "bytes/op"),
    ("shuffle_write_bytes", "shuffle.write_bytes", "bytes/op"),
    ("shuffle_read_bytes", "shuffle.read_bytes", "bytes/op"),
    ("spill_bytes", "spill.bytes", "bytes/op"),
    ("gc_s", "jvm.gc_s", "s/op"),
]


def layer_metrics(rj, spans, timed_walls):
    n = len(timed_walls)
    m = {}
    selfs = stats.self_times(spans)
    for metric, name in LAYER_SPANS:
        total = sum(t for s, t in zip(spans, selfs) if s["name"] == name)
        m[metric] = (total / n, "s/op")
    m["consume.chunks"] = (
        sum(1 for s in spans if s["name"] == "consume.chunk") / n, "count/op")
    for key, metric, unit in COUNTERS:
        m[metric] = (rj[key] / n, unit)
    m["driver.self_s"] = ((sum(timed_walls) - rj["job_wall_s"]) / n, "s/op")
    m["model.open_s"] = (rj["open_s"], "s")
    m["model.clone_s"] = (rj["clone_s"], "s")
    with open(build.etl_cold_file()) as f:
        m["model.etl_cold_s"] = (json.load(f)["etl_cold_s"], "s")
    m["cache.peak_bytes"] = (rj["cache_peak_bytes"], "bytes")
    m["cache.blocks_after_release"] = (rj["cache_blocks_after_release"], "count")
    m["traced.ops_per_s"] = (n / rj["phase_s"], "1/s")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=build.default_data(),
                    help="store source tables (default: the sf dir graft.Bench "
                         "reads, $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (ops, results, spans)")
    args = ap.parse_args()

    if not os.path.isdir(build.engine_sources()):
        log(f"engine sources not found at {build.engine_sources()}")
        return 2
    if not args.data or not os.path.isfile(
            os.path.join(args.data, "customer.parquet")):
        log(f"store source tables not found in {args.data}")
        return 2
    cpus = os.cpu_count() or 4
    cp = build.ensure_built(log)
    build.ensure_prepared(cp, args.data, cpus, log)

    t_start = time.time()
    load_before = loadavg()
    cpu_before = cpu_jiffies()
    run_dir = os.path.join(build.build_root(), "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    warm, ops, files = workloads.generate(
        args.workload, args.seed,
        cycles=workloads.timed_cycles(args.workload, args.seconds))
    workloads.write_ops(os.path.join(run_dir, "warmup.tsv"), warm)
    workloads.write_ops(os.path.join(run_dir, "ops.tsv"), ops)
    for name, text in files.items():
        with open(os.path.join(run_dir, name), "w") as f:
            f.write(text)

    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local)
    jvm_args = ["--mode", "run", "--data", args.data, "--cpus", str(cpus),
                "--local-dir", local, "--run-dir", run_dir,
                "--trace", str(args.trace),
                "--etl-root", build.etl_root(),
                "--launch-ms", str(int(time.time() * 1000))]
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(build.java_cmd(cp, build.etl_home(), jvm_args),
                                stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=RUN_BUDGET_S - (time.time() - t_start))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log("benchmark JVM " + ("exceeded its time budget" if rc is None
                                    else "failed") + ":\n" + f.read()[-4000:])
        if not args.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
        return 4
    load_after = loadavg()
    steal = steal_share(cpu_before, cpu_jiffies())

    with open(os.path.join(run_dir, "run.json")) as f:
        rj = json.load(f)
    if not rj["etl_warm"]:
        # the open built the layout inside the run: setup_s would be wrong
        log("the store's ETL layout was not prepared before the run")
        if not args.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
        return 4
    by_id = {o[0]: o for o in warm + ops}
    results = []
    with open(os.path.join(run_dir, "results.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            r["op"] = by_id[r["id"]]
            results.append(r)
    t_check = time.time()
    orc = oracle.Oracle(args.data)
    attempted, failed, warm_failed, msgs = check_outputs(orc, results, files)
    log(f"checked {len(results)} ops in {time.time() - t_check:.1f}s; "
        f"run took {time.time() - t_start:.1f}s")
    timed_walls = [r["s"] for r in results if not r["warm"]]
    if not timed_walls:
        log("no op completed in the timed phase")
        return 4

    stamp = {"commit": commit(), "sources": build.source_digest()[:16],
             "nproc": cpus, "load_before": load_before,
             "load_after": load_after, "steal_share": round(steal, 4),
             "seed": args.seed,
             "workload": args.workload, "etl_warm": rj["etl_warm"],
             "jvm_flags": rj["jvm_flags"], "spark_conf": rj["spark_conf"]}
    print("run " + json.dumps(stamp, sort_keys=True))
    setup = rj["launch_to_first_op_s"]
    print(f"setup {setup:.3f}s: jvm {rj['jvm_start_s']:.3f}s session "
          f"{rj['session_s']:.3f}s open {rj['open_s']:.3f}s clone "
          f"{rj['clone_s']:.4f}s warm-up {rj['warmup_s']:.3f}s")
    tail = stats.tail_percentile(timed_walls)
    if tail:
        print(f"latency tail: p{tail[0]} {tail[1]:.4f} s "
              f"({tail[2]} of {len(timed_walls)} samples beyond it)")
    else:
        print(f"no percentile above the median has 10 samples beyond it "
              f"({len(timed_walls)} samples)")
    print(f"error_rate {failed / attempted:.4f} ({failed} of {attempted} ops; "
          f"{warm_failed} warm-up ops failed)")
    for m in msgs:
        print("  FAILED " + m)

    if args.trace:
        with open(os.path.join(run_dir, "spans.jsonl")) as f:
            spans = [json.loads(l) for l in f if l.strip()]
        metrics = layer_metrics(rj, spans, timed_walls)
    else:
        metrics = {
            "setup_s": (setup, "s"),
            "ops_per_s": (len(timed_walls) / rj["phase_s"], "1/s"),
            "latency_p50_s": (stats.median(timed_walls), "s"),
            "heap_retained_mb": (rj["heap_retained_mb"], "MB"),
        }
    for name, (v, unit) in sorted(metrics.items()):
        print(f"{name} {v} {unit}")
    shutil.rmtree(local, ignore_errors=True)
    if not args.keep:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and warm_failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
