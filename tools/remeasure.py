#!/usr/bin/env python3
"""Fresh-JVM single-query re-measure for the probe reporters.

Three rounds of probe sweeps produced the same adjudication story:
every in-sweep ratio outlier (r15 merge_delete 2.49x, r16 sessionize
11.95x, r16 merge_pruned 3.47x) turned out to be sandbox/adjacency
contention, proven by manually re-running the flagged query alone in a
fresh JVM. This module automates that discipline so the reporters stamp
BOTH numbers (in-sweep and isolated) into the artifact before anyone
reads it — a flag that survives isolation is a defect, one that clears
is recorded as adjudicated contention, by the tool rather than by hand.

Invocation matches the probe recipe exactly: standalone
`sbt -batch "runMain graft.Bench"` with SPARK_GRAFT_ONLY=<query> and
the run's own SPARK_GRAFT_SF_DIR / env, so the re-measure is the same
binary and knobs minus the sweep around it. SPARK_GRAFT_ONLY runs
never write bench reference files (Bench.scala), so a re-measure
cannot pollute the min-merge reference state.
"""
import json
import os
import subprocess


def remeasure(query, sf_dir, extra_env=None, repo=None, timeout=5400):
    """Run ONE query standalone in a fresh JVM; returns its seconds
    (float) or None when the run or parse fails (callers keep the
    original flag in that case — a failed adjudication never clears
    a flag)."""
    repo = repo or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_ONLY"] = query
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    for kv in (extra_env or []):
        k, _, v = kv.partition("=")
        env[k] = v
    try:
        p = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                           cwd=repo, env=env, capture_output=True,
                           text=True, timeout=timeout)
    except (subprocess.TimeoutExpired, OSError) as e:
        print(f"  remeasure {query} @ {sf_dir}: FAILED ({e})")
        return None
    for line in p.stdout.splitlines():
        if line.lstrip().startswith('{"metric"'):
            try:
                qs = json.loads(line)["queries"]
                # Bench's JSON line strips the "q_" prefix from query
                # names; reporters hold either form
                t = qs.get(query)
                if t is None and query.startswith("q_"):
                    t = qs.get(query[2:])
                if t is None and ("q_" + query) != query:
                    t = qs.get("q_" + query)
                print(f"  remeasure {query} @ {sf_dir}: {t}s "
                      f"(fresh JVM, solo)")
                return t
            except (ValueError, KeyError):
                pass
    print(f"  remeasure {query} @ {sf_dir}: no bench JSON line "
          f"(exit {p.returncode})")
    return None
