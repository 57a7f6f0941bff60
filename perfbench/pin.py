#!/usr/bin/env python3
"""Re-pin the digests the benchmark compares outputs with.

Usage (from the root of a checkout): python3 perfbench/pin.py [n_seeds]

Query mix: graft.Verify dumps each query's result over perfbench/data/sf0.01,
tools/check_oracle.py must confirm every one against the DuckDB oracle, and
only then are the result digests pinned.

Pipelines: for seeds 0..n_seeds-1 (default 30) and both modes, plain
RunPipeline.execute runs write the sinks, the independent recomputation in
check.py must accept them, and only then are the sink digests pinned.

Run it on a commit whose outputs are known good, never to make a failing
check pass.
"""
import json
import os
import shutil
import subprocess
import sys

import check
import run
import world


def pin_queries(launch, work):
    out = os.path.join(work, "verify")
    rc = run.java(launch, work, "graft.Verify", [run.DATA, out, ",".join(run.QUERY_MIX)],
                  "verify.log", timeout=1200)
    if rc != 0:
        sys.exit(f"graft.Verify failed (rc {rc}); see {work}/verify.log")
    oracle = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                             run.DATA, out], capture_output=True, text=True)
    print(oracle.stdout)
    passed = {ln.split()[1] for ln in oracle.stdout.splitlines() if ln.strip().startswith("PASS")}
    if oracle.returncode != 0 or passed != set(run.QUERY_MIX):
        sys.exit("the DuckDB oracle did not confirm every query of the mix; nothing pinned")
    pins = {}
    for n in run.QUERY_MIX:
        digest, rows = check.oracle_canon_digest(os.path.join(out, n))
        pins[n] = {"digest": digest, "rows": rows}
    return pins


def pin_pipelines(launch, work, seeds):
    pins = {}
    for workload in ("pipeline_open", "pipeline_whitelist"):
        whitelist = workload == "pipeline_whitelist"
        jobs = []
        for seed in seeds:
            w = os.path.join(work, f"world-{seed}")
            if not os.path.isdir(w):
                world.generate(seed, w)
            job = f"{w}:{os.path.join(work, workload, str(seed))}"
            jobs.append(job + (f":{os.path.join(w, 'whitelist.json')}" if whitelist else ""))
        r, _ = run.harness(launch, work, "execute", timeout=3600, jobs=",".join(jobs))
        pins[workload] = {}
        for seed in seeds:
            w, out = os.path.join(work, f"world-{seed}"), os.path.join(work, workload, str(seed))
            sinks = check.read_sinks(out)
            problems = check.check_pipeline(w, sinks, whitelist)
            if problems:
                sys.exit(f"{workload} seed {seed}: recomputation disagrees: {problems[:3]}")
            pins[workload][str(seed)] = check.sink_digests(sinks)
    return pins


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    launch = run.build()
    work = os.path.join(run.RUNS, "pin")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pins = {"queries": pin_queries(launch, work),
            "pipelines": pin_pipelines(launch, work, range(n))}
    with open(os.path.join(run.HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
