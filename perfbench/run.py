#!/usr/bin/env python3
"""The repo's benchmark: RunPipeline over a seeded world, and a pinned mix
of registered queries.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads:
  pipeline_open       RunPipeline.execute in open mode over the seeded world
  pipeline_whitelist  the same world, run with whitelist.json (checked and
                      pinned like the others, but left out of BENCHMARK.json
                      to keep a full benchmark session within its time limit)
  query_mix           the pinned query list over perfbench/data/sf0.01 (a
                      copy of the repo's sf0.01 test tables), under the Bench
                      protocol

One process builds the repo and the harness (perfbench/harness, sbt) when
their sources changed, writes the inputs, runs one measuring JVM at
local[4] with one client thread (closed loop, one operation at a time),
checks every output and prints, last, one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
An operation is one RunPipeline.execute (pipelines) or one query (the mix);
a pass is one pipeline run or one pass over the mix.

End-to-end metrics (--trace 0):
  setup_s    JVM launch to session ready (GraftExtensions, warm-up query)
  cold_s     the first pass in the fresh JVM (the mix's cold pass also writes
             each result, for the digest check)
  warm_s     median warm pass, after the cache is cleared
  op_p50_s, op_p90_s   nearest-rank percentiles of warm operation times
With --trace 1 the metrics are the per-layer ones of BENCHMARK.json, from a
traced JVM: listener counts, the DrugDisease stage split and tracing overhead;
a layer the workload does not run reads 0. The spans of the run are in
.bench_run/<workload>/spans.jsonl. The line before the result gives the run
in the issue's terms (pipeline_s, query_p90_s, failed_frac, ...) and the
machine context. Exit code 0 only when every operation ran and every output
check passed.

Pinned digests live in perfbench/pins.json; `perfbench/pin.py` rewrites
them (only ever on a commit whose outputs were confirmed correct).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import world  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
HARNESS = os.path.join(HERE, "harness")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("pipeline_open", "pipeline_whitelist", "query_mix")
XMX = "3g"          # heap of the measuring JVM; these inputs need far less than build.sbt's 8g

# The pinned query mix: one query from each of the six query modules,
# chosen among those the ROADMAP names (q_pipeline_dd_gated,
# q_graph_pagerank, q_dedup_lines of the prefix-filter family, the kNN
# family) and kept to about 6 s a pass warm on local[4].
QUERY_MIX = [
    "q_pipeline_dd_gated",      # Reference
    "q_graph_pagerank",         # Relational
    "q_scalar_json",            # Scalars
    "q_dedup_lines",            # LlmOps
    "q_sim_knn_graph",          # SimSearch
    "q_media_features",         # Media
]

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# build


def source_hash():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HARNESS, "project")):
        files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the repo and the harness with sbt when their sources changed
    and return the runtime classpath."""
    stamp = os.path.join(BUILD, "launch.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            launch = json.load(f)
        if launch["source_sha256"] == digest and all(
                os.path.exists(p) for p in launch["classpath"].split(os.pathsep)):
            return launch
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # resolve offline through the user's sbt repositories file, if any
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("building repo + harness with sbt")
    with open(os.path.join(BUILD, "sbt.log"), "w") as logf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=logf, text=True,
            timeout=800)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        raise RuntimeError(f"sbt build failed (rc {p.returncode}); see .bench_build/sbt.log")
    launch = {"source_sha256": digest, "classpath": lines[-1].strip()}
    with open(stamp, "w") as f:
        json.dump(launch, f)
    return launch


# --------------------------------------------------------------------------
# JVM runs


def java(launch, run_dir, main, args, log_name, timeout=170):
    """Run one JVM with the repo's javaOptions (build.sbt) and the given
    main class; returns its exit code."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{XMX}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", "-cp", launch["classpath"], main] + args)
    with open(os.path.join(run_dir, log_name), "w") as logf:
        return subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, timeout=timeout).returncode


def harness(launch, run_dir, kind, timeout=150, **opts):
    """One harness JVM: returns (result dict, set-up seconds from launch to
    session ready)."""
    tag = f"{kind}-{len(os.listdir(run_dir))}"
    result = os.path.join(run_dir, f"{tag}.json")
    t0 = time.time()
    rc = java(launch, run_dir, "perfbench.Harness",
              [kind, f"result={result}", f"local={os.path.join(run_dir, 'spark-local')}",
               f"run={tag}"] + [f"{k}={v}" for k, v in opts.items()], f"{tag}.log", timeout)
    log(f"{tag}: {time.time() - t0:.1f} s")
    if rc != 0 or not os.path.exists(result):
        raise RuntimeError(f"harness {kind} failed (rc {rc}); see {run_dir}/{tag}.log")
    with open(result) as f:
        r = json.load(f)
    return r, r["ready_epoch_s"] - t0


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quantile(xs, q):
    """Nearest-rank quantile."""
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)] if xs else float("nan")


# --------------------------------------------------------------------------
# workloads


def pins():
    with open(os.path.join(HERE, "pins.json")) as f:
        return json.load(f)


def run_pipeline(launch, run_dir, workload, seed, seconds, trace):
    whitelist = workload == "pipeline_whitelist"
    world_dir = os.path.join(run_dir, "world")
    t = time.time()
    world.generate(seed, world_dir)
    gen_s = time.time() - t
    out = os.path.join(run_dir, "out")
    opts = {"in": world_dir, "out": out}
    if whitelist:
        opts["whitelist"] = os.path.join(world_dir, "whitelist.json")
    r, setup = harness(launch, run_dir, "pipeline", seconds=seconds, trace=trace,
                       spans=os.path.join(run_dir, "spans.jsonl"), **opts)
    sinks = check.read_sinks(os.path.join(out, "run"))
    problems = check.check_pipeline(world_dir, sinks, whitelist)
    pinned = pins()["pipelines"].get(workload, {}).get(str(seed))
    info = {"world_gen_s": gen_s, "digests_pinned": pinned is not None}
    if pinned is not None or trace:
        digests = info["digests"] = check.sink_digests(sinks)
        if pinned is not None and pinned != digests:
            problems.append(f"sink digests differ from the pinned ones for seed {seed}")
    if trace:
        composed = os.path.join(out, "composed")
        if check.sink_digests(check.read_sinks(composed)) != digests:
            problems.append("the traced stage composition wrote other sinks than "
                            "RunPipeline.execute")
        info["layers"] = pipeline_layers(r, world_dir, composed, gen_s)
    return r, setup, problems, info


def pipeline_layers(r, world_dir, composed, gen_s):
    d = r["decompose"]
    reads, prefixes = d["reads"], d["prefixes"]
    inputs = [os.path.join(world_dir, f) for f in os.listdir(world_dir)]
    layers = {"world.gen_s": gen_s, "Sources.read_s": sum(reads.values()),
              "Sources.rows_in": sum(map(count_rows, inputs)),
              "Sources.bytes_in": sum(map(os.path.getsize, inputs))}
    # a stage's self time: its prefix minus the previous prefix, minus the
    # reads of the sources it is the first to need (a stage cheaper than the
    # run-to-run noise can read slightly negative)
    prev = 0.0
    for stage in ("networkLut", "propagate", "makeAssociations", "decorate", "scoreHypotheses"):
        first = sum(reads.get(s, 0.0) for s in d["first_read"][stage])
        layers[f"DrugDisease.{stage}_s"] = prefixes[stage] - prev - first
        prev = prefixes[stage]
    c = d["counts"]
    layers["DrugDisease.fanout"] = c["propagated"] / max(1, c["keyed"])
    layers["DrugDisease.assoc_kept_frac"] = c["kept"] / max(1, c["groups"])
    layers["DrugDisease.hyp_kept_frac"] = c["scored"] / max(1, c["hypotheses"])
    layers["Sources.write_s"] = d["write_s"] - d["materialise_s"]
    files = [os.path.join(dp, n) for dp, _, ns in os.walk(composed) for n in ns
             if n.startswith("part-")]
    layers["Sources.rows_out"] = sum(map(count_rows, files))
    layers["Sources.bytes_out"] = sum(map(os.path.getsize, files))
    layers["Sources.files_out"] = len(files)
    return layers


def count_rows(path):
    if path.endswith(".parquet"):
        return pq.ParquetFile(path).metadata.num_rows
    with open(path, "rb") as f:
        return sum(1 for _ in f)


def run_queries(launch, run_dir, seconds, trace):
    # The tables are fixed, so the seed changes nothing here. The order is
    # fixed too: a query's time depends on the one before it (seeded
    # shuffles moved a warm pass by 17%).
    names = QUERY_MIX
    check_dir = os.path.join(run_dir, "check")
    r, setup = harness(launch, run_dir, "queries", seconds=seconds, trace=trace,
                       spans=os.path.join(run_dir, "spans.jsonl"), data=DATA,
                       names=",".join(names), check=check_dir)
    pinned = pins()["queries"]
    problems = []
    for n in names:
        if not any(o["name"] == n and o["phase"] == "cold" and o["ok"] for o in r["ops"]):
            continue    # already counted as a failed operation
        digest, rows = check.oracle_canon_digest(os.path.join(check_dir, n))
        want = pinned.get(n, {}).get("digest")
        if want != digest:
            problems.append(f"{n}: result digest {digest[:12]} ({rows} rows) differs from "
                            f"the pinned {str(want)[:12]}")
    info = {"order": names}
    if trace:
        traced = [o for o in r["ops"] if o["phase"] == "traced" and o["ok"]]
        passes = sorted({o["pass"] for o in traced})

        def per_pass(value):
            return median([sum(value(o) for o in traced if o["pass"] == p) for p in passes])
        info["layers"] = {"world.gen_s": 0.0, "queries.construct_s": per_pass(lambda o: o["construct_s"])}
        for m in ("Relational", "Scalars", "LlmOps", "SimSearch", "Media", "Reference"):
            info["layers"][f"queries.{m}_s"] = per_pass(
                lambda o: o["seconds"] if o["module"] == m else 0.0)
    return r, setup, problems, info


# --------------------------------------------------------------------------
# metrics

PIPELINE_LAYERS = [
    "Sources.read_s", "Sources.rows_in", "Sources.bytes_in",
    "DrugDisease.networkLut_s", "DrugDisease.propagate_s", "DrugDisease.makeAssociations_s",
    "DrugDisease.decorate_s", "DrugDisease.scoreHypotheses_s",
    "DrugDisease.fanout", "DrugDisease.assoc_kept_frac", "DrugDisease.hyp_kept_frac",
    "Sources.write_s", "Sources.rows_out", "Sources.bytes_out", "Sources.files_out"]
QUERY_LAYERS = ["queries.Relational_s", "queries.Scalars_s", "queries.LlmOps_s",
                "queries.SimSearch_s", "queries.Media_s", "queries.Reference_s",
                "queries.construct_s"]
SPARK_LAYERS = ["driver.planning_s", "driver.gap_s", "driver.jobs", "driver.stages",
                "exec.tasks", "exec.task_s", "exec.gc_s", "exec.shuffle_write_bytes",
                "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.failed_tasks"]


def units(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_in") or name.endswith("bytes_out"):
        return "B"
    if name.endswith("_frac") or name.endswith("fanout"):
        return "ratio"
    return "count"


def pass_times(ops, phase):
    """Per pass: the summed time of the operations that ran (a failed
    operation is counted as failed, never as a time). A pipeline run is a
    pass of its own."""
    by = {}
    for o in ops:
        if o["phase"] == phase and o.get("ok", True):
            by.setdefault(o.get("pass", o["span"]), []).append(o["seconds"])
    return [sum(v) for v in by.values()]


def end_to_end(ops, setup):
    warm = [o["seconds"] for o in ops if o["phase"] == "warm" and o.get("ok", True)]
    return {
        "setup_s": setup,
        "cold_s": median(pass_times(ops, "cold")),
        "warm_s": median(pass_times(ops, "warm")),
        "op_p50_s": median(warm),
        "op_p90_s": quantile(warm, 0.9),
    }


def per_layer(workload, r, info):
    """The traced session's per-layer metrics; a layer the workload does
    not run reads 0."""
    layers = dict(info["layers"])
    ops = [o for o in r["ops"] if o["phase"] == "traced"]
    windows = r["windows"]
    if workload == "query_mix":
        # one value per traced pass: the sum over its queries
        for k in SPARK_LAYERS:
            layers[k] = median([sum(w[k] for w, o in zip(windows, ops) if o["pass"] == p)
                                for p in sorted({o["pass"] for o in ops})])
    else:
        for k in SPARK_LAYERS:
            layers[k] = median([w[k] for w in windows])
    for k in PIPELINE_LAYERS + QUERY_LAYERS:
        layers.setdefault(k, 0.0)
    layers["trace.overhead_s"] = (median(pass_times(r["ops"], "traced"))
                                  - median(pass_times(r["ops"], "untraced")))
    layers["jvm.peak_rss_mb"] = r["peak_rss_mb"]
    return {k: {"value": layers[k], "unit": units(k)}
            for k in ["world.gen_s"] + PIPELINE_LAYERS + SPARK_LAYERS + QUERY_LAYERS
            + ["trace.overhead_s", "jvm.peak_rss_mb"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no repo sources here (build.sbt, src/main/scala): run from the root of a checkout")
        return 2
    launch = build()

    run_dir = os.path.join(RUNS, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if a.workload == "query_mix":
        r, setup, problems, info = run_queries(launch, run_dir, a.seconds, a.trace)
    else:
        r, setup, problems, info = run_pipeline(launch, run_dir, a.workload, a.seed,
                                                a.seconds, a.trace)
    ops = r["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o.get("ok", True)) + (1 if problems else 0)
    correct = not problems and failed == 0
    for p in problems:
        log(f"CHECK FAILED: {p}")
    for o in ops:
        if not o.get("ok", True):
            log(f"FAILED: {o.get('name')}: {o.get('error')}")

    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "failed_frac": failed / attempted, "context": r["context"],
               "source_sha256": launch["source_sha256"],
               "spans": os.path.relpath(os.path.join(run_dir, "spans.jsonl"), ROOT),
               **{k: v for k, v in info.items() if k != "layers"}}
    if a.trace:
        metrics = per_layer(a.workload, r, info)
    else:
        e2e = end_to_end(ops, setup)
        metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
        # the same run in the issue's terms
        issue = ({"pipeline_s": "warm_s", "pipeline_cold_s": "cold_s"}
                 if a.workload != "query_mix" else
                 {"queries_s": "warm_s", "queries_cold_s": "cold_s",
                  "query_p50_s": "op_p50_s", "query_p90_s": "op_p90_s"})
        summary["as_issue"] = {k: e2e[v] for k, v in issue.items()}
    print(json.dumps(summary, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    for sub in ("world", "out", "check", "tmp", "spark-local"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
