#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, every metric by name.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness from source (sbt, offline); later runs reuse that build until a
source file changes. Each run then generates its inputs from the seed,
starts one JVM (Spark `local[4]`, one driver thread, closed loop), runs
the workload, checks every output outside the timed region and prints
one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see README.md in this directory).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

# Short queries: fixed per-query cost (construction, eager checkpoints,
# planning, job scheduling) dominates. p5_dates_iso is left out: it would
# make the pass a DateParse measurement, which ingest covers.
QUERIES = {
    "query_parity": (
        "s1_rowid_scan p2_shape_part p3_literal_columns p5_datetimes_iso "
        "e2_dict_orderpriority e2_encode_orders e2_shared_dict e2_canon_float_dict "
        "s10_fts_reconstruct s13_fts_match s12_fts_term_stats s13_fts_index_match "
        "x_fts_bm25 x_fts_ranked x_fts_snippet x_trigram_search q1_pricing_summary "
        "q3_top_revenue_orders q5_revenue_by_nation q6_forecast_revenue q14_promo_share "
        "x_window_top_orders").split(),
}
WORKLOADS = ("ingest",) + tuple(QUERIES)
# Timed passes per second of run length: the op count of a run depends on
# --seconds alone, never on how fast the ops went. One pass is about ten
# seconds of work on every workload (README.md, sizing).
PASSES_PER_SECOND = 0.1
# Scale factor of the generated query tables: lineitem has ~6M x QUERY_SF
# rows, as in TESTDATA.md.
QUERY_SF = 0.02
BUILD_DIR = ".bench_build"
JVM_HEAP = "3g"
# Options of the root build's forked runs that the harness JVM replaces:
# the heap is sized for a shared 4-core host, and Spark's scratch stays in
# the run's work directory (Harness sets spark.local.dir).
OVERRIDDEN_OPTIONS = ("-Xms", "-Xmx", "-Dspark.local.dir=")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_digest(root):
    """Hash of every file the build reads, and of the one variable the
    root build's run options read, to tell when to rebuild.
    """
    h = hashlib.sha256(os.environ.get("SPARK_GRAFT_JVM_EXTRA", "").encode())
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile the program and the harness; return the runtime classpath
    and the root build's `run / javaOptions`.
    """
    stamp = os.path.join(root, BUILD_DIR, "classpath.json")
    digest = sources_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached["digest"] == digest:
            return cached["classpath"], cached["java_options"]
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(root, BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Keep the JVM's scratch files inside the checkout.
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt ...")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeJavaOptions",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, capture_output=True, text=True,
        timeout=840)
    cp = [line for line in r.stdout.splitlines() if "classes:" in line and not line.startswith("[")]
    if r.returncode != 0 or not cp:
        log(r.stdout[-3000:] + r.stderr[-3000:])
        raise SystemExit("build failed")
    with open(os.path.join(root, "perfbench", "target", "java-options.txt")) as fh:
        java_options = [o for o in fh.read().splitlines() if o]
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1].strip(), "java_options": java_options}, fh)
    return cp[-1].strip(), java_options


def tail_percentile(values):
    """Highest whole percentile with at least ten samples beyond it; the
    maximum when there are fewer than twenty samples.
    """
    n = len(values)
    s = sorted(values)
    if n < 20:
        return 100, s[-1]
    p = int(100 * (1 - 10 / n))
    return p, statistics.quantiles(s, n=100, method="inclusive")[p - 1]


def end_to_end(timed, setup_s, prefix=""):
    lat = [o["seconds"] for o in timed]
    passes = {}
    for o in timed:
        passes[o["pass"]] = passes.get(o["pass"], 0.0) + o["seconds"]
    p, tail = tail_percentile(lat)
    log(f"op_tail_s is p{p} of {len(lat)} ops; pass_s is the median of {len(passes)} passes")
    m = {f"{prefix}pass_s": statistics.median(passes.values()),
         f"{prefix}op_p50_s": statistics.median(lat),
         f"{prefix}op_tail_s": tail}
    if setup_s is not None:
        m["setup_s"] = setup_s
    return m


def passes_for(seconds):
    return max(1, round(seconds * PASSES_PER_SECOND))


def pass_ops(workload, seed):
    """The ops of one timed pass, in order: a create then an append, or
    every query of the workload in seed-shuffled order.
    """
    if workload == "ingest":
        return ["create", "append"]
    order = list(QUERIES[workload])
    random.Random(seed).shuffle(order)
    return order


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("run from the root of a graft checkout: src/main/scala/graft is missing")
    classpath, java_options = build(root)

    t0 = time.time()
    work = os.path.join(root, BUILD_DIR, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        out = run_once(a, root, classpath, java_options, work, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


def run_once(a, root, classpath, java_options, work, t0):
    """One run in its own work directory; the result line as a dict."""
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    truth = None
    if a.workload == "ingest":
        truth = gen.ingest(inputs, a.seed)
    else:
        gen.tables(inputs, a.seed, QUERY_SF)

    # The JVM's own scratch files stay inside the checkout too.
    java = (["java"] + [o for o in java_options if not o.startswith(OVERRIDDEN_OPTIONS)]
            + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"])
    passes, ops_of_pass = passes_for(a.seconds), pass_ops(a.workload, a.seed)
    cmd = java + ["-cp", classpath, "perfbench.Harness",
                  "ingest" if a.workload == "ingest" else "queries",
                  str(passes), str(a.trace), inputs, work, ",".join(ops_of_pass)]
    with open(os.path.join(work, "harness.log"), "w") as logf:
        r = subprocess.run(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT, timeout=150)
    res_path = os.path.join(work, "harness.json")
    if r.returncode != 0 or not os.path.exists(res_path):
        with open(os.path.join(work, "harness.log")) as fh:
            log(fh.read()[-4000:])
        raise SystemExit(f"harness exited with {r.returncode}")
    with open(res_path) as fh:
        res = json.load(fh)

    ops = res["ops"]
    if a.workload == "ingest":
        failures, probes, sizes = checks.ingest(ops, truth)
    else:
        (failures, probes), sizes = checks.queries(ops, res["oracle"], inputs), {}
    for name, why in sorted(failures.items()):
        log(f"FAIL {name}: {why}")
    for name, why in sorted(probes.items()):
        log(f"known defect {name}: {why}")

    counted = [o for o in ops if not o["kind"].startswith("probe_")]
    timed = [o for o in counted if o["pass"] >= 0]
    if [o["kind"] for o in timed] != ops_of_pass * passes:
        raise SystemExit("the harness did not run the planned ops")
    setup_s = res["first_op_ms"] / 1000.0 - t0
    if a.trace:
        self_time = {}
        for sp in res["spans"]:
            self_time[sp["name"]] = self_time.get(sp["name"], 0.0) + sp["self_seconds"]
        for name, sec in sorted(self_time.items(), key=lambda x: -x[1]):
            if sec >= 0.001:
                log(f"span self time {sec:9.3f} s  {name}")
        metrics = dict(res["layers"])
        metrics.update(end_to_end(timed, None, prefix="traced."))
        metrics.update(sizes)
        for kind in ("create", "append"):
            ts = [o["seconds"] for o in timed if o["kind"] == kind]
            if ts:
                metrics[f"ingest.{kind}_s"] = statistics.median(ts)
        metrics["probes.failing"] = float(len(probes))
    else:
        metrics = end_to_end(timed, setup_s)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    return {"correct": not failures, "attempted": len(counted), "failed": len(failures),
            "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                        for m in declared}}




if __name__ == "__main__":
    main()
