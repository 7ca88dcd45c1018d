#!/usr/bin/env python3
"""Benchmark of the graft engine, one workload per run.

    python3 perfbench/run.py --workload cold_build --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) into the build's own target directories; later
runs reuse the build while no source file is newer. Each run then

  1. generates its inputs from --seed under perfbench/.work/run,
  2. starts one JVM that sets up a Spark session, runs pass 0 (every query
     once, cold) and then the loop passes (Harness.scala),
  3. checks every distinct result against its DuckDB twin (oracle.py),
  4. prints a stamp line, one line per metric, and last a JSON object:
     {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
     end-to-end metrics, --trace 1 the per-layer ones (layers.py).

Workloads (BENCHMARK.json says why each was chosen):
  serve_warm       the 12 headline queries over generated sf0.1 tables
  wordcount_large  the 9-query word-count family over a generated Zipf corpus
  cold_build       five session-artifact queries over generated tables;
                   pass 0 builds, the loop passes serve from the artifacts
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

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import layers  # noqa: E402
from oracle import Oracle  # noqa: E402

HEADLINE = ["wordcount", "top10_words", "q1_agg", "q_star_join", "q_window_topk",
            "q_tumbling_1h", "q_dedup_exact", "q_cosine_topk", "q_neardup_minhash",
            "q_asof_join_custom", "q_ann_topk", "q_pipeline_curated"]
FAMILY = ["wordcount", "wordcount_rdd", "top10_words", "perlang_wordcount",
          "stopword_wordcount", "top_term_per_doc", "doc_token_counts", "q_topk_udaf",
          "q_sort_within"]
ARTIFACT_QUERIES = ["q_pca_scores", "q_suffix_spans_served", "q_stream_stream_join",
                    "q_embedding_clusters", "q_bm25_served"]

CORPUS_DOCS, CORPUS_VOCAB = 10000, 18000
# serve_warm: sf0.1 star tables and events; documents and embeddings at their
# sf0.01 size, so the all-pairs DuckDB twins stay within a run's budget
WARM_ROWS = dict(datagen.SF01, documents=500, embeddings=500)
# cold_build reads documents, embeddings and events; the star tables stay tiny
COLD_ROWS = dict(customer=150, supplier=10, part=200, orders=1500, lineitem=6000,
                 events=5000, documents=250, embeddings=250)

WORKLOADS = {
    # cold: pass 0 (the build) is what the workload measures, so set-up warms
    # the session with a small word count instead, and the per-layer metrics
    # describe pass 0; otherwise pass 0 is the warm-up and they describe the
    # loop passes.
    # pass_s: a loop pass's nominal length on a 4-vCPU host. A run makes
    # ceil(--seconds / pass_s) loop passes: a fixed amount of work, so runs on
    # a faster or slower host take the same samples, and a loop pass that
    # happens to fit or not cannot split the results into two groups.
    "serve_warm": dict(queries=HEADLINE, cold=False, pass_s=6.0,
                       data=lambda d, seed: datagen.tables(d, seed, WARM_ROWS)),
    "wordcount_large": dict(queries=FAMILY, cold=False, pass_s=4.0,
                            data=lambda d, seed: datagen.corpus(d, seed, CORPUS_DOCS, CORPUS_VOCAB)),
    "cold_build": dict(queries=ARTIFACT_QUERIES, cold=True, pass_s=0.8,
                       data=lambda d, seed: datagen.tables(d, seed, COLD_ROWS)),
}

END_TO_END = [("setup_s", "s"), ("latency_p50_s", "s"), ("latency_p90_s", "s"),
              ("queries_per_s", "1/s"), ("tokens_per_s", "1/s"), ("build_s", "s"),
              ("serve_after_build_s", "s"), ("heap_used_mb", "MB")]

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_HEAP = "4g"
BUILD_TIMEOUT_S, JVM_TIMEOUT_S = 840, 150


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def sources():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def build():
    """Compile engine and harness if needed; return the runtime classpath."""
    stamp = os.path.join(WORK, "classpath.txt")
    newest = max(os.path.getmtime(f) for f in sources())
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest:
        return open(stamp).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=f, text=True, timeout=BUILD_TIMEOUT_S)
    with open(log, "a") as f:
        f.write(r.stdout)
    cp = [ln for ln in r.stdout.splitlines() if "scala-2.13" in ln and ":" in ln and " " not in ln]
    if r.returncode != 0 or not cp:
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(stamp, "w") as f:
        f.write(cp[-1])
    return cp[-1]


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit():
    """HEAD of the repository rooted at ROOT, or None outside a git checkout."""
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def loop_passes(workload, args):
    """Loop passes of a run; a traced run needs a traced and an untraced one."""
    return max(2 if args.trace else 1, math.ceil(args.seconds / workload["pass_s"]))


def run_jvm(cp, workload, args, run_dir, data_dir, warm_dir):
    out = os.path.join(run_dir, "out")
    for d in ("tmp", "local", "cwd"):
        os.makedirs(os.path.join(run_dir, d))
    cmd = ["java", *[x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Harness",
           f"data={data_dir}", f"warmup={warm_dir if workload['cold'] else ''}", f"queries={','.join(workload['queries'])}",
           f"passes={loop_passes(workload, args)}", f"trace={args.trace}",
           f"seed={args.seed}", f"cores={cores()}", f"out={out}"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd + [f"launchNs={time.time_ns()}"], cwd=os.path.join(run_dir, "cwd"),
                                env=env, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out after {JVM_TIMEOUT_S} s; see {log}")
    if code != 0 or not os.path.exists(os.path.join(out, "run.json")):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"harness exited with {code}; see {log}")
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sql = json.load(f)
    return run, sql, out


def check(run, sql, data_dir):
    """Failed executions: thrown, or a result that differs from its twin."""
    oracle = Oracle(data_dir, sql, cores())
    bad = {}
    for d in run["dumps"]:
        reason = oracle.check(d["query"], d["path"])
        if reason:
            bad[(d["query"], d["digest"])] = reason
    failed = [e for e in run["execs"] if e["err"] or (e["query"], e["digest"]) in bad]
    for (q, _), reason in sorted(bad.items()):
        print(f"# mismatch {q}: {reason}")
    for e in run["execs"]:
        if e["err"]:
            print(f"# error {e['query']} (pass {e['pass']}): {e['err']}")
    return failed


def end_to_end(run, tokens, failed):
    """The user-facing metrics of one untraced run."""
    bad = {id(e) for e in failed}
    secs = lambda e: (e["construct_ns"] + e["plan_ns"] + e["collect_ns"]) / 1e9  # noqa: E731
    loop = [e for e in run["execs"] if e["pass"] >= 1]
    ok = [secs(e) for e in loop if id(e) not in bad]
    if not ok:
        fail("no loop execution succeeded")
    passes = {}
    for e in loop:
        passes[e["pass"]] = passes.get(e["pass"], 0.0) + secs(e)
    done = len(ok) / run["loop_s"]
    return {
        "setup_s": run["setup_s"],
        "latency_p50_s": statistics.median(ok),
        "latency_p90_s": statistics.quantiles(ok, n=10, method="inclusive")[8] if len(ok) > 1 else ok[0],
        "queries_per_s": done,
        "tokens_per_s": tokens * done,
        "build_s": sum(secs(e) for e in run["execs"] if e["pass"] == 0),
        "serve_after_build_s": statistics.median(passes.values()),
        "heap_used_mb": run["heap_used_mb"],
    }, len(ok)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ROOT}; run from a full checkout")
    workload = WORKLOADS[args.workload]
    load_start = os.getloadavg()[0]
    if load_start > cores():
        print(f"perfbench: warning: load1 {load_start:.2f} exceeds {cores()} cores", file=sys.stderr)

    os.makedirs(WORK, exist_ok=True)
    cp = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, warm_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "warmup")
    t0 = time.monotonic()
    info = workload["data"](data_dir, args.seed)
    if workload["cold"]:
        datagen.corpus(warm_dir, args.seed, 500, 200)
    tokens = datagen.count_tokens(data_dir)
    if info:
        print("# corpus " + json.dumps(info, sort_keys=True))

    t1 = time.monotonic()
    run, sql, out = run_jvm(cp, workload, args, run_dir, data_dir, warm_dir)
    t2 = time.monotonic()
    failed = check(run, sql, data_dir)
    print(f"# wall: inputs {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s, check {time.monotonic() - t2:.1f} s")
    loop_passes = sorted({e["pass"] for e in run["execs"] if e["pass"] >= 1})
    print("# stamp " + json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": cores(), "load1_start": load_start, "load1_end": os.getloadavg()[0],
        "jvm": run["jvm"], "spark": run["spark"], "scala": run["scala"],
        "git_commit": git_commit(), "source_digest": source_digest(), "conf": run["conf"],
        "passes": 1 + len(loop_passes), "executions": len(run["execs"])}, sort_keys=True))

    if args.trace:
        focus = [0] if workload["cold"] else [p for p in loop_passes if p % 2 == 1]
        events = layers.load_events(os.path.join(out, "spans.jsonl"))
        metrics = layers.rollup(run, events, focus, cores())
        metrics["trace.overhead_s"] = (layers.overhead_s(run, loop_passes), "s")
    else:
        values, samples = end_to_end(run, tokens, failed)
        metrics = {name: (values[name], unit) for name, unit in END_TO_END}
        print(f"# latency samples: {samples} over {len(loop_passes)} loop passes")
    for name, (v, unit) in metrics.items():
        print(f"# {name} = {v:.6g} {unit}")
    attempted = len(run["execs"])
    print(f"# failed_frac = {len(failed) / attempted:.6g}")
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
