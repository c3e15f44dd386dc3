#!/usr/bin/env python3
"""Benchmark for the graft MapReduce/Spark library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program from source
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen_data.py), runs the harness (perfbench/harness) in one JVM on
``local[N]``, checks every result against a computation made outside the
program (perfbench/check.py), and prints one JSON object as its last line.

Everything it writes goes under ``.perfbench/`` in the checkout: the build,
the generated inputs, and one directory per run under ``.perfbench/runs/``
holding the result dumps, ``result.json`` from the harness, and
``summary.json`` (every metric, plus the per-query profile of a traced run).
See perfbench/README.md for the workloads, metrics and reference figures.
"""
import argparse
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
sys.dont_write_bytecode = True  # leave no caches in the checkout

import build  # noqa: E402
import check  # noqa: E402
import gen_data  # noqa: E402

CORES = min(4, len(os.sched_getaffinity(0)))
TABLE_SEED = 20240101      # the star-schema tables are fixed; see README
TEXT_MB, EDGE_MB = 16, 6   # mr_text corpus size
JVM_TIMEOUT_S = 160
WARMUP = 1                 # untimed passes before the first timed round
KEEP_RUNS, KEEP_CORPORA = 40, 4

WORKLOADS = {
    # the paper's three applications on a generated multi-file corpus:
    # scan, tokenize, partial aggregation, shuffle and range sort
    "mr_text": {"ops": ["mr_wc", "mr_grep", "mr_vertex_degree"]},
    # registry queries on tiny tables, where each query's fixed cost (table
    # resolution, planning, job scheduling) dominates, plus one streaming
    # bridge that commits state-store files on every micro-batch
    "registry_small": {"sf": 0.01, "ops": [
        "wc_wordcount", "grep_contains", "vertex_degree", "q_tpch_q1",
        "q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_tpch_q18",
        "stream_interval_join"]},
}
# the paper's applications, as each workload runs them
APPS = {"wc_s": ("mr_wc", "wc_wordcount"), "grep_s": ("mr_grep", "grep_contains"),
        "vertex_degree_s": ("mr_vertex_degree", "vertex_degree")}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# Query costs are gated in CPU seconds of the program's own threads (the
# JVM's process CPU time less its JIT compiler and GC threads): on a shared
# host the wall time follows the neighbours' load (see README), and is
# reported in summary.json, ungated.
END_TO_END = {"setup_s": "s", "cpu_s": "s", "query_cpu_p50_s": "s",
              "input_mb_per_cpu_s": "MB/s", "peak_rss_mb": "MB"}
# per-layer metrics printed on the last line (the profile holds them all)
PER_LAYER = {
    "Tables.load_jobs": "count", "queries.build_s": "s", "queries.build_jobs": "count",
    "plan.analysis_s": "s",
    "plan.optimization_s": "s", "plan.planning_s": "s", "plan.exchanges": "count",
    "execute.s": "s", "execute.jobs": "count", "execute.stages": "count",
    "execute.tasks": "count", "execute.executor_run_s": "s",
    "execute.busy_frac": "ratio", "execute.shuffle_write_mb": "MB",
    "execute.shuffle_read_mb": "MB", "streaming.batches": "count",
    "streaming.state_rows": "count", "reset_s": "s",
    "jvm.jit_cpu_s": "s", "jvm.gc_cpu_s": "s"}


def prune(dirpath, keep):
    if not os.path.isdir(dirpath):
        return
    entries = sorted((os.path.getmtime(os.path.join(dirpath, e)), e) for e in os.listdir(dirpath))
    for _, e in entries[:max(len(entries) - keep, 0)]:
        shutil.rmtree(os.path.join(dirpath, e), ignore_errors=True)


def prepare_inputs(work, wl, seed):
    """Generate (or reuse) the workload's inputs; returns spec fields."""
    data = os.path.join(work, "data")
    if "sf" in wl:
        sf = wl["sf"]
        tdir = gen_data.tables(os.path.join(data, f"tables-sf{sf}-g{TABLE_SEED}"), sf, TABLE_SEED)
        return {"data": tdir, "text": "-", "edges": "-"}, None
    cdir_root = os.path.join(data, "corpus")
    cdir = os.path.join(cdir_root, f"s{seed}-t{TEXT_MB}-e{EDGE_MB}")
    manifest = gen_data.corpus(cdir, seed, TEXT_MB, EDGE_MB)
    os.utime(cdir)
    prune(cdir_root, KEEP_CORPORA)
    return {"data": "-",
            "text": ",".join(os.path.join(cdir, f) for f in manifest["text_files"]),
            "edges": ",".join(os.path.join(cdir, f) for f in manifest["edge_files"])}, manifest


def run_jvm(classes, spec_path, run_dir):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = [build.java()]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # no hsperfdata file in the system temp directory
    # compiler threads stay alive, so their CPU time can be told apart; the
    # parallel collector has no concurrent cycles to load the program's
    # threads (under G1 the GC threads' CPU swung 0.3-9.8 s per round)
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join(classes + (jars,)), "org.apache.spark.perfbench.PerfBench", spec_path]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"perfbench: harness exceeded {JVM_TIMEOUT_S}s; see {run_dir}/jvm.log")
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        sys.exit(f"perfbench: harness exited {rc}; see {run_dir}/jvm.log")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    work = os.path.join(root, ".perfbench")
    classes = build.build(root, work)
    wl = WORKLOADS[args.workload]
    fields, manifest = prepare_inputs(work, wl, args.seed)

    runs = os.path.join(work, "runs")
    prune(runs, KEEP_RUNS)
    run_dir = os.path.join(runs, f"{time.strftime('%Y%m%d-%H%M%S')}-{args.workload}"
                                 f"-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir)
    ops = list(wl["ops"])
    random.Random(args.seed).shuffle(ops)  # order dependence shows across seeds
    spec = {"cores": CORES, "seconds": args.seconds, "trace": args.trace, "warmup": WARMUP,
            "out": run_dir, "grep_term": gen_data.GREP_TERM, **fields}
    spec_path = os.path.join(run_dir, "spec.tsv")
    with open(spec_path, "w") as f:
        for k, v in spec.items():
            f.write(f"{k}\t{v}\n")
        for op in ops:
            f.write(f"op\t{op}\n")

    res = run_jvm(classes, spec_path, run_dir)

    # --- correctness -------------------------------------------------------
    # an operation that threw in every round has nothing to check; it
    # counts in `failed`
    results = os.path.join(run_dir, "results")
    checked = [op for op in ops if op not in res["never_ok"]]
    if manifest is not None:
        problems = check.check_mr_text(results, manifest, checked)
    else:
        problems = check.check_registry(results, fields["data"], checked,
                                        os.path.join(run_dir, "duck"))
    problems += [f"{op}: result differs between rounds" for op in res["mismatches"]]
    for p in problems:
        print(f"CHECK FAIL {p}", file=sys.stderr)
    for p in res["failures"]:
        print(f"FAILED {p}", file=sys.stderr)

    # --- metrics -----------------------------------------------------------
    rounds = res["rounds"]
    plain = [r for r in rounds if not r["traced"]]

    def per_window(key):
        return [o[key] for r in plain for o in r["ops"] if o["window_s"] >= 0]

    def per_round(key):
        return [sum(o[key] for o in r["ops"] if o["window_s"] >= 0) for r in plain]

    round_walls, round_cpus = per_round("window_s"), per_round("cpu_s")
    wall, cpu = median(round_walls), median(round_cpus)
    if manifest is not None:
        per_op_bytes = {"mr_wc": manifest["text_bytes"], "mr_grep": manifest["text_bytes"],
                        "mr_vertex_degree": manifest["edge_bytes"]}
    else:
        size = {t: os.path.getsize(os.path.join(fields["data"], f"{t}.parquet"))
                for t in gen_data.TABLES}
        per_op_bytes = {op: sum(size[t] for t in res["tables"][op]) for op in ops}
    input_mb = sum(per_op_bytes.values()) / 1e6

    def per_op(key):
        return {op: median([o[key] for r in plain for o in r["ops"]
                            if o["op"] == op and o["window_s"] >= 0]) for op in ops}

    e2e = {"setup_s": res["setup_s"], "cpu_s": cpu, "query_cpu_p50_s": median(per_window("cpu_s")),
           "input_mb_per_cpu_s": input_mb / cpu if cpu > 0 else 0.0,
           "peak_rss_mb": res["peak_rss_mb"]}
    walls = {"wall_s": wall, "query_p50_s": median(per_window("window_s")),
             "input_mb_per_s": input_mb / wall if wall > 0 else 0.0,
             "jit_cpu_s": median(per_round("jit_cpu_s")), "gc_cpu_s": median(per_round("gc_cpu_s")),
             "steal": median([r["steal"] for r in plain])}
    per_op_wall, per_op_cpu = per_op("window_s"), per_op("cpu_s")
    apps = {k: next(per_op_cpu[o] for o in names if o in per_op_cpu)
            for k, names in APPS.items()}

    layer, overhead = {}, None
    if args.trace:
        by_round = {}
        for q in res["profile"]:
            by_round.setdefault(q["round"], []).append(q)
        keys = [k for k in res["profile"][0] if k not in ("round", "op", "rows")] \
            if res["profile"] else []
        sums = [{k: sum(q[k] for q in qs) for k in keys} for qs in by_round.values()]
        layer = {k: median([s[k] for s in sums]) for k in keys}
        # busy fraction of the workload: executor time over cores x execute wall
        busy = [s["execute.executor_run_s"] / (CORES * s["execute.s"])
                for s in sums if s["execute.s"] > 0]
        layer["execute.busy_frac"] = median(busy)
        # against the untraced rounds other than the first, which JIT
        # compilation still slows
        overhead = {k: median([s[k] for s in sums]) - median(v[1:] or v)
                    for k, v in (("window_s", round_walls), ("cpu_s", round_cpus))}

    summary = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "cores": CORES, "ops": ops,
               "rounds": len(rounds), "boot_s": res["boot_s"], "input_mb_per_round": input_mb,
               "end_to_end": e2e, "wall": walls, "apps_cpu_s": apps,
               "per_op_wall_s": per_op_wall, "per_op_cpu_s": per_op_cpu, "per_layer": layer,
               "trace_overhead_s": overhead, "problems": problems,
               "failures": res["failures"], "profile": res["profile"]}
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)

    attempted = sum(len(r["ops"]) for r in rounds)
    failed = len(res["failures"])
    if args.trace:
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        print(json.dumps({"trace_overhead_s": overhead, "profile": run_dir + "/summary.json"}))
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        print(json.dumps({"wall": walls, "apps_cpu_s": apps, "rounds": len(rounds),
                          "run_dir": run_dir}))
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
