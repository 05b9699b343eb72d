#!/usr/bin/env python3
"""Benchmark of the wine ETL pipeline and the Catalyst query registry.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --smoke

A run builds the program from source when it changed (perfbench/build.py),
generates its inputs from the seed (perfbench/gen.py), runs one JVM with a
single closed-loop client (perfbench/harness), checks every output against
DuckDB (perfbench/oracle.py) and prints the metrics. The last line of
standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it is the full run record: run conditions,
failure share, tail percentile and canary. perfbench/README.md lists the
workloads and what each metric measures.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD
HEAP = "2g"
# a run must end within 180 s, or 900 s when it builds the program
RUN_LIMIT_S, BUILD_RUN_LIMIT_S = 175, 890
T0 = time.time()

# Registry queries of the mixed workload, chosen by rule and never by
# speed: the first query of each of the four largest SQL-shaped modules
# (Relational, Funnels, Export, StatsOps), and q31, the heavy query whose
# codegen gain ROADMAP.md leaves unconfirmed.
MIX_QUERIES = ["q03_scan_filter_project", "q61_funnel", "q153_shard_export",
               "q81_grouped_mode", "q31_dedup_simhash"]

SETUPS = 3  # set-ups per untraced run; setup_s is their median
SF = 0.01  # fixture scale; the wine workload reads lineitem for the canary

# kind: what an operation is; tail: the percentile reported as
# latency_tail_s. A pass of registry_mix is five queries whose latencies
# form five clusters, so quantiles of whole passes sit in a cluster near
# k/5 + 1/10 whatever the pass count: p70 is the centre of the fourth
# (q61). A 15-second run on 4 cores has about 30 samples, 9 of them beyond
# p70. wine_etl has about 9 samples and reports the median.
WORKLOADS = {
    "wine_etl": dict(kind="wine", rows=5000, tail=50),
    "registry_mix": dict(kind="registry", queries=MIX_QUERIES, tail=70),
}
# --smoke: every workload, traced (so both metric sets are computed), on
# tiny inputs
SMOKE = dict(sf=0.001, rows=1000, seconds=2)


def cores():
    return min(len(os.sched_getaffinity(0)), 4)


def inputs(w, seed):
    """Generate (once per seed) the workload's fixtures; return their
    paths and sizes."""
    sf = w.get("sf", SF)
    sf_dir = os.path.join(BUILD, "inputs", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(sf_dir, "done")):
        shutil.rmtree(sf_dir, ignore_errors=True)
        counts = gen.tables(sf_dir, sf, seed)
        json.dump(counts, open(os.path.join(sf_dir, "done"), "w"))
    counts = json.load(open(os.path.join(sf_dir, "done")))
    size = sum(os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
               for t in counts)
    out = dict(sf=sf, sf_dir=sf_dir, input_rows=sum(counts.values()),
               input_bytes=size)
    if w["kind"] == "wine":
        path = os.path.join(BUILD, "inputs", f"wine{w['rows']}-seed{seed}.json")
        if not os.path.exists(path):
            gen.wine(path + ".tmp", w["rows"], seed)
            os.rename(path + ".tmp", path)
        out.update(json=path, input_rows=w["rows"],
                   input_bytes=os.path.getsize(path))
    return out


def run_jvm(classes, jars, w, inp, out_dir, seed, seconds, trace, limit):
    args = dict(workload=w["kind"], out=out_dir, sf_dir=inp["sf_dir"],
                seconds=seconds, setups=1 if trace else SETUPS,
                trace=int(trace), cores=cores(), seed=seed,
                clk_tck=os.sysconf("SC_CLK_TCK"))
    if w["kind"] == "wine":
        args["json"] = inp["json"]
    else:
        args["queries"] = ",".join(w["queries"])
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Xms{HEAP}",
           f"-Djava.io.tmpdir={tmp}"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.PerfBench"] + [f"{k}={v}" for k, v in args.items()]
    log = open(os.path.join(out_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                         cwd=out_dir)
    try:
        rc = p.wait(timeout=max(1, limit - (time.time() - T0)))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"run: out of time after {limit} s; see {log.name}")
    if rc != 0:
        raise SystemExit(f"run: JVM exited {rc}; see {log.name}")
    return json.load(open(os.path.join(out_dir, "result.json")))


def quantile(xs, q):
    """Harrell-Davis estimate of quantile q in (0, 1): every order statistic
    weighted by the Beta((n+1)q, (n+1)(1-q)) mass of its slot. On the few
    samples of a run it is markedly steadier than a single order statistic
    (registry_mix p70: run-to-run spread 0.12-0.17 against 0.14-0.22)."""
    xs = sorted(xs)
    n = len(xs)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_c = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def pdf(x):
        if x <= 0 or x >= 1:
            return 0.0
        return math.exp(log_c + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))

    def mass(lo, hi, steps=64):  # Simpson's rule
        h = (hi - lo) / steps
        return h / 3 * (pdf(lo) + pdf(hi) + sum(
            (4 if k % 2 else 2) * pdf(lo + k * h) for k in range(1, steps)))
    w = [mass(i / n, (i + 1) / n) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def judge(w, inp, res, check_dir):
    """Which operations failed: threw, or returned a wrong result."""
    if w["kind"] == "wine":
        want = oracle.wine_expected(inp["json"])
        path = os.path.join(check_dir, "wine.txt")
        got = open(path).read() if os.path.exists(path) else None
        wrong = {"wine_pipeline": None if got == want else f"{got} != {want}"}
        expect = {"wine_pipeline": want}
    else:
        names = sorted({s["name"] for s in res["warmup"]})
        wrong, rows = oracle.check_registry(inp["sf_dir"], check_dir, names)
        expect = {n: str(r) for n, r in rows.items()}
    for name, err in res["check_errors"].items():
        wrong[name] = err

    def bad(s):
        return (s["error"] is not None or wrong.get(s["name"]) is not None
                or s["result"] != expect.get(s["name"]))
    return wrong, bad


def end_to_end(res, w):
    """End-to-end metrics of the untraced passes: {name: (value, unit)}."""
    samples = res["timed"]
    lat = [s["s"] for s in samples]
    p = w["tail"]
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "ops_per_s": (len(samples) / res["timed_wall_s"], "1/s"),
        "latency_p50_s": (quantile(lat, 0.5), "s"),
        "latency_tail_s": (quantile(lat, p / 100), "s"),
        "cpu_s_per_op": (res["timed_cpu_s"] / len(samples), "s"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024, "MB"),
    }, dict(tail_percentile=p, samples=len(lat),
            tail_samples_beyond=round(len(lat) * (100 - p) / 100, 1))


def span_union(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def site_file(name):
    """`count at Transforms.scala:107` -> `Transforms`."""
    f = name.rsplit(" at ", 1)[-1].split(":")[0]
    return f.rsplit(".", 1)[0] if f.endswith(".scala") or f.endswith(".java") else f


def per_layer(res, spans, inp, n):
    """Per-layer metrics of the traced phase; `n` is the number of cores."""
    ops = [s for s in spans if s["kind"] == "op"]
    jobs = [s for s in spans if s["kind"] == "job" and s["end"] >= 0]
    stages = [s for s in spans if s["kind"] == "stage" and s["end"] >= 0]
    n_ops = len(ops)
    jobs_of = defaultdict(list)
    for j in jobs:
        jobs_of[j["parent"]].append(j)
    busy_ms = sum(span_union([(j["start"], j["end"]) for j in jobs_of[o["id"]]])
                  for o in ops)
    op_ms = sum(o["end"] - o["start"] for o in ops)

    def tot(k):
        return sum(s[k] for s in stages)
    mb = 1024 * 1024
    # job time by the program file that started the job; a job started
    # from outside the program (the harness's own toRdd, an async AQE stage
    # submission) counts for the file the operation is defined in
    program = {os.path.basename(p)[:-len(".scala")] for p in build.sources()
               if os.sep + "src" + os.sep in p}
    module = {o["id"]: o["module"] for o in ops}
    by_file = defaultdict(float)
    for j in jobs:
        f = site_file(j["name"])
        by_file[f if f in program else module[j["parent"]]] += \
            (j["end"] - j["start"]) / 1000
    json_bytes = os.path.getsize(inp["json"]) if "json" in inp else None
    timed = defaultdict(list)
    for s in res["timed"] + res["traced"]:
        timed[s["name"]].append(s["s"])
    m = {
        "plan.analysis_ms": (sum(o["analysis_ms"] for o in ops) / n_ops, "ms"),
        "plan.optimization_ms":
            (sum(o["optimization_ms"] for o in ops) / n_ops, "ms"),
        "plan.planning_ms": (sum(o["planning_ms"] for o in ops) / n_ops, "ms"),
        "sched.jobs_per_op": (len(jobs) / n_ops, "count"),
        "sched.stages_per_op": (len(stages) / n_ops, "count"),
        "sched.tasks_per_op": (tot("tasks") / n_ops, "count"),
        "sched.driver_gap_ms": ((op_ms - busy_ms) / n_ops, "ms"),
        "sched.single_task_stage_frac":
            (sum(1 for s in stages if s["num_tasks"] == 1) / max(1, len(stages)),
             "ratio"),
        "sched.slot_util": (tot("task_ms") / max(1, busy_ms * n), "ratio"),
        "task.run_s_per_op": (tot("run_ms") / 1000 / n_ops, "s"),
        "task.cpu_s_per_op": (tot("cpu_ns") / 1e9 / n_ops, "s"),
        "task.gc_s_per_op": (tot("gc_ms") / 1000 / n_ops, "s"),
        "task.input_mb_per_op": (tot("input_b") / mb / n_ops, "MB"),
        "task.shuffle_read_mb_per_op": (tot("shuffle_read_b") / mb / n_ops, "MB"),
        "task.shuffle_write_mb_per_op": (tot("shuffle_write_b") / mb / n_ops, "MB"),
        "task.spill_mb_per_op": (tot("spill_b") / mb / n_ops, "MB"),
        "task.output_mb_per_op": (tot("output_b") / mb / n_ops, "MB"),
        "sources.json_scans_per_op":
            (sum(1 for s in stages if json_bytes and s["input_b"] >= json_bytes / 2)
             / n_ops, "count"),
        "sinks.write_amp": (tot("output_b") / n_ops / inp["input_bytes"], "ratio"),
        "stage.staged_mb_after_setup": (res["staged_bytes_after_setup"] / mb, "MB"),
        "stage.dirs_created_timed": (res["staged_dirs_created_timed"], "count"),
        # build-on-first-touch: warm-up time over the timed median
        "warmup.excess_s":
            (sum(s["s"] - statistics.median(timed[s["name"]])
                 for s in res["warmup"] if timed[s["name"]]), "s"),
        "trace.overhead_frac":
            (1 - (len(res["traced"]) / res["traced_wall_s"])
             / (len(res["timed"]) / res["timed_wall_s"]), "ratio"),
    }
    for f in JOB_FILES:
        m[f"jobs_s.{f}"] = (by_file.get(f, 0.0) / n_ops, "s")
    return m, dict(by_file)


# program files whose job time is reported as jobs_s.<file>: every file
# that started jobs in a traced run of either workload on the seed commit
JOB_FILES = ["WinePipeline", "Transforms", "Sinks", "Relational", "Funnels",
             "Export", "StatsOps", "SimHashDedup", "Stage"]


def conditions(inp, seed, seconds, trace, key, res):
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return dict(nproc=len(os.sched_getaffinity(0)), cores=cores(), heap=HEAP,
                sf=inp["sf"], seed=seed, seconds=seconds, trace=int(trace),
                input_rows=inp["input_rows"], input_bytes=inp["input_bytes"],
                git_commit=commit, source_digest=key,
                spark=res["spark_version"], canary_s=res["canary_s"],
                setups=res["setup_s"])


def run(name, w, seed, seconds, trace):
    classes, jars, key, compiled = build.build()
    limit = BUILD_RUN_LIMIT_S if compiled else RUN_LIMIT_S
    inp = inputs(w, seed)
    out_dir = os.path.join(BUILD, "runs", f"{name}-seed{seed}-trace{int(trace)}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    res = run_jvm(classes, jars, w, inp, out_dir, seed, seconds, trace, limit)
    wrong, bad = judge(w, inp, res, os.path.join(out_dir, "check"))
    measured = res["timed"] + res["traced"]
    failed = sum(1 for s in measured if bad(s))
    correct = failed == 0 and all(v is None for v in wrong.values())
    record = dict(workload=name, correct=correct, attempted=len(measured),
                  failed=failed, failed_frac=failed / len(measured),
                  wrong={k: v for k, v in wrong.items() if v is not None},
                  conditions=conditions(inp, seed, seconds, trace, key, res))
    e2e, tail_info = end_to_end(res, w)
    record.update(tail_info)
    record["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    metrics = e2e
    if trace:
        spans = [json.loads(line) for line in
                 open(os.path.join(out_dir, "spans.jsonl")) if line.strip()]
        metrics, record["jobs_s_by_file"] = per_layer(res, spans, inp, cores())
        record["per_layer"] = {k: v for k, (v, _) in metrics.items()}
    with open(os.path.join(out_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    return dict(correct=correct, attempted=len(measured), failed=failed,
                metrics={k: {"value": v, "unit": u}
                         for k, (v, u) in metrics.items()})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload at sf0.001 with a 1k-row wine file")
    a = ap.parse_args()
    if a.smoke:
        t0 = time.time()
        for name, w in WORKLOADS.items():
            r = run(name, {**w, **SMOKE}, a.seed, SMOKE["seconds"], True)
            if not r["correct"]:
                raise SystemExit(f"smoke: {name} incorrect")
        print(f"smoke: all workloads correct in {time.time() - t0:.0f} s")
        return
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(run(a.workload, WORKLOADS[a.workload], a.seed,
                         a.seconds, a.trace == 1)))


if __name__ == "__main__":
    main()
