#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload marts|llm_prep|medallion \
        --seed N --seconds S --trace 0|1

Builds the repo's library sources together with the harness in
`perfbench/harness` (sbt, output under `.bench_build/`), generates the
inputs, runs the workload in a fresh JVM at local[<cores>], checks every
output, and prints as its last line
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (`--trace 0`) or the per-layer metrics of the
traced run (`--trace 1`). See perfbench/METRICS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import postings  # noqa: E402

MARTS = [
    "q01_pricing_summary", "q02_filter_project", "q03_top_unshipped",
    "q04_order_priority", "q05_regional_revenue", "q06_revenue_delta",
    "q07_window_rank", "q08_running_total", "q09_distinct_agg",
    "q10_topk_orders", "q11_conditional_agg", "q12_union_all",
    "q13_outer_join_count", "q14_anti_join", "q15_semi_join",
    "q16_scalar_subquery", "q17_having", "q18_rollup", "q19_string_funcs",
    "q20_date_trunc", "q29_percentile", "q43_cube", "q44_approx_distinct",
    "q47_pivot", "q48_argmax", "q49_corr", "q55_window_suite",
    "q63_approx_quantile", "q73_trailing_window", "q75_set_ops",
    "q98_salted_join", "q139_grouping_sets",
]
LLM_PREP = [
    "q94_dedup_components", "q96_keep_best", "q116_leak_split",
    "q117_split_leakage", "q120_dup_weights", "q126_dup_card",
    "q134_memorization_card", "q35_ngram_jaccard", "q36_minhash_lsh",
    "q37_simhash", "q115_bpe_learn", "q119_ccnet_buckets", "q78_tfidf",
]
# Work per run is fixed, not timed: `--seconds` buys this many nominal
# seconds per round (query workloads) or per writer tick (medallion), as
# measured on 4 cores. A fixed op count keeps the tail percentile and the
# per-layer totals comparable between runs of code that differ in speed.
NOMINAL_ROUND_S = {"marts": 11.0, "llm_prep": 18.0}
NOMINAL_TICK_S = 8.0
SCALE, DATA_SEED = 0.01, 42
MEDALLION_WARM_TICKS = 2
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Per-layer metrics of the traced run, in BENCHMARK.json order.
PER_LAYER = [(n, u) for group in (
    [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.driver_outside_jobs_s", "s"), ("spark.planning_s", "s"),
     ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
     ("spark.core_busy_frac", "ratio"), ("spark.gc_s", "s"), ("spark.spill_bytes", "bytes"),
     ("spark.task_queue_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
     ("spark.shuffle_read_bytes", "bytes"), ("spark.input_bytes", "bytes"),
     ("spark.task_failures", "count")],
    [("operators.calls", "count"), ("operators.build_s", "s"), ("operators.build_jobs", "count"),
     ("operators.action_s", "s"), ("operators.materialized_rdds", "count"),
     ("operators.rows_out", "rows"), ("operators.leftover_rdds", "count"),
     ("operators.self_s", "s")],
    [("sources.gate_calls", "count"), ("sources.gate_s", "s"), ("sources.gate_admit_frac", "ratio"),
     ("sources.read_calls", "count"), ("sources.read_s", "s"), ("sources.read_file_frac", "ratio"),
     ("sources.table_files", "count"), ("sources.compact_calls", "count"),
     ("sources.compact_s", "s"), ("sources.compact_bytes", "bytes"),
     ("sources.store_ops", "count"), ("sources.publish_s", "s"), ("sources.cas_losses", "count"),
     ("sources.bytes_written", "bytes"), ("sources.self_s", "s")],
    [("plans.merge_calls", "count"), ("plans.merge_s", "s"),
     ("plans.merge_dirs_rewritten", "count"), ("plans.self_s", "s")],
    [("streaming.drains", "count"), ("streaming.drain_s", "s"), ("streaming.trigger_s", "s"),
     ("streaming.addbatch_s", "s"), ("streaming.plan_s", "s"), ("streaming.log_s", "s"),
     ("streaming.overhead_s", "s"), ("streaming.rows_in", "rows"), ("streaming.self_s", "s")],
    [("harness.trace_overhead_frac", "ratio"), ("harness.failed_frac", "ratio"),
     ("medallion.write_p50_s", "s"), ("medallion.write_tail_s", "s"),
     ("medallion.ingest_rows_per_s", "rows/s"), ("medallion.space_amp", "ratio")],
) for n, u in group]
# A fixed heap and young generation keep the peak resident set from
# following the collector's adaptive sizing from run to run.
HEAP_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
RUN_BUDGET_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths, exts):
    h = hashlib.sha256()
    for base in paths:
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith(exts) or f == "build.properties":
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the library + harness once per source tree; returns the
    runtime classpath."""
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src):
        sys.exit(f"perfbench: no graft sources at {os.path.relpath(src, os.getcwd())}; "
                 "run from the root of a graft checkout")
    harness = os.path.join(HERE, "harness")
    stamp = tree_hash([os.path.join(ROOT, "src", "main"), harness],
                      (".scala", ".sbt", ".java", "DataSourceRegister"))
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log(f"building harness + library ({stamp})")
    t0 = time.time()
    out_file = os.path.join(BUILD, "build.log")
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      f"-Dsbt.global.base={BUILD}/sbt-global", "-Dsbt.server.autostart=false",
                      "compile", "export Runtime/fullClasspath"],
                     harness, out_file, time.time() + 840, env)
    stdout = open(out_file, errors="replace").read()
    lines = [ln for ln in stdout.splitlines() if "scala-2.13/classes" in ln and ".jar" in ln]
    if code != 0 or not lines:
        sys.stderr.write(stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    log(f"built in {time.time() - t0:.0f}s")
    return lines[-1].strip(), stamp


def star_data():
    """The fixed sf0.1 star + corpus tables the query workloads read."""
    stamp = tree_hash([os.path.join(HERE, "datagen.py")], (".py",))
    d = os.path.join(BUILD, "data", f"sf{SCALE}-s{DATA_SEED}-{stamp}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, SCALE, DATA_SEED)
        open(os.path.join(d, "_done"), "w").close()
    return d, stamp


def java_cmd(cp, work, *args):
    return (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            HEAP_FLAGS + [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-cp", cp, "graft.perfbench.Main"] + list(args))


def run_group(cmd, cwd, log_file, deadline, env=None):
    """Run `cmd` in its own process group with output to `log_file`; kill
    the whole group at the deadline. Returns the exit code or "timeout"."""
    with open(log_file, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=cwd,
                                env=env, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return "timeout"


def run_jvm(cmd, work, deadline):
    """Run one JVM to completion (or kill it at the deadline); returns
    (launch time, exit code)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    t_launch = time.time()
    return t_launch, run_group(cmd, work, os.path.join(work, "jvm.log"), deadline)


def jvm_tail(work):
    with open(os.path.join(work, "jvm.log"), errors="replace") as f:
        return f.read()[-3000:]


def oracle_dir(cp, stamp, entries, data_dir, data_stamp):
    """DuckDB results of SparkEntry.oracleSql for `entries`, computed once
    per build and data set (never inside a timed run)."""
    sql_file = os.path.join(BUILD, "oracle", f"sql-{stamp}.json")
    if not os.path.exists(sql_file):
        work = os.path.join(BUILD, "oracle", "jvm")
        os.makedirs(work, exist_ok=True)
        _, code = run_jvm(java_cmd(cp, work, "--mode", "oracles", "--entries",
                                   ",".join(MARTS + LLM_PREP), "--out", sql_file + ".tmp"),
                          work, time.time() + 120)
        if code != 0:
            sys.stderr.write(jvm_tail(work))
            sys.exit("perfbench: oracle dump failed")
        os.replace(sql_file + ".tmp", sql_file)
    sqls = json.load(open(sql_file))
    key = hashlib.sha256((os.path.basename(data_dir) + data_stamp +
                          json.dumps(sqls, sort_keys=True)).encode()).hexdigest()[:16]
    out = os.path.join(BUILD, "oracle", key)
    check.compute_oracles({e: sqls.get(e) for e in entries}, data_dir, out)
    return out


def plan_queries(rng, entries, rounds, traced):
    lines = ["warm " + " ".join(rng.permutation(entries))]
    lines += ["round " + " ".join(rng.permutation(entries)) for _ in range(rounds)]
    if traced:
        lines.append("traced " + " ".join(rng.permutation(entries)))
    return lines


def plan_medallion(seed, ticks_timed, traced, work):
    n_traced = ticks_timed if traced else 0
    gen = postings.Postings(seed, MEDALLION_WARM_TICKS + ticks_timed + n_traced)
    sizes = gen.write(os.path.join(work, "pending"))
    phases = (["warm"] * MEDALLION_WARM_TICKS + ["timed"] * ticks_timed +
              ["traced"] * n_traced)
    lines = [f"tick {ph} {gen.batch_id(t)} {gen.file_name(t)} {gen.event_hi_ms(t)} "
             f"{len(gen.ticks[t])}" for t, ph in enumerate(phases)]
    lines += gen.read_plan(seed, gen.ids_before(1))
    return lines, gen, sizes, phases


def pctl(vals, p):
    s = sorted(vals)
    if len(s) == 1:
        return s[0]
    return statistics.quantiles(s, n=100, method="inclusive")[p - 1] if p < 100 else s[-1]


def tail_pct(n):
    """The highest whole percentile with at least 10 samples beyond it;
    100 (the maximum) when there are fewer than 20 samples."""
    for p in range(99, 49, -1):
        if n * (100 - p) / 100 >= 10:
            return p
    return 100


def phase_wall(ops):
    return max(o["start_ms"] / 1e3 + o["seconds"] for o in ops) - min(o["start_ms"] / 1e3 for o in ops)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["marts", "llm_prep", "medallion"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_BUDGET_S

    import numpy as np
    cp, stamp = build()
    work = os.path.join(BUILD, "runs", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rng = np.random.default_rng(a.seed)
    plan_file = os.path.join(work, "plan.txt")
    gen = sizes = phases = None
    if a.workload == "medallion":
        data_dir = os.path.join(work, "pending")
        ticks = max(2, int(a.seconds // NOMINAL_TICK_S))
        lines, gen, sizes, phases = plan_medallion(a.seed, ticks, a.trace == 1, work)
    else:
        entries = MARTS if a.workload == "marts" else LLM_PREP
        data_dir, data_stamp = star_data()
        odir = oracle_dir(cp, stamp, entries, data_dir, data_stamp)
        rounds = max(1, int(a.seconds // NOMINAL_ROUND_S[a.workload]))
        lines = plan_queries(rng, entries, rounds, a.trace == 1)
    with open(plan_file, "w") as f:
        f.write("\n".join(lines) + "\n")
    # the deadline restarts here: build, data and oracle set-up are the
    # checkout's one-off costs, not this run's
    deadline = max(deadline, time.time() + RUN_BUDGET_S - 20)

    result_file = os.path.join(work, "result.json")
    t_launch, code = run_jvm(java_cmd(cp, work, "--mode", "run", "--workload", a.workload,
                                      "--plan", plan_file, "--data", data_dir, "--work", work,
                                      "--trace", str(a.trace), "--out", result_file),
                             work, deadline)
    if code != 0 or not os.path.exists(result_file):
        sys.stderr.write(jvm_tail(work))
        sys.exit(f"perfbench: workload JVM exited with {code}")
    res = json.load(open(result_file))
    ops = res["ops"]
    log(f"workload JVM ran {time.time() - t_launch:.1f}s; result written "
        f"{os.path.getmtime(result_file) - t_launch:.1f}s after launch")

    # output checks ---------------------------------------------------
    failures = []   # (op, error) of every failed op or check
    measured = [o for o in ops if o["phase"] in ("timed", "twin", "traced")]
    checks_attempted = 0
    if a.workload == "medallion":
        bad, checks_attempted = check.medallion(gen, len(phases), res["facts"], work)
        failures += [("check:" + name, msg) for name, msg in bad]
    else:
        wrong = check.against_oracles(entries, odir, os.path.join(work, "out"))
        for o in measured:
            if o["name"] in wrong and o["ok"]:
                o["ok"], o["error"] = False, wrong[o["name"]]
    failures += [(o["name"], o["error"]) for o in measured if not o["ok"]]
    attempted = len(measured) + checks_attempted
    for op, err in failures[:20]:
        log(f"FAILED {op}: {err}")

    # end-to-end metrics (untimed phases excluded) ---------------------
    timed = [o for o in ops if o["phase"] == "timed"]
    q = [o["seconds"] for o in timed if o["kind"] == "query" and o["ok"]]
    w = [o["seconds"] for o in timed if o["kind"] == "write" and o["ok"]]
    tp = tail_pct(len(q))
    e2e = {
        "setup_s": (res["setup_end_ms"] / 1e3 - t_launch, "s"),
        "query_p50_s": (statistics.median(q) if q else 0.0, "s"),
        "query_tail_s": (pctl(q, tp) if q else 0.0, "s"),
        "queries_per_s": (len(q) / phase_wall(timed) if q else 0.0, "1/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    extra = {"failed_frac": (len(failures) / attempted, "ratio")}
    if a.workload == "medallion":
        timed_ticks = [i for i, ph in enumerate(phases) if ph == "timed"]
        wp = tail_pct(len(w))
        extra.update({
            "write_p50_s": (statistics.median(w) if w else 0.0, "s"),
            "write_tail_s": (pctl(w, wp) if w else 0.0, "s"),
            "ingest_rows_per_s": (sum(len(gen.ticks[i]) for i in timed_ticks) /
                                  max(sum(o["seconds"] for o in timed if o["kind"] == "write"), 1e-9),
                                  "rows/s"),
            "space_amp": (res["facts"]["bytes_under_roots"] / sum(sizes), "ratio"),
        })
        log(f"write_tail_s is p{wp} of {len(w)} ticks")
    log(f"query_tail_s is p{tp} of {len(q)} read-only ops")
    shown = {**e2e, **extra}
    log("end-to-end: " + ", ".join(f"{k}={v:.6g} {u}" for k, (v, u) in shown.items()))

    if a.trace == 0:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        metrics = layer_metrics(res, ops, extra)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    # the lakehouse roots are large and useless after the checks
    for d in ("bronze", "meta", "lake", "landing", "pending", "chk", "spark-local", "tmp", "out"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)


def layer_metrics(res, ops, extra):
    """The per-layer record of the traced phase, with every name present on
    every workload (0 where a layer has no calls)."""
    layers = dict(res["layers"])
    # tracing overhead: traced vs untraced latency of the same ops. Query
    # entries have an untraced twin run beside each traced run; medallion
    # ops compare with the untraced timed phase.
    by = {}
    for o in ops:
        if o["phase"] in ("timed", "twin", "traced") and o["ok"]:
            name = o["name"] if o["kind"] == "query" else "tick"
            by.setdefault((name, o["phase"]), []).append(o["seconds"])
    base = "twin" if any(ph == "twin" for _, ph in by) else "timed"
    ratios = [statistics.median(by[(n, "traced")]) / statistics.median(by[(n, base)]) - 1
              for n, ph in by if ph == "traced" and (n, base) in by]
    layers["harness.trace_overhead_frac"] = statistics.median(ratios) if ratios else 0.0
    layers["harness.failed_frac"] = extra["failed_frac"][0]
    for k in ("write_p50_s", "write_tail_s", "ingest_rows_per_s", "space_amp"):
        layers[f"medallion.{k}"] = extra[k][0] if k in extra else 0.0
    return {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER}


if __name__ == "__main__":
    main()
