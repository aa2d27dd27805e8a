#!/usr/bin/env python3
"""Pipeline benchmark: the medallion build with streaming CDC, and a gold-mart
query mix, each checked against DuckDB.

    python3 pipebench/run.py [--workload NAME] [--seed N] [--seconds S] [--trace 0|1]

Without --workload every workload runs in turn. Run from the repository root;
the program is compiled from source into .bench_build on first use. The last
line of standard output is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
See README.md for the workloads, metrics and reference figures.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
DEADLINE_S = 170  # a run ends within 180 s

STAGES = ["bronze_events", "bronze_orders", "silver_orders", "gold_revenue_daily",
          "gold_fraud_scores", "gold_user_risk_scores", "gold_fraud_summary", "dq_gate"]
CRITICAL_PATH = ["bronze_orders", "silver_orders", "gold_revenue_daily", "dq_gate"]

# One query per operator family of the read path (money aggregates, windows,
# joins, graph checkpoints, text and similarity operators, privacy), each
# DuckDB-oracle-gated; sized so one cold pass takes under 20 s on 4 cores.
QUERIES = [
    "q_pricing_summary", "q_velocity", "q_asof_join", "q_triangles", "q_dedup_exact",
    "q_embed_neardup", "q_tfidf", "q_k_anonymity",
]
# Operations that fail every time because of a known program fault, on a
# fixed input that does not depend on the seed; they are counted in `failed`
# and do not make the run incorrect (README.md).
KNOWN_FAULTS = {"q_tfidf"}

WORKLOADS = {
    "medallion": dict(sf=0.01, order_days=30, rows_per_batch=50, recent_days=14),
    "mart_queries": dict(sf=0.01, order_days=30),
}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-Xss8m", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]

MB = 1024.0 * 1024.0


def run_jvm(classes, work, args, deadline):
    """Run the harness and wait for it; returns its peak RSS in bytes."""
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                 "pipebench.PipeBench"] + [f"{k}={v}" for k, v in args.items()]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                p.kill()
                os.wait4(p.pid, 0)
                raise SystemExit(f"harness did not finish in time; see {work}/jvm.log")
            time.sleep(0.05)
    code = os.waitstatus_to_exitcode(status)
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = [l for l in f.read().splitlines() if "Exception" in l or "Error" in l][:20]
        raise SystemExit(f"harness exited {code}:\n" + "\n".join(tail))
    return ru.ru_maxrss * 1024.0


def run_workload(name, seed, seconds, trace, classes, t_start):
    cfg = WORKLOADS[name]
    work = os.path.join(BUILD_DIR, "work", f"{name}-s{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    t_gen = time.time()
    gen.make_tables(data, seed, cfg["sf"], cfg["order_days"])
    args = {"workload": name, "data": data, "work": work, "trace": trace}
    if name == "medallion":
        batches = max(2, seconds // 5)
        gen.make_updates(data, os.path.join(work, "updates"), seed, batches,
                         cfg["rows_per_batch"], cfg["recent_days"])
    else:
        passes = max(1, seconds // 15)
        fixed = os.path.join(work, "fault_corpus")
        gen.make_fault_corpus(fixed)
        args.update(passes=passes, queries=",".join(QUERIES),
                    fixed=",".join(sorted(KNOWN_FAULTS)), fixed_data=fixed)
    gen_s = time.time() - t_gen
    load = os.getloadavg()[0]

    steal0 = steal_s()
    t_launch = time.time()
    rss = run_jvm(classes, work, args, t_start + DEADLINE_S)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    setup_s = res["setup_end_ms"] / 1000.0 - t_launch
    jvm_s = time.time() - t_launch
    steal = (steal_s() - steal0) / jvm_s
    t_check = time.time()

    if name == "medallion":
        fails = check.check_medallion(res, data, work, batches)
        attempted = len(STAGES) + batches
        n_failed = sum(1 for st in res["stages"] if st["status"] != "success")
        n_failed += sum(1 for k in fails if k.startswith("cdc batch"))
        lat = [b["s"] for b in res["batch_s"]]
        e2e = {"wall_s": res["build_s"], "op_p50_s": statistics.median(lat),
               "written_mb": res["warehouse_bytes"] / MB}
        unexpected = fails
    else:
        fails = check.check_queries(res, data, {q: fixed for q in KNOWN_FAULTS}, work, passes)
        attempted = len(res["queries"])
        n_failed = len(fails)
        e2e = {"wall_s": statistics.median(p["s"] for p in res["pass_s"]),
               "op_p50_s": statistics.median(q["s"] for q in res["queries"]),
               "written_mb": dir_bytes(os.path.join(work, "check", "queries")) / MB}
        unexpected = {k: v for k, v in fails.items() if k[1] not in KNOWN_FAULTS}
    check_s = time.time() - t_check
    e2e["setup_s"] = setup_s

    for op, why in fails.items():
        print(f"[{name}] FAILED {op}: {str(why)[:300]}")
    print(f"[{name}] seed={seed} attempted={attempted} failed={n_failed} "
          f"loadavg={load:.2f} cpus={int(res['cpus'])} inputs_s={gen_s:.1f} "
          f"jvm_s={jvm_s:.1f} check_s={check_s:.1f} steal_cpus={steal:.2f} "
          f"cpu_s={res['measured_cpu_s']:.1f}")
    if trace:
        # a layer the workload does not exercise reads 0
        layers = layer_metrics(name, res)
        layers["jvm.peak_rss_mb"] = rss / MB
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        summarize_trace(name, seed, work, res, load)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        os.makedirs(os.path.join(BUILD_DIR, "last"), exist_ok=True)
        with open(os.path.join(BUILD_DIR, "last", f"{name}-s{seed}.json"), "w") as f:
            json.dump({"measured_s": res["measured_s"], "loadavg": load}, f)
    for k, v in metrics.items():
        print(f"[{name}] {k} = {v['value']:.6g} {v['unit']}")
    # keep result.json, jvm.log and spans.json; drop inputs and outputs
    for d in ("data", "data_final", "fault_corpus", "warehouse", "check", "spark-local", "tmp",
              "stream-source", "stream-checkpoint", "updates", "spark-warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    return {"correct": not unexpected, "attempted": attempted, "failed": n_failed,
            "metrics": metrics}


def steal_s():
    """CPU time the host took from this machine's CPUs (stolen), in seconds."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs)


def layer_metrics(name, res):
    """Per-layer values of a traced run: {metric: value}."""
    out = {k: v["value"] for k, v in res.get("layers", {}).items()}
    if name == "medallion":
        st = {s["name"]: s["s"] for s in res["stages"]}
        for s in STAGES:
            out[f"pipeline.stage.{s}_s"] = st[s]
        out["pipeline.critical_path_s"] = sum(st[s] for s in CRITICAL_PATH)
        for l in ("bronze", "silver", "gold"):
            out[f"pipeline.files.{l}"] = res[f"build.files.{l}"]
            out[f"pipeline.mb.{l}"] = res[f"build.bytes.{l}"] / MB
        out["pipeline.silver_files_first"] = res["build.files.silver"]
        out["pipeline.silver_files_last"] = res["silver_versions"][-1]["files"]
        rows = len(res["batch_s"]) * WORKLOADS[name]["rows_per_batch"]
        out["streaming.rows_per_s"] = rows / sum(b["s"] for b in res["batch_s"])
    else:
        qs = [q for q in res["queries"] if q["ok"]]
        for k in ("build_s", "plan_s", "exec_s", "plan_lines", "exchanges",
                  "unpartitioned_windows"):
            out[f"query.{k}"] = sum(q[k] for q in qs)
        for q in QUERIES:
            out[f"query.{q}_s"] = statistics.median(
                x["s"] for x in res["queries"] if x["name"] == q)
    return out


def summarize_trace(name, seed, work, res, load):
    """Write the span file with the run's context and the tracing overhead
    against the last untraced run of the same workload and seed."""
    with open(os.path.join(work, "spans.json")) as f:
        spans = json.load(f)
    spans.update(workload=name, seed=seed, loadavg=load, measured_s=res["measured_s"])
    if name == "mart_queries":
        spans["plans"] = [{k: q.get(k) for k in ("name", "pass", "plan_lines", "exchanges",
                                                 "unpartitioned_windows")}
                          for q in res["queries"]]
    else:
        spans["silver_versions"] = res["silver_versions"]
    last = os.path.join(BUILD_DIR, "last", f"{name}-s{seed}.json")
    if os.path.exists(last):
        with open(last) as f:
            base = json.load(f)["measured_s"]
        spans["trace_overhead_pct"] = 100.0 * (res["measured_s"] / base - 1.0)
        print(f"[{name}] tracing overhead {spans['trace_overhead_pct']:+.1f}% "
              f"({res['measured_s']:.2f} s traced vs {base:.2f} s untraced)")
    out = os.path.join(BUILD_DIR, "traces", f"{name}-s{seed}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(spans, f)
    print(f"[{name}] {len(spans['spans'])} spans written to {out}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.makedirs(BUILD_DIR, exist_ok=True)
    classes = build.build(BUILD_DIR)
    t_start = time.time()
    line = None
    for name in [a.workload] if a.workload else sorted(WORKLOADS):
        line = run_workload(name, a.seed, a.seconds, a.trace, classes,
                            t_start if a.workload else time.time())
        print(json.dumps(line))


if __name__ == "__main__":
    main()
