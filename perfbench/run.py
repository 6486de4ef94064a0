#!/usr/bin/env python3
"""Benchmark front end.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Builds the engine (perfbench/build.py), writes the seeded inputs of the
workload (perfbench/gen.py), runs the JVM driver (perfbench/src) on a
4-core local Spark session, checks every output (perfbench/check.py) and
prints a report. The last line of stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json untraced, the per-layer metrics with --trace 1. With
`--workload all` every workload runs in turn and the last line is
`{"correct": ..., "workloads": {...}}`. Exits 1 when a gate fails.
"""
import argparse
import json
import math
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = Path.cwd()
WORK = ROOT / ".bench_work"
SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SETUPS = 5
DEADLINE_S = 170
TX_OPS = ("append", "upsert", "delete", "read")
CORPUS_QUERIES = ["x_quality_linear", "x_dedup_minhash_lsh", "x_dedup_simhash_pairs",
                  "x_graph_label_prop", "x_embed_cosine_topk"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest of p99/p90/p75/p50 with at least ten samples beyond it,
    as (value, percentile, sample count); the median when none has."""
    xs = sorted(xs)
    for q in (99, 90, 75, 50):
        rank = math.ceil(len(xs) * q / 100)
        if len(xs) - rank >= 10:
            return xs[rank - 1], q, len(xs)
    return median(xs), 50, len(xs)


def run_jvm(workload, inputs, work, seconds, trace, deadline):
    classpath, share = build.build()
    (work / "tmp").mkdir(parents=True)
    cmd = build.driver_cmd(classpath, workload, inputs, work, seconds, trace, SETUPS, share)
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=max(10, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"{workload}: driver exceeded the time limit")
    finally:
        log.close()
    if rc != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-3000:])
        raise SystemExit(f"{workload}: driver failed with exit code {rc}")
    return json.loads((work / "result.json").read_text())


def dir_mb(d):
    return sum(f.stat().st_size for f in Path(d).rglob("*") if f.is_file()) / 1048576.0


def passes(res, traced):
    return [p for p in res["passes"] if p["traced"] == traced]


def end_to_end(res):
    """run_s is a pass's wall time less the share of the VM's CPU demand the
    hypervisor stole during it: the pass's CPU-bound work slows by that share
    when other tenants are busy (README, "End-to-end metrics")."""
    ps = passes(res, False)
    return {
        "setup_s": median(res["setup_s"]),
        "run_s": median([p["wall_s"] * (1 - p["steal_share"]) for p in ps]),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def op_ms(ps, kinds):
    return [o["ms"] for p in ps for o in p["ops"] if o["kind"] in kinds]


def workload_metrics(workload, res, work, failed, attempted):
    """The workload's own user-visible figures (etl_s, commit_p50_ms, ...)."""
    ps = passes(res, False)
    m = dict.fromkeys(["etl_s", "analytics_s", "commits_per_s", "commit_p50_ms",
                       "commit_tail_ms", "read_p50_ms", "stored_mb"], 0.0)
    m["run_wall_s"] = median([p["wall_s"] for p in ps])
    m["steal_share"] = median([p["steal_share"] for p in ps])
    m["cpu_s"] = median([p["cpu_s"] for p in ps])
    m["op_p50_ms"] = median(op_ms(ps, {o["kind"] for p in ps for o in p["ops"]}))
    if workload == "immigration_etl":
        m["etl_s"] = median(op_ms(ps, {"etl"})) / 1e3
        m["analytics_s"] = median([sum(o["ms"] for o in p["ops"] if o["kind"] in ("q1", "q2", "q3"))
                                   for p in ps]) / 1e3
        m["stored_mb"] = dir_mb(work / "etl_out")
    if workload == "tx_commits":
        commits = op_ms(ps, {"append", "upsert", "delete"})
        m["commits_per_s"] = len(commits) / (sum(op_ms(ps, TX_OPS)) / 1e3)
        m["commit_p50_ms"] = median(commits)
        m["commit_tail_ms"], q, n = tail(commits)
        m["commit_tail_note"] = f"p{q} of {n} commits"
        m["read_p50_ms"] = median(op_ms(ps, {"read"}))
        m["stored_mb"] = dir_mb(res["table_dir"])
    m["error_rate"] = failed / attempted
    return m


def per_layer(workload, res, work, exp, wm):
    """Per-layer metrics from the traced passes (median over them) and probes.
    Layers a workload does not run read 0."""
    tp = passes(res, True)
    up = passes(res, False)
    out = {f"workload.{k}": v for k, v in wm.items() if not k.endswith("_note")}

    def med(f):
        return median([f(p) for p in tp])

    for k in ("jobs", "stages", "tasks", "task_busy_s", "task_cpu_s", "gc_s", "shuffle_write_mb",
              "shuffle_read_mb", "spill_mb", "input_mb", "output_mb", "slot_busy_ratio",
              "driver_idle_s", "stage_skew_max"):
        out[f"exec.{k}"] = med(lambda p: float(p["exec"][k]))
    for k in ("executions", "analysis_ms", "optimization_ms", "planning_ms"):
        out[f"plan.{k}"] = med(lambda p: float(p["plan"][k]))
    out["pins.rdds_after"] = med(lambda p: float(p["pins_after_rdds"]))
    out["pins.mb_after"] = med(lambda p: p["pins_after_mb"])
    out["pins.mb_peak"] = max(p["pins_peak_mb"] for p in tp)

    pr = res["probes"]
    imm = dict.fromkeys(["labels_parse_ms", "scan_ms", "clean_ms", "fact_build_ms", "city_demo_ms",
                         "quality_ms", "sink_ms", "sink_files", "join_survival", "q1_ms", "q2_ms",
                         "q3_ms"], 0.0)
    if workload == "immigration_etl":
        imm["labels_parse_ms"] = pr["labels_parse_ms"]
        imm["scan_ms"] = pr["scan_probe_ms"]
        imm["clean_ms"] = pr["clean_probe_ms"] - pr["scan_probe_ms"]
        imm["fact_build_ms"] = pr["fact_probe_ms"] - pr["clean_probe_ms"]
        imm["city_demo_ms"] = pr["city_demo_ms"]
        # actions inside the traced ImmigrationPipeline.run: the quality
        # checks are its count()s, the sinks its write commands
        imm["quality_ms"] = med(lambda p: sum(a["ms"] for a in p["plan"]["actions"] if a["func"] == "count"))
        imm["sink_ms"] = med(lambda p: sum(a["ms"] for a in p["plan"]["actions"] if a["func"] == "command"))
        imm["sink_files"] = float(sum(1 for f in (work / "etl_out").rglob("*.parquet") if f.is_file()))
        imm["join_survival"] = exp["fact_rows"] / exp["input_rows"]
        for q in ("q1", "q2", "q3"):
            imm[f"{q}_ms"] = med(lambda p: sum(o["ms"] for o in p["ops"] if o["kind"] == q))
    out.update({f"immigration.{k}": v for k, v in imm.items()})

    for name in CORPUS_QUERIES:
        out[f"query.{name}_s"] = (med(lambda p: sum(o["ms"] for o in p["ops"] if o["kind"] == name)) / 1e3
                                  if workload == "corpus_kernels" else 0.0)
    for k in ("ws_tokens", "shingle_set", "minhash_sig", "simhash64", "jaro_winkler", "hash32_fold"):
        out[f"kernel.{k}_ns_row"] = pr.get(f"{k}_ns_row", 0.0)

    tx = dict.fromkeys(["append_ms", "upsert_ms", "delete_ms", "read_ms", "checkpoint_commit_ms",
                        "snapshot_ms", "log_files", "log_mb", "active_files", "rewrite_amp",
                        "retries"], 0.0)
    if workload == "tx_commits":
        for k in TX_OPS:
            tx[f"{k}_ms"] = median(op_ms(tp, {k}))
        ck = [o["ms"] for p in tp for o in p["ops"] if o["version"] > 0 and o["version"] % 10 == 0]
        tx["checkpoint_commit_ms"] = median(ck)
        tx["snapshot_ms"] = pr["snapshot_ms"]
        for k in ("log_files", "log_mb", "active_files"):
            tx[k] = med(lambda p: float(p[k]))
        src_bytes = sum(f.stat().st_size for d in ("append", "upsert")
                        for f in (Path(res["inputs"]) / d).rglob("*.parquet"))
        tx["rewrite_amp"] = med(lambda p: float(p["commit_bytes"])) / src_bytes
        versions = [o["version"] for o in res["passes"][-1]["ops"] if o["version"] >= 0]
        tx["retries"] = float(versions[-1] - versions[0] + 1 - len(versions)) if versions else 0.0
    out.update({f"tx.{k}": v for k, v in tx.items()})

    out["trace.overhead_s"] = med(lambda p: p["wall_s"]) - median([p["wall_s"] for p in up])
    out["trace.extra_jobs"] = med(lambda p: float(p["jobs"])) - median([float(p["jobs"]) for p in up])
    return out


def repeat_failures(res):
    """Exact counts must repeat across passes, and tracing must add no job."""
    fails = []
    keys = {(p["jobs"], p["stages"], p["tasks"], p.get("log_files")) for p in res["passes"]}
    if len(keys) > 1:
        fails.append(f"job/stage/task/log-file counts differ across passes: {sorted(keys)}")
    return fails


def trace_report(workload, res, layer):
    tp = passes(res, True)
    names = sorted({k for p in tp for k in p["self_ms"]})
    lines = [f"## traced run: {workload} ({len(tp)} traced, {len(passes(res, False))} untraced passes)",
             "| span | self ms (median) |", "|---|---|"]
    lines += [f"| {n} | {median([p['self_ms'].get(n, 0.0) for p in tp]):.3f} |" for n in names]
    lines += ["", "| counter | value |", "|---|---|"]
    lines += [f"| {k} | {v:.6g} |" for k, v in layer.items()]
    return "\n".join(lines)


def run_one(workload, seed, seconds, trace, deadline):
    t0 = time.monotonic()
    inputs = gen.generate(workload, seed, WORK / "inputs")
    work = WORK / f"run-{workload}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    t_gen = time.monotonic()
    res = run_jvm(workload, inputs, work, seconds, trace, deadline)
    res["inputs"] = str(inputs)
    t_jvm = time.monotonic()
    fails, exp = check.CHECKS[workload](res, inputs, work, seed)
    print(f"# timing: inputs {t_gen - t0:.1f} s, driver {t_jvm - t_gen:.1f} s, "
          f"checks {time.monotonic() - t_jvm:.1f} s")
    if trace:
        fails += repeat_failures(res)
    attempted = sum(len(p["ops"]) for p in res["passes"])
    failed = min(attempted, len(fails))
    e2e = end_to_end(res)
    wm = workload_metrics(workload, res, work, failed, attempted)
    layer = per_layer(workload, res, work, exp, wm) if trace else None
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    print(f"# {workload} seed={seed} seconds={seconds} trace={trace} "
          f"passes={len(res['passes'])} cold_s={res['cold_s']:.3f} wall_s={time.monotonic() - t0:.1f}")
    for f in fails:
        print(f"FAIL {f}")
    for k, v in {**e2e, **{f"workload.{k}": v for k, v in wm.items()}}.items():
        print(f"{k:28s} {v}" if isinstance(v, str) else f"{k:28s} {v:<12.6g} {units[k]}")
    if trace:
        report = trace_report(workload, res, layer)
        (WORK / f"trace-{workload}.md").write_text(report + "\n")
        print(report)
    metrics = layer if trace else e2e
    result = {"correct": not fails, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    build.build()
    deadline = time.monotonic() + DEADLINE_S
    if a.workload == "all":
        out = {w: run_one(w, a.seed, a.seconds, a.trace, time.monotonic() + DEADLINE_S)
               for w in WORKLOADS}
        print(json.dumps({"correct": all(r["correct"] for r in out.values()), "workloads": out}))
        return 0 if all(r["correct"] for r in out.values()) else 1
    r = run_one(a.workload, a.seed, a.seconds, a.trace, deadline)
    print(json.dumps(r))
    return 0 if r["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
