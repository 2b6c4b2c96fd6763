"""Layered lakehouse benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark (perfbench/build.sh), generates the
workload's inputs from the seed (gen.py), runs the JVM side
(src/PerfBench.scala) as a closed loop with one client, checks every
answer against an independent DuckDB model (oracle.py) and prints a report
followed by one JSON line. With --trace 0 the JSON holds the end-to-end
metrics; with --trace 1 it holds the per-layer metrics of a traced run,
and the report adds per-class self times and the tracing overhead (the
traced run minus an untraced run of the same seed).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("cdc_upsert", "lake_serve", "curate_waves")
# ops generated per workload: more than a run can reach at its pace
N_OPS = {"cdc_upsert": 70, "lake_serve": 300, "curate_waves": 10}
READS = ("lookup", "range", "asof", "changes", "q1", "q3")
JVM_TIMEOUT_S = 160
RESULTS = os.path.join(ROOT, ".bench_build", "perfbench", "results")
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def p90(xs):
    return float(np.percentile(xs, 90)) if xs else 0.0


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def build():
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], cwd=ROOT,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build failed ({r.returncode})")


def run_jvm(workload, inputs, work, seconds, trace):
    t0 = time.time()
    out = os.path.join(work, f"out_{trace}.json")
    classes = os.path.join(ROOT, ".bench_build", "perfbench", "classes")
    with open(os.path.join(classes, ".jars")) as f:
        cp = classes + os.pathsep + os.path.join(f.read().strip(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the work dir
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
           + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.PerfBench", workload, inputs,
              os.path.join(work, f"tables_{trace}"), str(seconds), str(trace), out])
    jlog = os.path.join(work, f"jvm_{trace}.log")
    with open(jlog, "w") as f:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(jlog) as f:
            tail = f.readlines()[-40:]
        log("".join(tail))
        raise SystemExit(f"benchmark JVM failed ({code})")
    with open(out) as f:
        res = json.load(f)
    res["jvm_wall_s"] = time.time() - t0
    return res


def ops_done(res):
    """Ops completed within the --seconds window, the op running at its
    end counted by the share of it that fell inside. Counting that op whole
    makes the count jump by one op (5-25% of a run) with the host's speed."""
    secs, n = res["seconds"], 0.0
    for r in res["ops"]:
        if r["timed"] and "error" not in r:
            a = r["t0_s"] - res["loop_start_s"]
            n += min(1.0, max(0.0, (secs - a) / r["lat_s"]))
    return n


def end_to_end(res):
    setup = res["setup"]
    return {
        "setup_s": setup["session_s"] + setup["fixture_s"] + setup["warmup_s"],
        # background work drained after the last op stays charged
        "ops_per_s": ops_done(res) / (res["seconds"] + res["maint_wait_s"]),
        "space_amp": res["bytes"]["end_total"] / max(1, res["live_bytes"]),
        "retained_heap_mb": res["heap_mb"],
    }


UNITS = {"setup_s": "s", "ops_per_s": "ops/s", "space_amp": "B/B", "retained_heap_mb": "MB"}


def class_metrics(res, workload):
    """Report-only figures: rows per second, the op median, write
    amplification and the latencies of single op classes."""
    timed = [r for r in res["ops"] if r["timed"] and "error" not in r]

    def lat(pred):
        return [r["lat_s"] for r in timed if pred(r)]
    out = {"rows_per_s": sum(r["rows"] for r in timed) / res["loop_s"],
           "op_p50_s": median(lat(lambda r: True)),
           "write_amp": res["bytes"]["created"] / max(1, res["source_bytes"])}
    if workload == "cdc_upsert":
        w = lat(lambda r: True)
        out.update(commit_p50_s=median(w), commit_p90_s=p90(w),
                   merge_p50_s=median(lat(lambda r: r["cls"] == "merge")),
                   merge_dv_p50_s=median(lat(lambda r: r["cls"] == "merge" and r["table"] == "dv")),
                   merge_cdf_p50_s=median(lat(lambda r: r["cls"] == "merge" and r["table"] == "cdf")))
    elif workload == "lake_serve":
        rd = lat(lambda r: r["cls"] in READS)
        out.update(read_p50_s=median(rd), read_p90_s=p90(rd),
                   lookup_p50_s=median(lat(lambda r: r["cls"] == "lookup")),
                   commit_p50_s=median(lat(lambda r: r["commits"])))
    else:
        out.update(wave_p50_s=median(lat(lambda r: True)),
                   wave_p90_s=p90(lat(lambda r: True)))
    for c in sorted({r["cls"] for r in timed}):
        out[f"n_{c}"] = len(lat(lambda r, c=c: r["cls"] == c))
    return out


# ---- traced run ------------------------------------------------------------

def union_len(iv):
    total, cur = 0.0, None
    for a, b in sorted(iv):
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def self_times(start, end, spans):
    """Each instant of [start, end] goes to the highest-priority span that
    covers it, the innermost on ties; uncovered instants are the op's own
    driver time. The self times add up to end - start."""
    spans = [(max(a, start), min(b, end), prio, layer) for a, b, prio, layer in spans]
    spans = [s for s in spans if s[1] > s[0]]
    cuts = sorted({start, end, *(s[0] for s in spans), *(s[1] for s in spans)})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        cover = [s for s in spans if s[0] <= mid <= s[1]]
        layer = (max(cover, key=lambda s: (s[2], s[0] - s[1]))[3]
                 if cover else "driver.other")
        out[layer] = out.get(layer, 0.0) + (b - a) / 1e3
    return out


def op_jobs(rec, jobs):
    return [j for j in jobs if j["group"] == rec["group"] and j["end"] >= 0
            and rec["start"] - 1 <= j["start"] <= rec["end"] + 1]


def traced(res, model):
    """Per-layer metrics and per-class self times of a traced run."""
    tr = res["trace"]
    jobs, phases = tr["jobs"], tr["phases"]
    timed = [r for r in res["ops"] if r["timed"] and "error" not in r]
    n = max(1, len(timed))
    per_class, tot = {}, {}
    claimed = set()
    for r in timed:
        js = op_jobs(r, jobs)
        claimed.update(j["id"] for j in js)
        spans = ([(j["start"], j["end"], 3, "spark.jobs") for j in js]
                 + [(p["start"], p["end"], 2, p["layer"]) for p in phases
                    if p["end"] >= r["start"] and p["start"] <= r["end"]]
                 + [(s["start"], s["end"], 2 if s.get("phase") else 1, s["layer"])
                    for s in r["spans"]])
        st = self_times(r["start"], r["end"], spans)
        job_wall = union_len([(max(j["start"], r["start"]), min(j["end"], r["end"]))
                              for j in js if j["end"] > j["start"]]) / 1e3
        wall = (r["end"] - r["start"]) / 1e3
        c = per_class.setdefault(r["cls"], {"ops": 0, "wall_s": 0.0, "self_s": {}})
        c["ops"] += 1
        c["wall_s"] += wall
        for k, v in st.items():
            c["self_s"][k] = c["self_s"].get(k, 0.0) + v
        acc = {
            "wall": wall, "job_wall": job_wall, "jobs": len(js),
            "stages": sum(j["stages"] for j in js), "tasks": sum(j["tasks"] for j in js),
            "task_run": sum(j["task_run_ms"] for j in js) / 1e3,
            "task_cpu": sum(j["task_cpu_ns"] for j in js) / 1e9,
            "compiles": r["compiles"], "compile_s": r["compile_ns"] / 1e9,
            "prune": sum(s["end"] - s["start"] for s in r["spans"]
                         if s["layer"] == "scan.prune") / 1e3,
            **{f"self:{k}": v for k, v in st.items()},
        }
        for k, v in acc.items():
            tot[k] = tot.get(k, 0.0) + v
    for c in per_class.values():
        c["covered_share"] = 1 - c["self_s"].get("driver.other", 0.0) / max(c["wall_s"], 1e-9)
        c["sum_self_over_wall"] = sum(c["self_s"].values()) / max(c["wall_s"], 1e-9)

    lo, hi = res["loop_start_ms"], res["loop_end_ms"]
    bg = [j for j in jobs if j["id"] not in claimed and j["group"] != "trace"
          and lo <= j["start"] <= hi]
    bg_s = union_len([(j["start"], max(j["start"], j["end"])) for j in bg]) / 1e3

    snaps = [s for r in timed for s in r["snapshot_s"]]
    commit_ops = [r for r in timed if r["commits"] and len(r["snapshot_s"]) == 1]
    ckpt = [r["lat_s"] for r in commit_ops if r["snapshot_s"][0]["version"] % 10 == 0]
    plain = [r["lat_s"] for r in commit_ops if r["snapshot_s"][0]["version"] % 10 != 0]
    logs = res["log_files_created"]

    reads = [r for r in timed if r["cls"] in ("lookup", "range", "asof")]
    files_read = sum(r["probe"].get("files_read", 0) for r in reads)
    files_live = sum(r["probe"].get("files_live", 0) for r in reads)
    rows_ret = sum(r["rows"] for r in reads)
    read_records = sum(j["records_read"] for r in reads for j in op_jobs(r, jobs))
    waves = [r for r in timed if r["cls"] == "wave"]
    fed = sum(r["answer"]["input"] for r in waves)

    dml = commit_stats(res, model)
    layer = {
        "plan.analysis_s_per_op": tot.get("self:plan.analysis", 0.0) / n,
        "plan.optimize_s_per_op": tot.get("self:plan.optimize", 0.0) / n,
        "plan.physical_s_per_op": tot.get("self:plan.physical", 0.0) / n,
        "sql.parse_s_per_op": tot.get("self:sql.parse", 0.0) / n,
        "codegen.compiles_per_op": tot["compiles"] / n,
        "codegen.compile_s_per_op": tot["compile_s"] / n,
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.stages_per_op": tot["stages"] / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.job_wall_s_per_op": tot["job_wall"] / n,
        "spark.task_run_s_per_op": tot["task_run"] / n,
        "spark.task_cpu_s_per_op": tot["task_cpu"] / n,
        "spark.stage_retries": tr["stage_retries"],
        "spark.failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "spark.background_jobs": len(bg),
        "spark.background_s": bg_s,
        "driver.self_s_per_op": (tot["wall"] - tot["job_wall"]) / n,
        "lake.snapshot_s": median([s["s"] for s in snaps]),
        "lake.commits_per_op": sum(1 for f in logs if re.fullmatch(r".*/\d{20}\.json", f)) / n,
        "lake.checkpoints_per_op": sum(1 for f in logs if ".checkpoint." in f
                                       and f.endswith(".parquet")) / n,
        "lake.log_bytes": res["bytes"]["log"],
        "lake.checkpoint_commit_s": median(ckpt),
        "lake.plain_commit_s": median(plain),
        "lake.maint_wait_s": res["maint_wait_s"],
        **dml,
        "scan.prune_s_per_read": tot["prune"] / max(1, len(reads)),
        "scan.files_read_per_read": files_read / max(1, len(reads)),
        "scan.files_pruned_ratio": 1 - files_read / files_live if files_live else 0.0,
        "scan.rows_read_per_row_returned": read_records / rows_ret if rows_ret else 0.0,
        "scan.bytes_read_per_read": sum(j["bytes_read"] for r in reads
                                        for j in op_jobs(r, jobs)) / max(1, len(reads)),
        "curate.kept_ratio": sum(r["answer"]["appended"] for r in waves) / fed if fed else 0.0,
        "curate.quality_pass_ratio": (sum(r["answer"]["after_quality"] for r in waves) / fed
                                      if fed else 0.0),
        "curate.jobs_per_wave": sum(len(op_jobs(r, jobs)) for r in waves) / max(1, len(waves)),
        "curate.index_bytes": res["final"].get("index_bytes", 0),
        "jvm.gc_s": res["gc"]["ms"] / 1e3,
        "jvm.gc_count": res["gc"]["count"],
    }
    return layer, per_class


def commit_stats(res, model):
    """Per-commit file counts, read from the commits the loop created."""
    commits = []
    for f in res["log_files_created"]:
        if re.fullmatch(r".*/\d{20}\.json", f) and os.path.exists(f):
            with open(f) as fh:
                commits.append([json.loads(line) for line in fh if line.strip()])
    ops = [next((a["commitInfo"]["operation"] for a in c if "commitInfo" in a), "") for c in commits]
    is_dml = [o in ("MERGE", "DELETE", "UPDATE") for o in ops]
    adds = [[a["add"] for a in c if "add" in a] for c in commits]
    n = max(1, len(commits))
    dv = sum(1 for d, ad in zip(is_dml, adds)
             if d and any(x.get("dvPath") or x.get("dvInline") for x in ad))
    written = sum((x.get("stats") or {}).get("numRecords", 0) for ad in adds for x in ad
                  if not (x.get("dvPath") or x.get("dvInline")))
    changed = model.get("rows_changed", 0)
    return {
        "dml.files_added_per_commit": sum(map(len, adds)) / n,
        "dml.files_removed_per_commit": sum(1 for c in commits for a in c if "remove" in a) / n,
        "dml.dv_commit_ratio": dv / max(1, sum(is_dml)),
        "dml.rows_written_per_row_changed": written / changed if changed else 0.0,
    }


# The per-layer metrics of BENCHMARK.json, with their units.
LAYER_UNITS = {
    "plan.analysis_s_per_op": "s",
    "plan.optimize_s_per_op": "s",
    "plan.physical_s_per_op": "s",
    "sql.parse_s_per_op": "s",
    "codegen.compiles_per_op": "count",
    "codegen.compile_s_per_op": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.job_wall_s_per_op": "s",
    "spark.task_run_s_per_op": "s",
    "spark.task_cpu_s_per_op": "s",
    "spark.stage_retries": "count",
    "spark.failed_tasks": "count",
    "spark.background_jobs": "count",
    "driver.self_s_per_op": "s",
    "lake.snapshot_s": "s",
    "lake.commits_per_op": "count",
    "lake.checkpoints_per_op": "count",
    "lake.log_bytes": "B",
    "lake.plain_commit_s": "s",
    "lake.maint_wait_s": "s",
    "dml.files_added_per_commit": "count",
    "dml.files_removed_per_commit": "count",
    "dml.dv_commit_ratio": "ratio",
    "dml.rows_written_per_row_changed": "ratio",
    "scan.files_read_per_read": "count",
    "scan.files_pruned_ratio": "ratio",
    "scan.rows_read_per_row_returned": "ratio",
    "scan.bytes_read_per_read": "B",
    "jvm.gc_s": "s",
    "jvm.gc_count": "count",
}
# Printed in the report but not in the JSON line: times that only some
# workloads produce (a constant 0 elsewhere), and the pipeline layer of
# curate_waves, which BENCHMARK.json does not list.
REPORT_UNITS = {"spark.background_s": "s", "lake.checkpoint_commit_s": "s",
                "scan.prune_s_per_read": "s", "curate.kept_ratio": "ratio",
                "curate.quality_pass_ratio": "ratio", "curate.jobs_per_wave": "count",
                "curate.index_bytes": "B"}


# ---- one run ---------------------------------------------------------------

def check(workload, inputs, ops, res, scratch):
    """Checks every answer against the model; returns the failed op ids,
    final-state mismatches, and what the model knows about the run."""
    records = res["ops"]
    model = {}
    if workload == "cdc_upsert":
        wrong, mism, changed, live = oracle.check_cdc(inputs, ops, records, res["final"], scratch)
        model["rows_changed"] = sum(changed.get(r["id"], 0) for r in records if r["timed"])
    elif workload == "lake_serve":
        wrong, mism, live = oracle.check_serve(inputs, ops, records, res["final"], scratch)
    else:
        kinds = {}
        for f in sorted(glob.glob(os.path.join(inputs, "wave_*.parquet"))):
            t = pq.read_table(f, columns=["doc_id", "source"]).to_pydict()
            kinds.update(zip(t["doc_id"], t["source"]))
        wrong, mism, live = oracle.check_curate(inputs, ops, records, res["final"], kinds, scratch)
    model["live_bytes"] = live
    failed = {r["id"] for r in records if "error" in r} | set(wrong)
    for r in records:
        if "error" in r:
            log(f"op {r['id']} ({r['cls']}) failed: {r['error']}")
    for w in sorted(set(wrong)):
        log(f"op {w} ({ops[w]['cls']}) returned a wrong answer")
    for m in mism:
        log(f"final state: {m}")
    return failed, mism, model


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found next to perfbench/; run from a full checkout")
    build()

    work = os.path.join(ROOT, ".bench_build", "perfbench", f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        t0 = time.time()
        n_ops = N_OPS[a.workload]
        ops, info = gen.generate(a.workload, a.seed, inputs, n_ops)
        # same seed, same op list: regenerate the list alone and compare
        again = gen.generate(a.workload, a.seed, None, n_ops)[0]
        if json.dumps(again, sort_keys=True) != json.dumps(ops, sort_keys=True):
            raise SystemExit("generator is not deterministic for this seed")
        log(f"inputs: seed={a.seed} {info} digest={digest(os.path.join(inputs, 'ops.json'))[:16]} "
            f"({time.time() - t0:.1f}s)")

        def source_bytes(res):
            timed = [r for r in res["ops"] if r["timed"]]
            return sum(os.path.getsize(os.path.join(inputs, ops[r["id"]]["file"]))
                       for r in timed if "file" in ops[r["id"]])

        res = run_jvm(a.workload, inputs, work, a.seconds, a.trace)
        t1 = time.time()
        failed, mism, model = check(a.workload, inputs, ops, res, work)
        attempted = len(res["ops"])
        correct = not failed and not mism
        log(f"times: generate {t1 - t0 - res['jvm_wall_s']:.1f}s jvm {res['jvm_wall_s']:.1f}s "
            f"(final state {res['final_s']:.1f}s, exit {res['jvm_wall_s'] - res['main_s']:.1f}s) "
            f"check {time.time() - t1:.1f}s")
        res["source_bytes"] = source_bytes(res)
        res["live_bytes"] = model["live_bytes"]
        e2e = end_to_end(res)
        # untraced results are kept per seed so that a traced run of the
        # same seed in this checkout can report the tracing overhead
        os.makedirs(RESULTS, exist_ok=True)
        saved = os.path.join(RESULTS, f"{a.workload}-{a.seed}-{a.seconds:g}.json")
        if not a.trace and correct:
            with open(saved, "w") as f:
                json.dump({"e2e": e2e, "ops": res["ops"]}, f)

        print(f"workload={a.workload} seed={a.seed} inputs={json.dumps(info['rows'])} "
              f"input_files={info['files']} input_bytes={info['bytes']} "
              f"ops_attempted={attempted} loop_s={res['loop_s']:.3f}")
        st = res["setup"]
        print(f"  setup: session_s={st['session_s']:.3f} "
              f"fixture_s={st['fixture_s']:.3f} warmup_s={st['warmup_s']:.3f}")
        for k, v in e2e.items():
            print(f"  {k:<18} {v:14.6g} {UNITS[k]}")
        for k, v in class_metrics(res, a.workload).items():
            print(f"  {k:<18} {v:14.6g}")
        n_failed = len(failed) + len(mism)
        print(f"  {'fail_ratio':<18} {n_failed / max(1, attempted):14.6g} ratio")
        if a.trace:
            layer, per_class = traced(res, model)
            for k, v in layer.items():
                print(f"  {k:<36} {v:14.6g} {LAYER_UNITS.get(k) or REPORT_UNITS[k]}")
            for c, d in sorted(per_class.items()):
                print(f"  class {c}: ops={d['ops']} wall_s={d['wall_s']:.4f} "
                      f"covered_share={d['covered_share']:.3f} "
                      f"self_sum/wall={d['sum_self_over_wall']:.4f}")
                for k, v in sorted(d["self_s"].items(), key=lambda kv: -kv[1]):
                    print(f"    {k:<30} {v:10.4f} s  {v / d['ops']:10.5f} s/op")
            overhead = None
            if os.path.exists(saved):
                with open(saved) as f:
                    base = json.load(f)["e2e"]
                overhead = {k: e2e[k] - base[k] for k in e2e}
                for k, v in overhead.items():
                    print(f"  overhead {k:<18} {v:+14.6g} {UNITS[k]}  (traced - untraced)")
            else:
                print("  overhead: run this seed with --trace 0 first to get "
                      "traced - untraced per end-to-end metric")
            with open(os.path.join(ROOT, ".bench_build", "perfbench",
                                   f"trace-{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"per_layer": layer, "per_class": per_class,
                           "overhead": overhead,
                           "ops": res["ops"], "trace": res["trace"]}, f)
            metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": n_failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
