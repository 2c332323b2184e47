#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline) and generates the input tables; later
runs reuse both while their sources are unchanged. Each run then starts one
JVM at local[4], sets up (session, untimed warm pass), measures for
`--seconds` seconds in a closed loop, checks every output, and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics, and the span file is written
under .bench_build/perfbench/traces/. The line before the result carries
run details (sample counts, load average, workload-specific figures).

--record rewrites expected/<workload>.json from this run's fingerprints;
the benchmark runs themselves never pass it. The uncapped dedup pair sets
are recomputed by recall.py.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
EXPECTED = os.path.join(BENCH, "expected")
sys.path.insert(0, BENCH)

import lake_ops  # noqa: E402
import metrics as M  # noqa: E402
from workloads import DATA_SEED, DATA_SF, WORKLOADS  # noqa: E402

RUN_LIMIT_S = 170  # the JVM is killed past this; the run then fails
BUILD_LIMIT_S = 840
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
E2E = ["setup_s", "wall_s", "query_p50_s", "query_p90_s", "retained_heap_mb"]
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s",
             "query_p90_s": "s", "retained_heap_mb": "MB"}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths, suffixes):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base)
                           for f in fs if f.endswith(suffixes))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness once per source state; return classpath."""
    stamp = tree_hash([os.path.join(ROOT, "src", "main"),
                       os.path.join(BENCH, "src"),
                       os.path.join(BENCH, "build.sbt"),
                       os.path.join(BENCH, "project", "build.properties")],
                      (".scala", ".java", ".sbt", ".properties"))
    cp_file = os.path.join(WORK, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Xmx2g")) + " -XX:-UsePerfData"
    os.makedirs(WORK, exist_ok=True)
    out = os.path.join(WORK, "build.log")
    with open(out, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=fh,
            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S, text=True)
        fh.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        die(f"build failed (see {out})")
    cp = lines[-1].strip()
    if not cp.startswith("/"):
        die(f"no classpath in build output (see {out})")
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def cached_dir(name, inputs, make):
    """Directory `make(tmp)` fills, cached by a hash of `inputs` (bytes)."""
    out = os.path.join(WORK, "data", f"{name}-"
                       + hashlib.sha256(inputs).hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "_DONE")):
        log(f"generating {out}")
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def ensure_data(sf=DATA_SF):
    """Generated input tables, cached by generator content."""
    import numpy
    import pyarrow
    with open(os.path.join(BENCH, "gen_data.py"), "rb") as f:
        key = f.read() + (f"{sf}:{DATA_SEED}:{numpy.__version__}:"
                          f"{pyarrow.__version__}").encode()
    return cached_dir(f"sf{sf}", key, lambda tmp: subprocess.run(
        [sys.executable, os.path.join(BENCH, "gen_data.py"), tmp,
         "--sf", str(sf), "--seed", str(DATA_SEED)], check=True, timeout=300))


def query_passes(ids, seed, n=64):
    """Each pass runs every id once, in a seed-permuted order."""
    rng = random.Random(seed)
    passes = []
    for _ in range(n):
        order = list(ids)
        rng.shuffle(order)
        passes.append(order)
    return passes


def make_plan(args, data, run_dir):
    w = WORKLOADS[args.workload]
    plan = {"mode": w["mode"], "seconds": args.seconds,
            "min_passes": w["min_passes"],
            "trace": bool(args.trace),
            "spans_out": os.path.join(run_dir, "spans.json")}
    if w["mode"] == "queries":
        plan.update(data=data, warm=list(w["ids"]),
                    passes=query_passes(w["ids"], args.seed),
                    pairs=w.get("pairs", {}))
    else:
        setup, ops = lake_ops.stream(args.seed)
        plan.update(tables=lake_ops.TABLES, setup_ops=setup, ops=ops,
                    check_ops=lake_ops.check_ops(),
                    pass_len=lake_ops.PASS_LEN,
                    space_table=lake_ops.SPACE_TABLE)
    return plan


def launch(cp, plan, run_dir, deadline):
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "wh"))
    plan_f = os.path.join(run_dir, "plan.json")
    res_f = os.path.join(run_dir, "result.json")
    with open(plan_f, "w") as f:
        json.dump(plan, f)
    cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
           + [a for p in JVM_OPENS for a in ("--add-opens",
                                              f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/tmp",
              f"-Dgraft.warehouse={run_dir}/wh",
              "-cp", cp, "graft.perfbench.Harness", plan_f, res_f])
    err_f = os.path.join(run_dir, "jvm.log")
    launched = time.time()
    with open(err_f, "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=err, stderr=err,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die("interrupted; harness stopped")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die("harness exceeded the run time limit; killed")
    shutil.copy(err_f, os.path.join(WORK, "last-jvm.log"))
    if p.returncode != 0 or not os.path.exists(res_f):
        with open(err_f) as f:
            tail = [ln for ln in f.read().splitlines()
                    if "Exception" in ln or "Error" in ln][:5]
        die(f"harness failed (exit {p.returncode}): {' | '.join(tail)}")
    with open(res_f) as f:
        return launched, json.load(f)


def load_json(name, default):
    path = os.path.join(EXPECTED, name)
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


CHECK_PASSES = ("checks", "checks_warm")  # cold, then memo-warm


def check_queries(workload, res):
    """Failures: ids that threw, and ids whose fingerprint differs from
    the committed one (row count only for ids listed as not bit-stable),
    in the first warm-up call and again in the second, which the memos
    serve."""
    exp = load_json(f"{workload}.json", {})
    rows_only = exp.get("rows_only", {})
    failures = []
    for when in CHECK_PASSES:
        for qid, got in res[when].items():
            want = exp.get("ids", {}).get(qid)
            if "error" in got:
                failures.append(f"{qid} ({when}): {got['error']}")
            elif want is None:
                failures.append(f"{qid}: no committed fingerprint")
            elif got["rows"] != want["rows"]:
                failures.append(
                    f"{qid} ({when}): rows {got['rows']} != {want['rows']}")
            elif qid not in rows_only and got["hash"] != want["hash"]:
                failures.append(f"{qid} ({when}): content hash differs")
    return failures


def pair_recall(res, truth_file="pairs_truth.json"):
    """{id: (true pairs found, true pairs)} for the pair-emitting ids."""
    truth = load_json(truth_file, {})
    out = {}
    for qid, pairs in res.get("pairs", {}).items():
        want = {tuple(p) for p in truth.get(qid, [])}
        out[qid] = (len(want & {tuple(p) for p in pairs}), len(want))
    return out


def dedup_recall(res, truth_file="pairs_truth.json"):
    per_id = pair_recall(res, truth_file).values()
    total = sum(t for _, t in per_id)
    return sum(f for f, _ in per_id) / total if total else None


def check_lake(res, setup, ops):
    """Final snapshot and the time-travel read of the version before the
    check writes, each against the Python replay of the same stream."""
    failures = []
    before = lake_ops.replay(setup, ops, res["executed"])
    after = lake_ops.replay(setup, ops[:res["executed"]] + lake_ops.check_ops(),
                            res["executed"] + len(lake_ops.check_ops()))
    for t, st in res["state"].items():
        if st["final"] != lake_ops.as_rows(after[t]):
            failures.append(f"{t}: final snapshot differs from replay")
        if st["tt_rows"] != lake_ops.as_rows(before[t]):
            failures.append(f"{t}: time-travel version differs from replay")
    return failures


def lake_extras(res):
    s = res["samples"]
    ok = [x for x in s if x["error"] is None]
    commits = [x["total_s"] * 1e3 for x in ok if x["kind"] in M.WRITE_KINDS]
    reads = [x["total_s"] * 1e3 for x in ok if x["kind"] in M.READ_KINDS]
    rec = [x["total_s"] for x in ok if x["kind"] == "restart"]
    sp = res["space"]
    return {
        "sources.commit_p50_ms": M.percentile(commits, 50),
        "sources.commit_p90_ms": M.percentile(commits, 90),
        "sources.read_p50_ms": M.percentile(reads, 50),
        "sources.read_p90_ms": M.percentile(reads, 90),
        "sources.recovery_s": M.median(rec) if rec else 0.0,
        "sources.space_amp": int(sp["table_bytes"]) / max(1, int(sp["live_bytes"])),
        "sources.files_on_disk": int(sp["files_on_disk"]),
        "sources.log_files": int(sp["log_files"]),
        "api.files_rewritten": int(res["api_files_rewritten"]),
    }


def per_layer(workload, res, spans, recall):
    tree = M.SpanTree(spans)
    c0, c1 = res["counters_start"], res["counters_end"]
    d = {k: c1[k] - c0[k] for k in c0}
    n_compiles = d["codegen_compiles"]
    # the compile-time histogram keeps a bounded sample; scale its sum
    sampled = d["codegen_compile_ms_sampled"]
    compile_s = (sampled / 1e3 if c1["codegen_sample_size"] >= c1["codegen_compiles"]
                 else n_compiles * (c1["codegen_compile_ms_sampled"]
                                    / max(1.0, c1["codegen_sample_size"])) / 1e3)
    ph = res.get("plan_phase_ms", {})
    out = {
        "Tables.files_discovered": d["files_discovered"],
        "Tables.file_cache_hits": d["file_cache_hits"],
        "plans.analysis_s": ph.get("analysis", 0.0) / 1e3,
        "plans.optimizer_s": ph.get("optimization", 0.0) / 1e3,
        "plans.planning_s": ph.get("planning", 0.0) / 1e3,
        "functions.codegen_compiles": n_compiles,
        "functions.codegen_compile_s": compile_s,
    }
    out.update(M.operator_metrics(tree))
    out["operators.dedup_recall"] = recall if recall is not None else 0.0
    if WORKLOADS[workload]["mode"] == "queries":
        out.update(M.exec_metrics(tree, tree.of_kind("action")))
        lake = {}
    else:
        reads = [o for o in tree.of_kind("op") if o["name"] in M.READ_KINDS]
        out.update(M.exec_metrics(tree, reads))
        lake = lake_extras(res)
    src = M.source_metrics(tree)
    if lake:
        live = int(res["space"]["live_bytes"])
        src["sources.write_amp"] = src["sources.bytes_written"] / max(1, live)
    else:
        src["sources.write_amp"] = 0.0
    out.update(src)
    out.update(M.api_metrics(tree))
    for k in ("sources.commit_p50_ms", "sources.commit_p90_ms",
              "sources.read_p50_ms", "sources.read_p90_ms",
              "sources.recovery_s", "sources.space_amp",
              "sources.files_on_disk", "sources.log_files",
              "api.files_rewritten"):
        out[k] = lake.get(k, 0)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S

    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload!r}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isfile(
            os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        die("engine sources not found next to perfbench/ (run from a full checkout)")

    cp = build()
    data = ensure_data()
    if time.time() > t_start + 60:  # a build ran: restart the clock
        deadline = time.time() + RUN_LIMIT_S

    load_start = os.getloadavg()[0]
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        plan = make_plan(args, data, run_dir)
        launched, res = launch(cp, plan, run_dir, deadline)
        spans = None
        if args.trace:
            with open(plan["spans_out"]) as f:
                spans = json.load(f)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(plan["spans_out"], os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_end = os.getloadavg()[0]

    if args.record:
        prev = load_json(f"{args.workload}.json", {})
        rec = {"ids": {k: {"rows": v["rows"], "hash": v["hash"]}
                       for k, v in res["checks"].items() if "rows" in v},
               "rows_only": prev.get("rows_only", {})}
        with open(os.path.join(EXPECTED, f"{args.workload}.json"), "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
            f.write("\n")
        log(f"wrote expected/{args.workload}.json")

    samples = res["samples"]
    errors = [f"{s['op']}: {s['error']}" for s in samples if s["error"]]
    mode = WORKLOADS[args.workload]["mode"]
    recall = None
    if mode == "queries":
        failures = check_queries(args.workload, res)
        attempted = len(samples) + sum(len(res[w]) for w in CHECK_PASSES)
        if WORKLOADS[args.workload].get("pairs"):
            recall = dedup_recall(res)
    else:
        failures = [f"setup: {e}" for e in res["setup_errors"]]
        if not errors and not failures:
            failures += check_lake(res, plan["setup_ops"], plan["ops"])
        attempted = len(samples) + 1
    failed = len(errors) + len(failures)

    ok = [s for s in samples if s["error"] is None]
    # an operation is a query id, run once per pass, or one lake statement
    # (each has its own keys, so it runs once)
    lat = M.op_medians((s["op"], s["total_s"]) for s in ok)
    passes = res["passes"]
    e2e = {
        "setup_s": res["setup_done_us"] / 1e6 - launched,
        "wall_s": M.median([p["wall_s"] for p in passes]),
        "query_p50_s": M.percentile(lat, 50),
        "query_p90_s": M.percentile(lat, 90),
        "retained_heap_mb": max(p["heap_mb"] for p in passes),
    }
    info = {"workload": args.workload, "seed": args.seed,
            "trace": args.trace, "samples": len(ok), "operations": len(lat),
            "pass_walls": [round(p["wall_s"], 3) for p in passes],
            "pass_heap_mb": [round(p["heap_mb"], 1) for p in passes],
            "highest_percentile_with_10_beyond": M.highest_supported(len(ok)),
            "load_avg_start": load_start, "load_avg_end": load_end,
            "load_flag": load_start > 1.0,
            "fail_ratio": failed / attempted,
            "failures": (errors + failures)[:20],
            "wall_s": e2e["wall_s"]}
    if "session_ready_us" in res:
        info["session_s"] = res["session_ready_us"] / 1e6 - launched
        info["warm_s"] = {k: round(v.get("warm_s", 0), 3)
                          for k, v in res["checks"].items()}
    if recall is not None:
        info["dedup_recall"] = recall
    if mode == "lake":
        info.update(lake_extras(res))
    if args.trace:
        layer = per_layer(args.workload, res, spans, recall)
        pass_s, op_s = M.run_self_check(M.SpanTree(spans))
        info["trace_pass_s"], info["trace_op_s"] = pass_s, op_s
        out = {k: {"value": v, "unit": u} for k, (v, u) in sorted(
            {k: (float(v), unit_of(k)) for k, v in layer.items()}.items())}
    else:
        out = {k: {"value": float(e2e[k]), "unit": E2E_UNITS[k]} for k in E2E}
    print(json.dumps({"info": info}))
    for f in info["failures"]:
        log(f"FAILED {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


def unit_of(name):
    leaf = name.split(".", 1)[1]
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_bytes") or leaf == "bytes_written":
        return "bytes"
    if leaf in ("core_util", "build_share", "dedup_recall", "write_amp",
                "space_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
