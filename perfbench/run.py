#!/usr/bin/env python3
"""The repo benchmark: one command, four workloads (two in BENCHMARK.json).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --record

Run from the root of a checkout. The first call builds the engine and the
harness (perfbench/build.sbt, offline sbt) into perfbench/.work/; later calls
reuse the build while the sources are unchanged. Each run gets a fresh work
directory, temp dir and Spark local dir, deleted when it ends, so run 1 and
run 22 do the same work (no fixture pool or scratch survives a run).

The last stdout line is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports BENCHMARK.json's end_to_end metrics, --trace 1 its
per_layer metrics. Trace artifacts (spans.jsonl, layer_self_time.json,
trace_overhead.json) land in perfbench/.work/out/<workload>/. The overhead
compares a traced run with earlier untraced runs of the same sources, seed
and --seconds; run those first (--trace 0), or it reads null.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = HERE / ".work"
ENGINE_SRC = REPO / "src" / "main" / "scala"
DATA = HERE / "data" / "sf0.01"
PRINTS = HERE / "fingerprints.txt"
WORKLOADS = ["cdc_trickle", "cdc_backfill", "gold_queries", "operator_loops"]
GOLD = ["q01_dedup_latest", "q02_envelope_extract", "q03_fact_enrich",
        "q04_scd2_history", "q05_upsert_incremental", "q06_agg_pricing",
        "q07_having_dupes", "q08_anti_orphans", "q09_dq_suite",
        "q10_window_running", "q11_asof_join", "q12_tumbling_window",
        "q13_session_window", "q14_star_revenue", "q15_zscore_anomaly"]
LOOPS = ["q100_bpe_train", "q141_fuzzy_global", "q169_pagerank",
         "q264_cluster_erase"]
RUN_TIMEOUT_S = 170
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(REPO / "BENCHMARK.json") as f:
        return json.load(f)


# ── build ────────────────────────────────────────────────────────────────

def source_stamp():
    h = hashlib.sha256()
    files = sorted(p for d in (ENGINE_SRC, HERE / "src") for p in d.rglob("*")
                   if p.is_file())
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    out = WORK / "build"
    stamp = source_stamp()
    cp_file, stamp_file = out / "classpath.txt", out / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    out.mkdir(parents=True, exist_ok=True)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    log("building engine + harness with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                       " -Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g"
                       " -XX:-UsePerfData -Djava.io.tmpdir=" + str(tmp))
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if ".jar" in l and ":" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        log("build failed")
        sys.exit(3)
    cp_file.write_text(cps[-1].strip() + "\n")
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1].strip()


# ── one JVM run ──────────────────────────────────────────────────────────

def jvm(args, run_dir, timeout=RUN_TIMEOUT_S):
    """Run perfbench.Main with a private temp dir; returns (code, stdout)."""
    cp = classpath()
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", cp, "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {timeout} s")
        return 124, ""
    return proc.returncode, out


def run_once(workload, seed, seconds, trace):
    run_dir = WORK / "runs" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    out_dir = WORK / "out" / workload / f"seed{seed}-trace{trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        code, out = jvm(["run", workload, str(seed), str(seconds), str(trace),
                         str(run_dir / "work"), str(out_dir), str(DATA), str(PRINTS)],
                        run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not lines:
        log(f"{workload}: no result (exit {code})")
        sys.exit(code or 1)
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):]), out_dir


# ── result line ──────────────────────────────────────────────────────────

def not_run(workload, name):
    """Per-layer metrics of layers the workload does not exercise read 0."""
    cdc_layers = ("cdc.", "silver.", "streaming.", "bronze.", "gold.", "marts.",
                  "storage.")
    if workload.startswith("cdc_"):
        return name.startswith(("queries.", "operators.", "q.")) or name == "harness.wall_s"
    if name.startswith(cdc_layers):
        return True
    own = GOLD if workload == "gold_queries" else LOOPS
    if name.startswith("q."):
        return name.split(".")[1] not in own
    other = "operators." if workload == "gold_queries" else "queries."
    return name.startswith(other) and not name.endswith("_after")


def run_key(seed, seconds):
    """What a traced run may be compared with: the same sources, seed and
    run length."""
    return {"stamp": source_stamp(), "seed": seed, "seconds": seconds}


def overhead(workload, traced, key):
    """Traced end-to-end values against the median of this checkout's
    untraced runs with the same key. With no such run the overhead is
    null: run the same seed with --trace 0 first."""
    hist = WORK / "results" / f"{workload}.jsonl"
    rows = ([json.loads(l) for l in hist.read_text().splitlines() if l.strip()]
            if hist.exists() else [])
    rows = [r["e2e"] for r in rows if r.get("key") == key]
    out = {"key": key, "untraced_runs": len(rows), "metrics": {}}
    for k, m in traced["e2e"].items():
        base = statistics.median(r[k] for r in rows) if rows else None
        out["metrics"][k] = {"traced": m["value"], "untraced_median": base,
                             "overhead_share": m["value"] / base - 1 if rows else None}
    return out


def record_untraced(workload, res, key):
    hist = WORK / "results" / f"{workload}.jsonl"
    hist.parent.mkdir(parents=True, exist_ok=True)
    with open(hist, "a") as f:
        f.write(json.dumps({"key": key,
                            "e2e": {k: m["value"] for k, m in res["e2e"].items()}}) + "\n")


def result_line(workload, res, trace, out_dir, bench):
    metrics = {}
    if trace == 0:
        for m in bench["end_to_end"]:
            got = res["e2e"][m["name"]]
            assert got["unit"] == m["unit"], (m["name"], got["unit"])
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    else:
        for m in bench["per_layer"]:
            name = m["name"]
            if name in res["layers"]:
                v = res["layers"][name]
            elif not_run(workload, name):
                v = 0.0
            else:
                raise KeyError(f"{workload} did not report {name}")
            metrics[name] = {"value": v, "unit": m["unit"]}
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not (ENGINE_SRC / "graft").is_dir() or not (REPO / "BENCHMARK.json").is_file():
        log("engine sources not found: run from the root of a full checkout")
        sys.exit(2)
    if a.selftest:
        sys.exit(selftest())
    if a.record:
        run_dir = WORK / "runs" / "record"
        run_dir.mkdir(parents=True, exist_ok=True)
        code, out = jvm(["record", str(DATA), str(PRINTS)], run_dir, timeout=900)
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(code)
    if a.workload is None:
        ap.error("--workload is required")
    bench = spec()
    res, out_dir = run_once(a.workload, a.seed, a.seconds, a.trace)
    key = run_key(a.seed, a.seconds)
    if a.trace == 0:
        if res["correct"]:
            record_untraced(a.workload, res, key)
    else:
        ov = overhead(a.workload, res, key)
        (out_dir / "trace_overhead.json").write_text(json.dumps(ov, indent=1) + "\n")
    line = result_line(a.workload, res, a.trace, out_dir, bench)
    print(json.dumps(line), flush=True)
    sys.exit(0 if line["correct"] else 1)


def selftest():
    """Generator/fold checks in the JVM, then every workload's printer."""
    run_dir = WORK / "runs" / "selftest"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    code, out = jvm(["selftest", str(run_dir / "work")], run_dir)
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write(out)
    if code != 0:
        return code
    bench = spec()
    for w in WORKLOADS:
        for t in (0, 1):
            res, out_dir = run_once(w, 3, 1, t)
            line = result_line(w, res, t, out_dir, bench)
            names = [m["name"] for m in bench["end_to_end" if t == 0 else "per_layer"]]
            ok = line["correct"] and sorted(line["metrics"]) == sorted(names) and all(
                isinstance(v["value"], (int, float)) and v["unit"] for v in line["metrics"].values())
            print(f"[selftest] {'PASS' if ok else 'FAIL'} printer: {w} trace {t} "
                  f"emits {len(line['metrics'])}/{len(names)} metrics with units")
            if not ok:
                return 1
            if t == 1 and not (out_dir / "spans.jsonl").exists():
                print(f"[selftest] FAIL trace artifacts missing for {w}")
                return 1
    return 0


if __name__ == "__main__":
    main()
