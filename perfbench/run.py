#!/usr/bin/env python3
"""The repository benchmark: one command, two closed-loop workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the harness
from source (sbt, offline; reused while the sources are unchanged),
writes the workload's inputs from the seed under `.perfbench_work/`,
runs the harness JVM (`perfbench/harness`), checks every result against
its oracle, and prints as its last stdout line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
Everything it writes stays under `.perfbench_work/`.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

# Input sizes per workload. The corpus changes with --seed. The chain
# documents and the events have a fixed data seed, and --seed only sets the
# order of the calls: over ten seeds the chain graphs needed 5 to 8
# label-propagation rounds, a spread in work wider than the bounds.
WORKLOADS = {
    "mr_corpus": {"files": 16, "total_bytes": 2_000_000, "zipf": 1.1, "vocab": 20_000},
    "driver_loops": {"chains": 4, "chain_len": 20, "filler": 200, "tokens": 60,
                     "vocab": 2000, "events": 10_000, "data_seed": 42},
}
# Typical measured repetition, in seconds: a run measures about --seconds
# of repetitions, as a count fixed before it starts.
REP_SECONDS = {"mr_corpus": 2.5, "driver_loops": 5.0}
MIN_REPS = 3

END_TO_END = {"wall_s": "s", "first_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
              "setup_s": "s"}
# Every per-layer metric, printed for every workload (0 where a workload
# leaves the layer idle). Units follow from the name, see unit_of.
PER_LAYER = [
    "sessions.build_s", "sessions.warmup_s",
    "sources.scan_s", "sources.input_bytes", "sources.input_records", "sources.scan_tasks",
    "sources.readback_s", "sources.self_s",
    "mr.map_pairs", "mr.map_task_s", "mr.shuffle_write_bytes", "mr.shuffle_write_wait_s",
    "mr.shuffle_fetch_wait_s", "mr.reduce_task_s", "mr.reduce_skew", "mr.spill_bytes",
    "mr.gc_s", "mr.jobs", "mr.commit_s", "mr.output_files", "mr.output_bytes", "mr.self_s",
    "functions.holistic_reduce_s", "functions.minhash_s",
    "operators.construct_s", "operators.eager_jobs", "operators.analysis_s",
    "operators.optimize_s", "operators.planning_s", "operators.codegen_s",
    "operators.execute_s", "operators.task_s", "operators.task_cpu_s",
    "operators.shuffle_bytes", "operators.spill_bytes", "operators.jobs",
    "operators.stages", "operators.tasks", "operators.sched_gap_s",
    "operators.cut_storage_mb", "operators.release_s", "operators.self_s",
    "streaming.batches", "streaming.trigger_s", "streaming.add_batch_s",
    "streaming.query_planning_s", "streaming.commit_s", "streaming.overhead_s",
    "streaming.state_rows", "streaming.state_mb", "streaming.late_rows_dropped",
    "streaming.self_s",
    "trace.overhead_s", "client.failed_frac",
]
JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
              "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
              "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
              "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
              "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170          # every run ends within this, build excluded
BUILD_LIMIT_S = 700        # with one run, within the 900 s a first run may take


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = []
            for d, dirs, fs in os.walk(base):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, f) for f in sorted(fs)]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + harness; return the harness runtime classpath."""
    for need in ("build.sbt", "project/build.properties", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a checkout of the program: {need} is missing under {ROOT}")
    harness = os.path.join(HERE, "harness")
    stamp = _tree_hash([os.path.join(ROOT, "src/main"), os.path.join(ROOT, "build.sbt"),
                        os.path.join(ROOT, "project/build.properties"),
                        os.path.join(harness, "build.sbt"), os.path.join(harness, "src"),
                        os.path.join(harness, "project/build.properties")])
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness (sbt) ...")
    t0 = time.time()
    with open(os.path.join(bdir, "sbt.log"), "w") as out:
        rc = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export harness/Runtime/fullClasspath"],
                  cwd=harness, env=env, stdout=out, timeout=BUILD_LIMIT_S)
    lines = open(os.path.join(bdir, "sbt.log")).read().splitlines()
    cp = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if rc != 0 or not cp:
        fail(f"build failed (rc={rc}); see {bdir}/sbt.log")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1]


def _run(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ----------------------------------------------------------------- inputs

def _key(params):
    return hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:12]


def inputs(workload, seed):
    """Write (once) and return the input dir of `workload` at `seed`."""
    import gen
    p = WORKLOADS[workload]
    seed = p.get("data_seed", seed)
    d = os.path.join(WORK, "inputs", f"{workload}-s{seed}-{_key(p)}")
    if os.path.isdir(d):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    if workload == "mr_corpus":
        gen.corpus(tmp, seed, p["files"], p["total_bytes"], p["zipf"], p["vocab"])
    else:
        gen.chains(tmp, seed, p["chains"], p["chain_len"], p["filler"], p["tokens"], p["vocab"])
        gen.events(tmp, p["events"], seed)
    os.replace(tmp, d)
    log(f"inputs {os.path.basename(d)} written in {time.time() - t0:.1f} s")
    return d


def oracle_check(inputs_dir, results_dir):
    """Compare the query results the harness dumped under `results_dir`
    with DuckDB running each query's oracle SQL over the input tables, by
    the repository's own check (`tools/check.py`). Return the names of
    the results that differ."""
    if not os.path.exists(os.path.join(results_dir, "oracle_sql.json")):
        return set()
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        inputs_dir, results_dir], capture_output=True, text=True,
                       timeout=120)
    bad = {m.group(1) for m in re.finditer(r"^\[FAIL\] (\w+):", p.stdout, re.M)}
    if p.returncode != 0 and not bad:
        fail(f"oracle check failed (rc={p.returncode}): {p.stdout[-500:]} {p.stderr[-500:]}")
    for line in p.stdout.splitlines():
        log(f"oracle: {line}")
    return bad


# ---------------------------------------------------------------- running

def harness(cp, workload, seed, reps, trace, inputs_dir, budget):
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    out = os.path.join(runs, f"{workload}-s{seed}-t{trace}.json")
    for f in (out, out + ".spans.jsonl"):
        if os.path.exists(f):
            os.remove(f)
    work = os.path.join(WORK, "spark", workload)
    shutil.rmtree(os.path.join(work, "results"), ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xms1g", "-Xmx1g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--inputs", inputs_dir,
            "--work", work, "--out", out,
            "--seed", str(seed), "--reps", str(reps), "--trace", str(trace),
            "--cpus", str(cpus), "--budget", str(max(10, budget - 15))]
    t0 = time.time()
    with open(out + ".log", "w") as errlog:
        # few malloc arenas: otherwise the native part of the peak RSS
        # depends on which of the JVM's many threads happened to allocate
        rc = _run(cmd, timeout=budget, stdout=errlog, stderr=subprocess.STDOUT,
                  env=dict(os.environ, MALLOC_ARENA_MAX="2"))
    log(f"harness ran {time.time() - t0:.1f} s")
    if rc != 0 or not os.path.exists(out):
        fail(f"harness failed (rc={rc}); see {out}.log", code=3)
    return json.load(open(out))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def summarize(res, inputs_dir, results_dir, trace):
    t0 = time.time()
    wrong = oracle_check(inputs_dir, results_dir)
    log(f"oracle check in {time.time() - t0:.1f} s")
    attempted = failed = 0
    rep_ok = []
    for i, rep in enumerate(res["reps"]):
        ok = True
        for c in rep["calls"]:
            attempted += 1
            # the harness checks every result of a query against its first,
            # and the first against the oracle here
            err = c["error"] or (c["name"] in wrong and "differs from its oracle")
            if err:
                failed += 1
                ok = False
                log(f"rep {i} call {c['name']} FAILED: {err}")
        rep_ok.append(ok)
    reps = res["reps"]
    warm = [r for r, ok in zip(reps, rep_ok) if ok and r["kind"] == "measured"]
    plain = [r for r in warm if not r["traced"]]
    traced = [r for r in warm if r["traced"]]
    if not trace:
        values = {
            "wall_s": median([r["wall_s"] for r in plain]),
            "first_s": reps[0]["wall_s"] if rep_ok[0] else float("nan"),
            "cpu_s": median([r["cpu_s"] for r in plain]),
            "peak_rss_mb": res["peak_rss_mb"],
            "setup_s": res["setup"][0],
        }
        units = END_TO_END
        log(f"wall_s and cpu_s: median of {len(plain)} measured reps; first_s: 1 cold rep; "
            f"setup_s: 1 set-up from JVM start")
    else:
        values = {k: float("nan") for k in PER_LAYER}
        for k in {k for r in traced for k in r["layers"]}:
            values[k] = median([r["layers"][k] for r in traced])
        values.update(res["probes"])
        values["sessions.build_s"] = res["setup"][1]
        values["sessions.warmup_s"] = res["setup"][2]
        values["trace.overhead_s"] = (median([r["wall_s"] for r in traced])
                                      - median([r["wall_s"] for r in plain]))
        values["client.failed_frac"] = failed / max(1, attempted)
        units = {k: unit_of(k) for k in values}
        log(f"per-layer: median of {len(traced)} traced measured reps "
            f"(overhead against {len(plain)} untraced)")
    correct = failed == 0 and not res["aborted"] and all(
        not math.isnan(v) for v in values.values())
    metrics = {k: {"value": (None if math.isnan(v) else v), "unit": units[k]}
               for k, v in values.items()}
    return {"correct": correct, "attempted": max(1, attempted), "failed": failed,
            "metrics": metrics}


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "_skew")):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    t0 = time.time()
    d = inputs(a.workload, a.seed)
    reps = max(MIN_REPS + a.trace, round(a.seconds / REP_SECONDS[a.workload]))
    res = harness(cp, a.workload, a.seed, reps, a.trace, d,
                  budget=RUN_LIMIT_S - (time.time() - t0) - 10)
    out = summarize(res, d, os.path.join(WORK, "spark", a.workload, "results"), a.trace)
    for k, m in out["metrics"].items():
        log(f"{k} = {m['value']} {m['unit']}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
