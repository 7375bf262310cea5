#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload scan_sfc --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the benchmark JVM (perfbench/build.sbt,
which compiles the program from ../src) when its sources changed,
generates the workload's inputs from the seed, runs the benchmark JVM, checks
every answer with DuckDB, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"} - the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The full run record
(ops, spans, counter ledger, run context) goes to
perfbench/work/artifacts/<workload>-seed<seed>-trace<t>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
TARGET = os.path.join(BENCH, "target")

# Input sizes, chosen so that a run (JVM start, set-up, warm-up, the
# timed window and the checks) stays under a minute on a 4-core host.
# datagen.py reads the input sizes; every entry also reaches the JVM as
# `--key value`, which reads the ones it needs. upsert_decay's warm-up
# commits 3 batches and its window at least 3, so 10 batches leave room
# for a program about twice as fast. q98_pq256_packed takes embeddings
# 0-255 as its codebook and searches the rest, so curation_mix needs more
# than 256 documents.
SIZES = {
    "scan_sfc": {"rows": 40000, "files": 16, "instances_per_band": 3},
    "upsert_decay": {"rows": 30000, "files": 16, "batches": 10, "small_rows": 30,
                     "bulk_rows": 750, "bulk_every": 5, "probes_per_band": 5},
    "curation_mix": {"docs": 300, "queries": ",".join(metrics.CURATION)},
}
# The program's own JVM options (build.sbt javaOptions), with a smaller
# heap and off-heap pool sized for these inputs. A fixed heap size keeps
# the resident set from following the collector's resizing decisions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xms3g", "-Xmx3g",
    "-XX:ReservedCodeCacheSize=512m", "-XX:+UseParallelGC",
    "-Dspark.memory.offHeap.enabled=true", "-Dspark.memory.offHeap.size=1g",
]
RUN_BUDGET_S = 170
# The JVM's class-data-sharing archive (see `train`) and the small
# scan_sfc run that fills it.
CDS_ARCHIVE = os.path.join(TARGET, "classes.jsa")
TRAIN_SIZES = {"rows": 20000, "files": 8, "instances_per_band": 2}
# Each traced SfcTable query's open/plan/exec spans must cover this
# share of its wall time, or the run is not correct.
MIN_SPAN_COVERAGE = 0.9


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every file the benchmark build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark JVM; returns the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] program source missing: {need}")
    fp = fingerprint()
    cp_file = os.path.join(TARGET, "classpath.txt")
    fp_file = os.path.join(TARGET, "fingerprint.txt")
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip(), fp
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the benchmark JVM with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"[perfbench] build failed (sbt exit {r.returncode})")
    with open(cp_file) as fh:
        classpath = jar_classpath(fh.read().strip())
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    train(classpath)
    with open(fp_file, "w") as fh:
        fh.write(fp)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath, fp


def jar_classpath(classpath):
    """The classpath with each class directory packed into a jar: the
    class-data-sharing archive takes classes from jars only."""
    jars = os.path.join(TARGET, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, fs in os.walk(entry):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def train(classpath):
    """Runs a small scan_sfc and archives the classes it loaded
    (class-data sharing), which saves each later run seconds of JVM and
    Spark start-up."""
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    scratch = os.path.join(WORK, "runs", "train")
    shutil.rmtree(scratch, ignore_errors=True)
    data_dir, out_dir = os.path.join(scratch, "data"), os.path.join(scratch, "out")
    os.makedirs(out_dir)
    datagen.generate("scan_sfc", 0, data_dir, TRAIN_SIZES)
    run_jvm(classpath, jvm_args("scan_sfc", 0, 0, 0, data_dir, out_dir, TRAIN_SIZES), scratch,
            time.time() + RUN_BUDGET_S, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    shutil.rmtree(scratch, ignore_errors=True)


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def jvm_args(workload, seed, seconds, trace, data_dir, out_dir, sizes):
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", data_dir, "--out", out_dir, "--cpus", str(cpus())]
    for k, v in sizes.items():
        args += [f"--{k}", str(v)]
    return args


def run_jvm(classpath, args, scratch, deadline, flags):
    """Runs the benchmark JVM with its working, temporary and Spark local
    directories inside the run's scratch directory."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JVM_FLAGS + flags + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                                          "-cp", classpath, "perfbench.Main"] + args
    log_path = os.path.join(scratch, "jvm.log")
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=scratch, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"[perfbench] benchmark JVM failed ({rc}); log: {log_path}")


def steal_s():
    """CPU time the hypervisor gave to other guests so far (the steal
    column of /proc/stat), in seconds; None where it is not available."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def counter_ledger(run):
    """Per op: the counters that must repeat exactly for the same seed."""
    return [[op["id"], op["kind"], op["name"], op["arm"], op["counters"]["jobs"],
             op["counters"]["stages"], op["counters"]["tasks"], op["exchanges"],
             sum(s["files"] for s in op["scans"]), sum(s["table_files"] for s in op["scans"])]
            for op in run["ops"]]


def compare_ledgers(prev, cur):
    """Differences over the ops both runs reached (a time-bounded window
    can end at a different op)."""
    n = min(len(prev), len(cur))
    diffs = [{"op": a[0], "before": a, "now": b} for a, b in zip(prev[:n], cur[:n]) if a != b]
    return {"compared_ops": n, "identical": not diffs, "differences": diffs[:20]}


def span_coverage(run):
    """Share of each SfcTable query's wall time its open/plan/exec spans
    cover (the mix queries of curation_mix have no such spans)."""
    child = {}
    for s in run["spans"]:
        if s["name"].startswith("table."):
            child[s["op"]] = child.get(s["op"], 0.0) + s["ms"]
    covs = [child[op["id"]] / op["ms"] for op in run["ops"]
            if op["id"] in child and op["error"] is None and op["ms"] > 0]
    return {"ops": len(covs), "min": min(covs) if covs else None,
            "below_min": sum(1 for c in covs if c < MIN_SPAN_COVERAGE)}


def check(workload, run, info, data_dir, out_dir):
    """(wrong answers by op id, check details)."""
    if workload == "scan_sfc":
        return checks.check_scan(run, data_dir), {}
    if workload == "upsert_decay":
        for op in run["ops"]:
            if op["kind"] == "upsert":
                op["batch_rows"] = info["batch_rows"][op["batch"]]
        return checks.check_upsert(run, data_dir, out_dir)
    return checks.check_curation(run, data_dir)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    load_before = os.getloadavg()
    steal_before = steal_s()
    classpath, fp = build()
    deadline = time.time() + RUN_BUDGET_S

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    scratch = os.path.join(WORK, "runs", tag)
    shutil.rmtree(scratch, ignore_errors=True)
    data_dir, out_dir = os.path.join(scratch, "data"), os.path.join(scratch, "out")
    os.makedirs(out_dir)
    t0 = time.time()
    sizes = SIZES[a.workload]
    info = datagen.generate(a.workload, a.seed, data_dir, sizes)
    datagen_s = time.time() - t0

    t0 = time.time()
    run_jvm(classpath, jvm_args(a.workload, a.seed, a.seconds, a.trace, data_dir, out_dir, sizes),
            scratch, deadline, [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"])
    jvm_s = time.time() - t0
    with open(os.path.join(out_dir, "run.json")) as fh:
        run = json.load(fh)
    run["datagen_s"] = datagen_s

    # correctness, outside every timed window
    t0 = time.time()
    run["layer"]["source_rows"] = info.get("rows")
    bad, extra = check(a.workload, run, info, data_dir, out_dir)
    for op in run["ops"]:
        op["wrong"] = op["id"] in bad
    attempted, failed = metrics.failures(run["ops"])
    coverage = span_coverage(run) if a.trace else None
    correct = (failed == 0 and extra.get("final_table_ok", True)
               and not (coverage and coverage["below_min"]))
    check_s = time.time() - t0

    e2e = metrics.e2e(run)
    per_layer = metrics.layer(run)
    ledger = counter_ledger(run)
    os.makedirs(os.path.join(WORK, "e2e"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "ledger"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    e2e_path = os.path.join(WORK, "e2e", f"{a.workload}-seed{a.seed}.json")
    ledger_path = os.path.join(WORK, "ledger", f"{a.workload}-seed{a.seed}.json")
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "correct": correct, "attempted": attempted, "failed": failed,
        "wrong_answers": {str(k): v for k, v in list(bad.items())[:20]},
        "checks": extra,
        "e2e": e2e,
        "samples": {
            "setup_s": run["setup_s"], "setup_steps_ms": run["setup_steps_ms"],
            "pass_ms": run["pass_ms"],
            "query_ms": stats.summary([op["ms"] for op in metrics.timed(run, metrics.READ_KINDS)]),
            "upsert_ms": stats.summary([op["ms"] for op in metrics.timed(run, ("upsert",))]),
        },
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()},
        "context": {
            "nproc": cpus(), "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "steal_s": (steal_s() - steal_before) if steal_before is not None else None,
            "master": run["master"], "jvm_flags": run["jvm_flags"],
            "git_commit": git_commit(), "source_fingerprint": fp, "seed": a.seed,
            "inputs": info, "datagen_s": datagen_s, "jvm_s": jvm_s, "check_s": check_s,
            "session_s": run["session_s"],
            "warmup_s": run["warmup_s"], "window_s": run["window_s"],
            "wall_s": time.time() - t_start,
            "note": "every committed BENCH_*.json at the repository root was taken at "
                    "local[32] on another host and is not comparable with these figures",
        },
    }
    if a.trace:
        artifact["span_coverage"] = coverage
        artifact["counter_ledger"] = ledger
        if os.path.exists(ledger_path):
            with open(ledger_path) as fh:
                artifact["ledger_repeat"] = compare_ledgers(json.load(fh), ledger)
        with open(ledger_path, "w") as fh:
            json.dump(ledger, fh)
        if os.path.exists(e2e_path):
            with open(e2e_path) as fh:
                untraced = json.load(fh)
            artifact["trace_overhead"] = {k: e2e[k] / untraced[k] for k in e2e if untraced.get(k)}
        artifact["spans"] = run["spans"]
        artifact["ops"] = run["ops"]
    else:
        with open(e2e_path, "w") as fh:
            json.dump(e2e, fh)
    with open(os.path.join(WORK, "artifacts", f"{tag}.json"), "w") as fh:
        json.dump(artifact, fh, default=str)
    shutil.rmtree(scratch, ignore_errors=True)

    if a.trace:
        out = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        out = {k: {"value": v, "unit": metrics.E2E[k]} for k, v in e2e.items()}
    for k, v in artifact["samples"].items():
        log(f"{k}: {v}")
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
