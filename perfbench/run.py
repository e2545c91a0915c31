#!/usr/bin/env python3
"""Cold TestGen job benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Each repetition is one fresh JVM running one workload's Runner stage
list, cut to named calls, through `graft.perfbench.Job` (see BENCH.md).
A run makes at least one repetition and starts another only while the
previous repetition's wall time still fits in `--seconds`. It checks
every landing against the committed row count and fingerprint, and
prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones (medians over the
repetitions); with `--trace 1` they are the per-layer ones, from one
traced repetition, plus the tracing overhead: its job time minus the
median untraced job time of the workload's earlier runs with the same
build, or, with none, the time the job waited for the listener bus.
A failed or mismatched landing is named on a FAILED line before the
result, and the run exits 1. Nothing is retried.

Developer options: `--record` rewrites the workload's expected file from
this run; `--data DIR` runs on an existing table directory instead of
generated inputs (for example the sf1 tables `sf1.py` builds), with a
longer job time-out and no fingerprint check.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import fingerprint

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def only(stage, *calls):
    """A stage cut to the named calls, made in the stage's own order."""
    return f"{stage}={'+'.join(calls)}"


# Runner stage lists, cut to fit the time budget (see BENCH.md). Between
# them they make calls into every layer of Stages.layers.
WORKLOADS = {
    "profile_sf0.01": {"sf": 0.01, "stages": [
        "chars",
        "drift",
        only("profile", "profiling.Profiler.profile:lineitem", "profiling.Profiler.profile:events",
             "pipeline.IncrementalProfile.run", "profiling.HeavyHitters.run",
             "profiling.Benford.run"),
        only("hygiene", "inference.KAnonymity.run", "inference.LDiversity.run",
             "pipeline.EncodingScreen.run"),
        only("monitor", "streaming.Monitors.runFreshness", "streaming.Monitors.runVolumeBands",
             "streaming.Monitors.runSarimax"),
        only("curate", "pipeline.Multimodal.runPhashDedup"),
        only("index", "pipeline.Similarity.writeIndex", "pipeline.Similarity.compactIndex",
             "pipeline.Dedup.embeddingIndex"),
    ]},
    "tests_sf0.01": {"sf": 0.01, "stages": [
        only("execute", *[f"cat.CatSuite.run:{t}" for t in ("customer", "events", "lineitem", "orders")],
             "querytests.QueryTests.run:aggregate_balance"),
        only("score", "scoring.Scoring.runTestPrevalence", "scoring.Scoring.runScoreRollup",
             "scoring.Scoring.landScoreDetail", "scoring.Scoring.scoreHistoryFromLanded"),
        only("generate", "generation.TestValidation.run"),
    ]},
}

END_TO_END = {"setup_s": "s", "job_s": "s", "job_cpu_s": "s", "peak_heap_mb": "MB"}
LAYER_METRICS = {"build_s": "s", "exec_s": "s", "driver_s": "s", "plan_s": "s",
                 "jobs": "count", "tasks": "count", "task_cpu_s": "s",
                 "scan_mb": "MB", "shuffle_mb": "MB"}
PROCESS_METRICS = {"write_mb": "MB", "spill_mb": "MB", "gc_s": "s", "jit_s": "s",
                   "codegen_compiles": "count"}
LAYERS = ["core", "profiling", "inference", "generation", "cat", "querytests", "scoring",
          "streaming", "pipeline", "pipeline.Dedup", "pipeline.Similarity",
          "pipeline.Multimodal"]

# -XX:-UsePerfData: the JVM's monitoring counters would otherwise be a file under /tmp
JVM_FLAGS = ["-Xmx4g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
JOB_TIMEOUT_S = 170
DATA_TIMEOUT_S = 1800


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile the engine plus the harness; reuse a build of the same sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no engine sources under src/main/scala; run from a checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(WORK, "build.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    jars = spark_jars()
    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()
            and os.path.isdir(classes)):
        log("building engine and harness with sbt")
        env = dict(os.environ, SPARK_HOME=os.path.dirname(jars))
        env.setdefault("COURSIER_MODE", "offline")
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=840)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            sys.exit("perfbench: build failed")
        # untraced job times of another build are no baseline for this one
        shutil.rmtree(os.path.join(WORK, "untraced"), ignore_errors=True)
        os.makedirs(WORK, exist_ok=True)
        with open(stamp, "w") as fh:
            fh.write(h.hexdigest())
    return classes + os.pathsep + os.path.join(jars, "*")


def inputs(sf, seed):
    """Generated tables for (sf, seed), reused once generated completely."""
    d = os.path.join(WORK, "data", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(d, ".complete")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), "--sf", str(sf),
                        "--seed", str(seed), "--out", d], check=True, timeout=600)
        open(os.path.join(d, ".complete"), "w").close()
    return d


def cpu_times():
    """The machine's cumulative CPU times from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def job(classpath, data, stages, trace, rep, timeout=JOB_TIMEOUT_S):
    """One cold job in a fresh JVM; returns (result dict, output dir)."""
    out = os.path.join(WORK, "out", f"rep{rep}")
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(tmp)
    result = os.path.join(out, "result.json")
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        "-cp", classpath, "graft.perfbench.Job",
        data, out, ",".join(stages), "1" if trace else "0", result]
    # the engine reads GRAFT_* tuning variables; run it at its shipped
    # defaults. The one exception is a path: the history store an engine
    # call falls back to defaults to a per-process directory under /tmp,
    # so point it into this repetition's output directory instead.
    env = {k: v for k, v in os.environ.items() if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    env["GRAFT_HISTORY_DIR"] = os.path.join(out, "history")
    before = cpu_times()
    with open(os.path.join(WORK, f"job{rep}.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=out, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            sys.exit("perfbench: job timed out")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(WORK, f"job{rep}.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"perfbench: job exited with {rc}")
    with open(result) as fh:
        res = json.load(fh)
    after = cpu_times()
    if before and after and len(before) > 7:
        # time the hypervisor gave to other guests: the host's load, which
        # slows a job without showing in this machine's own figures
        d = [b - a for a, b in zip(before, after)]
        res["settings"]["cpu_steal_pct"] = 100.0 * d[7] / max(1, sum(d))
    return res, out


def expected_path(workload):
    return os.path.join(HERE, "expected", f"{workload}.json")


def check(ops, expected):
    """Names of failed operations: errors, missing or unexpected landings,
    and row-count or fingerprint mismatches."""
    failed = []
    want = expected["landings"]
    seen = set()
    for op in ops:
        name = op["name"]
        if "error" in op:
            failed.append(f"{name}: {op['error']}")
            continue
        if "path" not in op:
            continue
        seen.add(name)
        if name not in want:
            failed.append(f"{name}: landed but not expected")
            continue
        rows, fp = fingerprint.fingerprint(op["path"], expected["exclude_columns"].get(name, []))
        if rows != want[name]["rows"] or fp != want[name]["fingerprint"]:
            cols = fingerprint.column_fingerprints(op["path"])
            differ = sorted(c for c in set(cols) | set(want[name]["columns"])
                            if cols.get(c) != want[name]["columns"].get(c))
            failed.append(f"{name}: rows={rows} fingerprint={fp}, expected "
                          f"rows={want[name]['rows']} fingerprint={want[name]['fingerprint']}; "
                          f"columns that differ: {', '.join(differ) or 'none'}")
    failed += [f"{n}: expected but not landed" for n in sorted(set(want) - seen)]
    return failed


def record(workload, ops):
    """Write the expected file from this run's landings (developer use)."""
    path = expected_path(workload)
    old = json.load(open(path)) if os.path.exists(path) else {"exclude_columns": {}}
    landings = {}
    for op in ops:
        if "error" in op:
            sys.exit(f"perfbench: cannot record, {op['name']} failed: {op['error']}")
        if "path" in op:
            rows, fp = fingerprint.fingerprint(op["path"], old["exclude_columns"].get(op["name"], []))
            landings[op["name"]] = {"rows": rows, "fingerprint": fp,
                                    "columns": fingerprint.column_fingerprints(op["path"])}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"workload": workload, "exclude_columns": old["exclude_columns"],
                   "landings": landings}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log(f"recorded {len(landings)} landings -> {path}")


def metric(value, unit):
    return {"value": value, "unit": unit}


def layer_metrics(res):
    m = {}
    for layer in LAYERS:
        for k, unit in LAYER_METRICS.items():
            m[f"{layer}.{k}"] = metric(res["layers"][layer][k], unit)
    for k, unit in PROCESS_METRICS.items():
        m[k] = metric(res["process"][k], unit)
    m["traced_job_s"] = metric(res["job_s"], "s")
    spans = sum(res["layers"][l]["build_s"] + res["layers"][l]["exec_s"] for l in LAYERS)
    m["unattributed_s"] = metric(res["job_s"] - spans, "s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--data")
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    # a terminated run still stops its JVM (see job)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    classpath = build()
    data = os.path.abspath(a.data) if a.data else inputs(w["sf"], a.seed)
    expected = None
    if not (a.record or a.data):
        with open(expected_path(a.workload)) as fh:
            expected = json.load(fh)

    reps, failures, attempted = [], [], 0
    started = time.monotonic()
    # untraced job times of this workload with this build: the baseline
    # for the tracing overhead
    baseline_path = os.path.join(WORK, "untraced", f"{a.workload}.json")
    baseline = json.load(open(baseline_path)) if os.path.exists(baseline_path) else []
    traced = bool(a.trace)
    while True:
        rep = len(reps)
        t0 = time.monotonic()
        res, out = job(classpath, data, w["stages"], traced, rep,
                       DATA_TIMEOUT_S if a.data else JOB_TIMEOUT_S)
        attempted += len(res["ops"])
        if a.record:
            record(a.workload, res["ops"])
        elif expected is not None:
            failures += [f"rep{rep} {f}" for f in check(res["ops"], expected)]
        else:
            failures += [f"rep{rep} {o['name']}: {o['error']}" for o in res["ops"] if "error" in o]
        res["wall_s"] = time.monotonic() - t0
        reps.append(res)
        if not traced and not a.data:
            baseline.append(res["job_s"])
            os.makedirs(os.path.dirname(baseline_path), exist_ok=True)
            with open(baseline_path, "w") as fh:
                json.dump(baseline, fh)
        if traced:
            shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(WORK, "spans.jsonl"))
        # a traced run makes one repetition
        if traced or a.record or time.monotonic() - started + res["wall_s"] > a.seconds:
            break

    with open(os.path.join(WORK, "last_run.json"), "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "reps": reps}, fh, indent=1)
    for f in failures:
        print(f"FAILED {f}")

    if a.trace:
        t = reps[0]
        metrics = layer_metrics(t)
        # with no untraced run to compare, the time the job waited for
        # the listener bus: the part of the overhead inside job_s
        overhead = t["job_s"] - statistics.median(baseline) if baseline else t["drain_s"]
        metrics["trace_overhead_s"] = metric(overhead, "s")
        metrics["ops_failed"] = metric(len(failures) / attempted, "ratio")
    else:
        metrics = {k: metric(statistics.median(r[k] for r in reps), unit)
                   for k, unit in END_TO_END.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
