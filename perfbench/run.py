#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 8 --trace 0

Builds the engine from the checkout's sources (once; later runs reuse
the build), generates the seeded inputs, runs set-up, the closed-loop
drain and the open-loop paced phase in one JVM (`Driver.scala`), checks
the sink outputs against a DuckDB reference (`check.py`), prints every
metric with its unit and sample count, and ends with one JSON line.
With `--trace 1` the metrics are the per-layer ones from a traced run.
Workload definitions, sizes and offered rates are in `workloads.json`;
`WORKLOADS.md` explains them.
"""

import argparse
import fcntl
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(WORK, "classpath.txt")
# pinned JVM heap and Spark core cap, printed with every run
HEAP = "3g"
MAX_CORES = 4
JVM_TIMEOUT_S = 170

sys.path.insert(0, HERE)


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("perfbench: " + msg)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, subdirs, files in os.walk(top):
            subdirs[:] = [s for s in subdirs if s != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile the engine and the benchmark with sbt; cache the classpath."""
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(CLASSPATH) and \
                os.path.getmtime(CLASSPATH) >= newest_source_mtime():
            return open(CLASSPATH).read().strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         "-Dsbt.repository.config=" + repos]
            env["SBT_OPTS"] = " ".join(opts)
        t = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=840)
        lines = p.stdout.splitlines()
        cp = [l for l in lines if ".jar" in l and os.pathsep in l
              and not l.startswith("[")]
        if p.returncode != 0 or not cp:
            log("\n".join(lines[-40:]))
            fail("build failed")
        with open(CLASSPATH, "w") as f:
            f.write(cp[-1].strip())
        log("perfbench: built in %.1f s" % (time.time() - t))
        return cp[-1].strip()


JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(cp, manifest_path, result_path, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC",
           "-XX:ReservedCodeCacheSize=512m", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Driver", manifest_path, result_path]
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log("".join(f.readlines()[-60:]))
        fail("benchmark JVM exited with %s" % rc, code=3)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        fail("unknown workload %r (have %s)" % (a.workload, ", ".join(workloads)))
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("no engine sources at %s (missing %s)" % (ROOT, need))
    cfg = workloads[a.workload]

    cp = build()
    import gen
    import check

    run_dir = os.path.join(WORK, "run-%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        # set-up starts here: input generation, JVM and Spark start,
        # warm-up and gate bootstrap all count towards setup_s
        t_start_ms = time.time() * 1000.0
        manifest = gen.build(a.workload, cfg, a.seed, a.seconds,
                             os.path.join(run_dir, "data"), bool(a.trace))
        cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
        manifest.update(cores=cores, trace=bool(a.trace),
                        spark_local_dir=os.path.join(run_dir, "spark-local"))
        mpath = os.path.join(run_dir, "manifest.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        rpath = os.path.join(run_dir, "result.json")
        t_gen = time.time()
        run_jvm(cp, mpath, rpath, run_dir)
        t_jvm = time.time()
        with open(rpath) as f:
            res = json.load(f)
        report(a, cfg, manifest, res, t_start_ms, run_dir, check)
        log("phases: generate %.1f s, jvm %.1f s (result written %.1f s before exit), "
            "check %.1f s" % (t_gen - t_start_ms / 1000.0, t_jvm - t_gen,
                             t_jvm - os.path.getmtime(rpath), time.time() - t_jvm))
        if a.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"), os.path.join(
                traces, "%s-%d.spans.jsonl" % (a.workload, a.seed)))
            shutil.copy(os.path.join(run_dir, "layers.json"), os.path.join(
                traces, "%s-%d.layers.json" % (a.workload, a.seed)))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(a, cfg, manifest, res, t_start_ms, run_dir, check):
    measured = manifest["measured"]
    nb = manifest["backlog_waves"] * manifest["drain_cycles"]
    wave_records = [w["records"] for w in measured["waves"]]
    paced = res["paced"]
    offered_waves = list(range(nb)) + [
        int(w["file"][4:7]) for w in paced]
    committed = set(res["committed_waves"])
    attempted = sum(wave_records[w] for w in offered_waves)
    uncommitted = sum(wave_records[w] for w in offered_waves if w not in committed)
    failed, tamper_detected = check.check(
        a.workload, measured["root"], measured["root"], offered_waves, uncommitted)
    failed = min(failed, attempted)

    drain_rps, drain_n = drain_rate(res["drain"])
    fresh = [w["commit_ms"] - w["due_ms"] for w in paced if "commit_ms" in w]
    reads = [r for r in res["reads"] if r["rows"] >= 0]
    read_lat = [r["done_ms"] - r["due_ms"] for r in reads]
    rows = [
        # name, value, unit, samples; the first six are the end-to-end metrics
        ("setup_s", (res["setup_end_ms"] - t_start_ms) / 1000.0, "s", 1),
        ("drain_rps", drain_rps, "records/s", drain_n),
        ("fresh_p50_ms", statistics.median(fresh) if fresh else float("nan"),
         "ms", len(fresh)),
        ("heap_peak_mb", res["heap_peak_mb"], "MB", 1),
        ("disk_mb", res["disk_mb"], "MB", 1),
        ("fail_frac", failed / attempted, "ratio", attempted),
    ]
    extra = [
        ("fresh_max_ms", max(fresh) if fresh else float("nan"), "ms", len(fresh)),
        ("offered_rps", cfg["offered_rps"], "records/s", len(paced)),
    ] + open_loop(paced)
    if res["reads"]:
        extra += [
            ("read_p50_ms", statistics.median(read_lat) if read_lat else float("nan"),
             "ms", len(read_lat)),
            ("read_max_ms", max(read_lat) if read_lat else float("nan"), "ms",
             len(read_lat)),
            ("read_failed", len(res["reads"]) - len(reads), "count",
             len(res["reads"])),
        ]
    log("workload %s  seed %d  cores %d  heap %.0f MB  seconds %g  trace %d"
        % (a.workload, a.seed, res["cores"], res["heap_max_mb"], a.seconds, a.trace))
    log("tamper self-test: %s" % ("detected" if tamper_detected else "NOT DETECTED"))
    log("set-up: jvm+session %.1f s, warm-up %.1f s, registration %.1f s; "
        "heap samples (untimed) %.1f s" % (
            (res["session_ms"] - res["jvm_start_ms"]) / 1000.0,
            (res["warmup_end_ms"] - res["session_ms"]) / 1000.0,
            (res["setup_end_ms"] - res["warmup_end_ms"]) / 1000.0,
            res["gc_points_ms"] / 1000.0))
    for name, v, unit, n in rows + extra:
        log("  %-22s %14.4f %-10s n=%d" % (name, v, unit, n))
    log("drain cycles (records/s): " + " ".join(
        "%.1f" % drain_rate([d])[0] for d in res["drain"]))
    log("paced waves (fresh ms): %s; reads (ms): %s" % (
        " ".join("%d" % f for f in fresh), " ".join("%d" % r for r in read_lat)))
    log("triggers (batch:rows:ms): " + " ".join(
        "%d:%d:%d" % (p["batch"], p["rows"], p.get("triggerExecution", -1))
        for p in res["progress"]))

    if a.trace:
        layer = per_layer(res, paced, manifest["replay_waves"])
        with open(os.path.join(run_dir, "layers.json"), "w") as f:
            json.dump({k: {"value": v, "unit": u, "n": n}
                       for k, (v, u, n) in layer.items()}, f, indent=1)
        for name, (v, unit, n) in sorted(layer.items()):
            log("  %-26s %14.4f %-10s n=%d" % (name, v, unit, n))
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [m["name"] for m in json.load(f)["per_layer"]]
        metrics = {k: {"value": layer[k][0], "unit": layer[k][1]} for k in names}
    else:
        # fail_frac is 0 when the run is correct; the JSON line carries it
        # as failed/attempted
        metrics = {name: {"value": v, "unit": unit}
                   for name, v, unit, _ in rows if name != "fail_frac"}
    if any(m["value"] != m["value"] for m in metrics.values()):
        fail("a metric could not be measured: %s" % sorted(
            k for k, m in metrics.items() if m["value"] != m["value"]), code=4)
    correct = failed == 0 and tamper_detected
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def open_loop(paced):
    """Did the open loop hold its schedule: the generator's worst lateness,
    and the most published-but-uncommitted waves at any wave's due time."""
    backlog = [sum(1 for v in paced if v["due_ms"] <= w["due_ms"] <
                   v.get("commit_ms", float("inf"))) for w in paced]
    return [("gen.late_ms", max(w["late_ms"] for w in paced), "ms", len(paced)),
            ("pipeline.backlog_waves", max(backlog), "count", len(paced))]


def drain_rate(cycles):
    """The median over drain cycles of offered records over release ->
    last commit, and the cycle count."""
    return (statistics.median(
        d["records"] / ((d["last_commit_ms"] - d["release_ms"]) / 1000.0)
        for d in cycles), len(cycles))


def per_layer(res, paced, replay_waves):
    """Per-layer metrics: the listener-derived ones from `Driver.scala`, the
    replay's self times, and the ones derived here."""
    out = {k: (v["value"], v["unit"], v["n"]) for k, v in res["layers"].items()}
    units = {"codec.decode_tasks": "count", "sinks.write_amp": "ratio"}
    for k, v in res["replay"].items():
        out[k] = (v, units.get(k, "ms"), replay_waves)
    for name, v, unit, n in open_loop(paced):
        out[name] = (v, unit, n)

    traced, n = drain_rate(res["drain"])
    # one untraced drain ran before the measured pipeline started, one
    # after it stopped
    untraced = statistics.mean(drain_rate(res[k])[0]
                               for k in ("drain_untraced", "drain_untraced2"))
    out["trace.overhead"] = (untraced / traced - 1.0, "ratio", n)
    out["spark.drain_rps_1core"] = drain_rate(res["drain_1core"])[0], "records/s", 1
    return out


if __name__ == "__main__":
    main()
