#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload sync|catalog --seed N \
        --seconds S --trace 0|1

Builds the engine and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs one JVM, checks the
outputs outside the timed window and prints the run record followed, on
the last line, by the result object. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks    # noqa: E402
import layers    # noqa: E402
import metrics   # noqa: E402
import syncgen   # noqa: E402

ENGINE_SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(HERE, "target")
DATA = os.path.join(HERE, "data")
DEADLINE_S = 170
# The catalog: a stratified tenth of the query registry (numbers ending in
# 3), which includes three queries whose cost grows with rows (q13 anti-join
# edges, q33 map flattening, q63 corpus filter) and the incremental fold
# q113. Every query runs at sf0.01, the oracle's scale.
CATALOG = ["q03", "q13", "q23", "q33", "q43", "q53", "q63", "q73", "q83", "q93",
           "q103", "q113", "q123", "q133", "q143"]
# Warm-up, untimed, before the timed pass: queries outside the catalog that
# exercise the relational, text and signature paths.
WARM_QUERIES = ["q01", "q02", "q40", "q45"]
SCALE = "sf0.01"
SYNC_PASS_BATCHES = 5
SYNC_WARM_BATCHES = 2
SYNC_SETUP_REPS = 3
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine sources, harness, build files."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log_path):
    """Compile engine + harness unless the stamped build is current.
    Returns the runtime classpath."""
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f2:
                    return f2.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))
    with open(log_path, "w") as log:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "writeClasspath"], HERE, env, log, 850)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed (exit %s)" % rc, 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read()


def run_bounded(cmd, cwd, env, log, timeout):
    """Run `cmd` in its own process group; kill the group on timeout and
    always wait for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def proc_stat():
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals


def context_block(seed, cores, heap, stat0, stat1, load0, load1):
    """Machine context of the run: explains a noisy figure, is no metric."""
    d = [b - a for a, b in zip(stat0, stat1)]
    steal = d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        try:
            commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                    capture_output=True, text=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {"host_steal_frac": round(steal, 5), "loadavg_start": load0, "loadavg_end": load1,
            "nproc": cores, "heap": heap, "git_commit": commit, "seed": seed}


def heap_size():
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return "%dg" % max(2, min(4, total_kb // (4 * 1024 * 1024)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["sync", "catalog"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.exists(os.path.join(ENGINE_SRC, "scala", "graft", "SparkEntry.scala")):
        fail("engine sources not found under %s" % ENGINE_SRC)
    if not os.path.isdir(os.path.join(DATA, SCALE)):
        fail("testdata %s missing under %s" % (SCALE, DATA))

    work = os.path.join(ROOT, ".bench_work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result["record"], sort_keys=True))
    print(json.dumps(result["final"]))


def run(args, work, t_start):
    os.makedirs(TARGET, exist_ok=True)
    classpath = build(os.path.join(work, "build.log"))
    cores = len(os.sched_getaffinity(0))
    heap = heap_size()
    stat0, load0 = proc_stat(), os.getloadavg()[0]

    plan = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
            "cores": cores, "seed": args.seed, "out": os.path.join(work, "record.json")}
    gen_s = 0.0
    landed = {}
    model = None
    if args.workload == "sync":
        t0 = time.perf_counter()
        land = os.path.join(work, "land")
        os.makedirs(land)
        gen = syncgen.Generator(args.seed)
        model = syncgen.Model()
        model.apply(gen.bootstrap(os.path.join(land, "bootstrap.jsonl")))
        batches = []
        # whole passes, enough for the window at the fastest plausible pace
        n = SYNC_WARM_BATCHES + max(2, int(args.seconds) // SYNC_PASS_BATCHES + 1) * SYNC_PASS_BATCHES
        for i in range(n):
            name = "batch-%04d.jsonl" % i
            rows = gen.batch(os.path.join(land, name))
            batches.append((name, rows))
            landed[name] = (len(rows), os.path.getsize(os.path.join(land, name)))
        gen_s = time.perf_counter() - t0
        plan.update(land=land, state=os.path.join(work, "state"),
                    setup_reps=SYNC_SETUP_REPS, pass_batches=SYNC_PASS_BATCHES,
                    warm_batches=SYNC_WARM_BATCHES)
    else:
        plan.update(data=os.path.join(DATA, SCALE), results=os.path.join(work, "results"),
                    queries=",".join(CATALOG), warm_queries=",".join(WARM_QUERIES))

    plan_path = os.path.join(work, "plan.properties")
    with open(plan_path, "w") as f:
        for k, v in plan.items():
            f.write("%s=%s\n" % (k, str(v).replace("\\", "\\\\")))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, GRAFT_SCRATCH_DIR=tmp)
    # a fixed-size heap: G1 then never resizes it, which keeps the
    # resident high-water comparable between runs
    cmd = (["java", "-Xms" + heap, "-Xmx" + heap, "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JVM_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness", plan_path])
    log_path = os.path.join(work, "jvm.log")
    budget = DEADLINE_S - (time.time() - t_start) - 15
    with open(log_path, "w") as log:
        rc = run_bounded(cmd, work, env, log, max(10, budget))
    if rc != 0 or not os.path.exists(plan["out"]):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("harness failed (exit %s)" % rc, 4)
    with open(plan["out"]) as f:
        rec = json.load(f)
    stat1, load1 = proc_stat(), os.getloadavg()[0]

    # output checks, outside the timed window
    if args.workload == "sync":
        problems = checks.sync(rec, model, batches)
    else:
        problems = checks.queries(rec, os.path.join(DATA, SCALE),
                                  os.path.join(ROOT, ".bench_work", "oracle"))
    failed = sum(1 for o in rec["ops"] if not o["ok"] or o.get("check_failed"))
    attempted = len(rec["ops"])

    setup_s = metrics.setup_seconds(rec, gen_s)
    data_bytes = 0
    if args.workload != "sync":
        scale_dir = os.path.join(DATA, SCALE)
        data_bytes = sum(os.path.getsize(os.path.join(scale_dir, f))
                         for f in os.listdir(scale_dir))
    e2e, extra = metrics.end_to_end(rec, args.workload, setup_s, landed, data_bytes)
    declared_e2e, declared_layer = metrics.declared()
    record = {"workload": args.workload, "trace": args.trace,
              "context": context_block(args.seed, cores, heap, stat0, stat1, load0, load1),
              "setup_phases": dict(rec["setup"], generate_s=[gen_s]),
              "failed_frac": failed / attempted if attempted else 1.0,
              "problems": problems[:20],
              "op_s": [[o["name"], round((o["end_ms"] - o["start_ms"]) / 1e3, 4)]
                       for o in rec["ops"]],
              **extra}
    if args.trace:
        out = metrics.assemble(layers.per_layer(rec, cores, landed, ROOT),
                               declared_layer)
        # the traced run's own end-to-end figures; their distance from an
        # untraced run's is the tracing overhead
        record["traced_end_to_end"] = e2e
        record["span_self_s"] = layers.self_times(rec)
    else:
        out = metrics.assemble(e2e, declared_e2e)
    record["metrics"] = {k: v["value"] for k, v in out.items()}
    final = {"correct": not problems and failed == 0, "attempted": attempted,
             "failed": failed, "metrics": out}
    return {"record": record, "final": final}


if __name__ == "__main__":
    main()
