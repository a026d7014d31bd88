#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload batch_fleet|serve_read|serve_unique|serve_mixed \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine and the
benchmark's JVM harness from source with sbt (`perfbench/build.sbt`); the
classpath is kept in `.bench_build/` with a digest of the sources it was
built from.
Each run generates its inputs from the seed into a fresh directory under
`.bench_work/`, runs the workload in one JVM on `local[$SPARK_GRAFT_CPUS]`
(default: all cores), checks every answer, prints a human-readable
report on stderr, and prints one JSON result line last on stdout. It
exits 1 when an answer is wrong and 2 when it cannot run at all.

With --trace 0 the result carries the end-to-end metrics; with --trace 1
it carries the per-layer metrics, from a traced run that also measures
its own tracing overhead. See perfbench/README.md for every metric.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import plan as plans  # noqa: E402
import stats  # noqa: E402

DATA_SEED = 42            # the tables are the same for every run
DRIVER_MEMORY = "3g"
JVM_TIMEOUT_S = 165
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
ADD_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------- build ----------

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "lib"),
             os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(f for f in files if os.path.isfile(f))


def source_digest():
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(digest):
    """Compiles the engine and the harness unless the last build was of
    the same sources (the classes live in one place, so only the last
    build counts); returns the runtime classpath."""
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            built, cp = (f.read().split("\n", 1) + [""])[:2]
        if built == digest:
            return cp.strip()
        os.remove(cp_file)
    os.makedirs(BUILD_DIR, exist_ok=True)
    log("perfbench: building the engine and the benchmark harness (first run)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if out.returncode != 0 or not cps:
        log("\n".join(lines[-40:]))
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(f"{digest}\n{cps[-1]}")
    return cps[-1]


# ---------- one run ----------

def cpus():
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def run_jvm(classpath, plan_path, data_dir, work, out_path, n_cpus, trace):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{DRIVER_MEMORY}", f"-Xmx{DRIVER_MEMORY}",
            "--add-modules=jdk.incubator.vector",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-Dlog4j2.level=ERROR"] + opens +
           ["-cp", classpath, "perfbench.Main", "--plan", plan_path, "--data", data_dir,
            "--work", work, "--out", out_path, "--cpus", str(n_cpus),
            "--trace", "1" if trace else "0"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            with open(os.path.join(work, "jvm.log")) as f:
                log("".join(l for l in f if l.startswith("[perfbench]"))[-3000:])
            fail("the workload did not finish in time")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(os.path.join(work, "jvm.log")) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                log("  " + line.rstrip())
    if not os.path.exists(out_path):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        fail(f"the JVM exited {proc.returncode} without a result")
    with open(out_path) as f:
        res = json.load(f)
    if "fatal" in res:
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        fail(f"the workload failed: {res['fatal']}")
    return res


# ---------- metrics ----------

def _ms(ops):
    return [stats.latency_ms(o) for o in ops]


def _texts(ops):
    """(start, query text) of every search, for the repeat share."""
    return [(o["start"], json.loads(o["name"])["text"]) for o in ops if o["kind"] == "search"]


def open_loop(res):
    """Report lines of a serving workload's open-loop phase, latency timed
    from each request's due time."""
    opened = [o for o in res["ops"] if o["phase"] == "open"]
    lat = _ms([o for o in opened if o["kind"] == "search"])
    pct, tail_v = stats.tail(lat)
    return {"open_rate_per_s": res["rate"], "open_requests": len(opened),
            "search_p50_ms (open loop)": stats.percentile(lat, 50),
            f"search_tail_ms (open loop, p{pct:g})": tail_v,
            "loadgen_late_p99_ms": stats.percentile([stats.late_ms(o) for o in opened], 99)}


def end_to_end(workload, res):
    """The gated metrics (same names on every workload) and the report's
    workload-specific figures."""
    ops = [o for o in res["ops"] if o["phase"] not in ("setup",)]
    m, report = {}, {}
    m["setup_s"] = stats.median(res["setup_s"])
    m["live_heap_mb"] = res["live_heap_mb"]
    if workload == "batch_fleet":
        # every gated figure is over the queries' own medians: a
        # percentile over walls of different queries would only say
        # which query sorts where
        timed = [o for o in ops if o["phase"] == "timed"]
        per_q = {}
        for o in timed:
            per_q.setdefault(o["name"], []).append(o["end"] - o["start"])
        med = {q: stats.median(v) for q, v in per_q.items()}
        lat = list(med.values())
        report["batch_total_s"] = sum(lat) / 1000.0
        report["batch_geomean_ms"] = stats.geomean(lat)
        for fam in ("dedup", "pipeline", "relational"):
            report[f"{fam}_s"] = sum(v for q, v in med.items()
                                     if res["families"][q] == fam) / 1000.0
        report["passes"] = len(timed) // max(len(med), 1)
        report["per_query_ms"] = {q: round(v, 1) for q, v in sorted(med.items())}
        m["op_p50_ms"] = stats.median(lat)
        m["op_tail_ms"] = max(lat)
        report["op_tail_query"] = max(med, key=med.get)
        m["op_geomean_ms"] = report["batch_geomean_ms"]
        m["ops_per_s"] = len(lat) / report["batch_total_s"]
        return m, report
    report["repeat_share"] = stats.repeat_share(_texts(ops))
    if workload in plans.READ_WORKLOADS:
        # the gated figures come from the closed loop (the open loop runs
        # in the traced run: its queueing makes its percentiles too noisy
        # to gate on at this run length)
        closed = [o for o in ops if o["phase"] == "closed"]
        lat = _ms(closed)
        wall = max(o["end"] for o in closed) - min(o["start"] for o in closed)
        m["ops_per_s"] = len(closed) / (wall / 1000.0)
        report["search_qps"] = m["ops_per_s"]
        report["search_recall"] = sum(res["recalls"]) / max(len(res["recalls"]), 1)
    else:
        report.update(open_loop(res))
        opened = [o for o in ops if o["phase"] == "open"]
        lat = _ms([o for o in opened if o["kind"] == "search"])
        wall = max(o["end"] for o in opened) - min(o["due"] for o in opened)
        m["ops_per_s"] = len(opened) / (wall / 1000.0)
        for kind in ("upload", "delete"):
            xs = _ms([o for o in opened if o["kind"] == kind])
            report[f"{kind}_p50_ms"] = stats.median(xs) if xs else None
        uploaded = sum(o["bytes"] for o in opened if o["kind"] == "upload")
        report["stored_bytes_per_user_byte"] = res["props"]["data_bytes"] / (
            uploaded + res["props"]["setup_bytes"])
    report.update(res["props"])
    m["op_p50_ms"] = stats.percentile(lat, 50)
    pct, m["op_tail_ms"] = stats.tail(lat)
    report["op_tail_percentile"] = pct
    report["op_samples"] = len(lat)
    m["op_geomean_ms"] = stats.geomean(lat)
    return m, report


def per_layer(workload, res, names):
    """The traced run's metrics; a layer the workload leaves idle reads 0."""
    layers = {k: 0.0 for k in names}
    layers.update({k: v for k, v in res["layers"].items() if k in names})
    if workload != "batch_fleet":
        ops = [o for o in res["ops"] if o["phase"] != "setup"]
        layers["loadgen.late_p99_ms"] = stats.percentile(
            [stats.late_ms(o) for o in ops if o["phase"] == "open"], 99)
        if workload in plans.READ_WORKLOADS:
            layers["serve.search_recall"] = sum(res["recalls"]) / max(len(res["recalls"]), 1)
        # uploads: the workload's own, else the traced set-up bootstrap
        traced = [o for o in ops if o["phase"] == "traced"]
        ups = [o for o in traced if o["kind"] == "upload"] or [
            o for o in res["ops"] if o["phase"] == "setup"][-1:]
        layers["serve.upload_p50_ms"] = stats.median(_ms(ups))
        uploaded = sum(o["bytes"] for o in ops if o["kind"] == "upload")
        layers["serve.stored_bytes_per_user_byte"] = res["props"]["data_bytes"] / (
            uploaded + res["props"]["setup_bytes"])
        layers["serve.repeat_share"] = stats.repeat_share(_texts(ops))
    return layers


# ---------- main ----------

def stamp(seed, n_cpus, digest):
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"git_commit": commit, "source_digest": digest, "spark_graft_cpus": n_cpus,
            "nproc": os.cpu_count(), "driver_memory": DRIVER_MEMORY, "seed": seed,
            "python": platform.python_version()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=plans.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        import unittest
        suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
        sys.exit(0 if unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful() else 1)
    if not args.workload:
        fail("--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of a checkout of the engine (build.sbt and src/ not found)")

    # a terminated run still stops its JVM and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))
    t_start = time.time()
    digest = source_digest()
    classpath = build(digest)
    n_cpus = cpus()
    clients = min(os.cpu_count() or 1, n_cpus)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        if args.workload == "batch_fleet":
            gen.write(data, DATA_SEED, plans.BATCH_SF)
            plan = plans.batch(args.seed, args.seconds, args.trace, data)
        else:
            gen.write(data, DATA_SEED, plans.SERVE_SF, ("documents", "embeddings"))
            plan = plans.serve(args.workload, args.seed, args.seconds, args.trace, data, work,
                               clients)
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        res = run_jvm(classpath, plan_path, data, work, os.path.join(work, "result.json"),
                      n_cpus, args.trace)
        if args.workload != "batch_fleet":
            res["rate"] = plan["rate"]
            res["props"]["setup_bytes"] = os.path.getsize(plan["setup_upload"])
        errors = list(res["errors"])
        if args.workload == "batch_fleet":
            t_check = time.time()
            errors += check.check(data, res["answers"], plan["queries"])
            log(f"  output check: {time.time() - t_check:.1f} s")
        attempted = len(res["ops"])
        failed = sum(1 for o in res["ops"] if not o["ok"])
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
        units = {m["name"]: m["unit"] for m in declared}
        if args.trace:
            metrics = per_layer(args.workload, res, units)
            report = open_loop(res) if args.workload != "batch_fleet" else {}
        else:
            metrics, report = end_to_end(args.workload, res)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wrong = max(0, len(errors) - failed)
    log(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}"
        f" ({time.time() - t_start:.1f} s)")
    log("  stamp: " + json.dumps(stamp(args.seed, n_cpus, digest)))
    for k, v in report.items():
        log(f"  {k}: {json.dumps(v)}")
    log(f"  error_share: {(failed + wrong) / max(attempted, 1):.6f}")
    if args.trace and res.get("layers_by_family"):
        for fam, lm in sorted(res["layers_by_family"].items()):
            log(f"  spark[{fam}]: " + json.dumps({k: round(v, 4) for k, v in lm.items()}))
    if args.trace:
        for k in units:
            log(f"  {k}: {metrics[k]:.6g} {units[k]}")
    for e in errors[:20]:
        log(f"  CHECK FAILED: {e}")
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed + wrong,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    sys.exit(0 if not errors else 1)


if __name__ == "__main__":
    main()
