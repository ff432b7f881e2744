#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload zone_daily --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the engine and
the benchmark from source with sbt (offline) and caches the classpath
under .bench_build/; later runs rebuild only when a source file changed.
The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. The line before it is a report:
environment, the workload's own metrics by name, correctness checks and,
for --trace 1, the reconciliation and the tracing overhead.

--trace 0 reports the end-to-end metrics. --trace 1 reports the
per-layer metrics of a traced run, plus its overhead against the
untraced run of the same build, workload, seed and --seconds, made first
when this checkout has none yet.
"""
import argparse
import fcntl
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
WORKLOADS = ("zone_daily", "query_suite", "sink_churn")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
# every JVM of one invocation must end within this many seconds of the
# start, or of the end of the build when the invocation built
RUN_BUDGET_S = 170
BUILD_TIMEOUT_S = 700


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, relative to the checkout root."""
    out = ["build.sbt"]
    for top in ("project", "src", "perfbench"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = sorted(
                d for d in dirnames if d != "target" and not d.startswith(".")
                and not (d == "project" and os.path.basename(dirpath) == "project"))
            rel = os.path.relpath(dirpath, ROOT)
            out += [os.path.join(rel, f) for f in sorted(filenames)
                    if f.endswith((".scala", ".java", ".sbt", ".properties", ".tsv"))]
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine and benchmark; return (classpath, JVM options, built).
    The JVM options are the engine build's, less its heap size."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp_file = os.path.join(BUILD_DIR, "classpath.json")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == want:
                    with open(cp_file) as g:
                        cached = json.load(g)
                    return cached["classpath"], cached["jvm"], False
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
        log("building engine and benchmark with sbt")
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export perfbench/Runtime/fullClasspath", "show perfbench/run/javaOptions"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
        # `export` prints the bare classpath; `show` prints "[info] * <option>"
        cps = [l for l in lines if not l.startswith("[") and "perfbench" in l]
        jvm = [l[len("[info] * "):] for l in lines if l.startswith("[info] * ")]
        if proc.returncode != 0 or not cps or "--add-opens" not in jvm:
            errors = [l for l in lines if l.startswith("[error]")]
            sys.stderr.write("\n".join(errors) if errors else proc.stdout[-4000:])
            raise SystemExit("perfbench: build failed")
        with open(cp_file, "w") as f:
            json.dump({"classpath": cps[-1], "jvm": jvm}, f)
        with open(stamp_file, "w") as f:
            f.write(want)
        return cps[-1], jvm, True


def heap_mb():
    """A quarter of the machine's memory, between 2 and 3 GiB."""
    total_kb = 8 * 1024 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return max(2048, min(3072, total_kb // 4 // 1024))


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, jvm, workload, seed, seconds, trace, deadline):
    runs = os.path.join(ROOT, ".bench_build", "runs")
    run_dir = os.path.join(runs, f"{workload}-{seed}-{trace}-{os.getpid()}")
    out = run_dir + ".json"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: the RSS high-water mark then does not
    # depend on when the collector chose to grow the heap
    heap = f"{heap_mb()}m"
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-Xss4m",
            f"-Djava.io.tmpdir={tmp}"] + jvm
           + ["-cp", classpath, "perfbench.Main", "--workload", workload,
              "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
              "--dir", run_dir, "--shared", os.path.join(ROOT, ".bench_build", "shared"),
              "--cores", str(cores()), "--out", out])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"{workload} did not finish within the {RUN_BUDGET_S} s budget")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    try:
        with open(out) as f:
            return json.load(f)
    except (OSError, ValueError):
        raise SystemExit(f"perfbench: {workload} produced no result (exit {proc.returncode})")
    finally:
        if os.path.exists(out):
            os.remove(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: run from a checkout of the engine; "
                         f"no build.sbt and src/main/scala under {ROOT}")
    start = time.monotonic()
    classpath, jvm, built = build()
    deadline = (time.monotonic() if built else start) + RUN_BUDGET_S
    results = os.path.join(ROOT, ".bench_build", "results")
    os.makedirs(results, exist_ok=True)
    # the untraced reference of a traced run: same build, workload, seed, window
    baseline_file = os.path.join(
        results, f"{a.workload}-{a.seed}-{a.seconds:g}-{stamp()[:16]}.json")

    if a.trace == 1 and not os.path.exists(baseline_file):
        log("no untraced result for this build, workload, seed and window; running one first")
        with open(baseline_file, "w") as f:
            json.dump(run_jvm(classpath, jvm, a.workload, a.seed, a.seconds, 0, deadline), f)
    r = run_jvm(classpath, jvm, a.workload, a.seed, a.seconds, a.trace, deadline)

    report = dict(r["report"], workload=a.workload, seed=a.seed, traced=bool(a.trace))
    if a.trace == 0:
        with open(baseline_file, "w") as f:
            json.dump(r, f)
        metrics = {n: {"value": m["value"], "unit": m["unit"]} for n, m in r["e2e"].items()}
    else:
        with open(baseline_file) as f:
            base = json.load(f)["e2e"]

        def cost(n):
            """What tracing costs, as a share: > 0 means the traced run did worse."""
            traced, untraced = r["e2e"][n]["value"], base[n]["value"]
            if r["e2e"][n]["better"] == "higher":
                traced, untraced = untraced, traced
            return traced / untraced - 1.0 if untraced else 0.0

        overhead = {n: cost(n) for n in r["e2e"]}
        report["trace"]["overhead_vs_untraced"] = {
            "rule": "traced / untraced - 1, inverted for higher-is-better metrics: "
                    "the share by which tracing made the metric worse",
            "metrics": {n: {"traced": r["e2e"][n]["value"], "untraced": base[n]["value"],
                            "cost": v} for n, v in overhead.items()}}
        metrics = dict(r["layers"])
        for n, v in overhead.items():
            metrics[f"trace.overhead.{n}"] = {"value": v, "unit": "ratio"}
    print(json.dumps({"report": report}, sort_keys=True))
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
