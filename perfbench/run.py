#!/usr/bin/env python3
"""Benchmark of the stream → train → serve engine.

Run one workload once, from the root of a checkout:

    python3 perfbench/run.py --workload pipeline_cold --seed 1 --seconds 15 --trace 0

Builds the program and the harness from source on first use (output in
.bench_build/), runs the workload in a fresh JVM, checks its outputs and
prints every metric by name with its unit; the last line is one JSON
object. `--trace 1` adds the per-layer run. `--out FILE` appends the whole
result to FILE as one JSON line, for

    python3 perfbench/run.py compare BEFORE.jsonl AFTER.jsonl

See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("pipeline_cold", "serve_mix")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Counters that do not depend on the host: a change to them between two
# runs of the same code needs a reason.
EXACT_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "ingest.microbatches", "ingest.rows_out",
    "streaming.batches", "streaming.drains", "query.executions",
    "serve.requests")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile program + harness with the harness's sbt build; cache the
    runtime classpath keyed by a hash of every source file."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources (src/main/scala) next to perfbench/")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as f2:
                    return f2.read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"],
                    cwd=HARNESS, env=env, timeout=BUILD_TIMEOUT_S)
    if p is None or p[0] != 0:
        sys.stderr.write((p[1] if p else "")[-4000:])
        fail("build failed")
    lines = [l for l in p[1].splitlines() if "sbt-target" in l
             and ".jar" in l and not l.startswith("[")]
    if not lines:
        fail("build produced no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"build {time.time() - t0:.1f} s", file=sys.stderr)
    return cp, stamp


def run_bounded(cmd, cwd, env, timeout):
    """Run in its own process group; on timeout kill the whole group and
    wait for it. Returns (code, stdout) or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def corpus():
    """The bench corpus serve_mix reads; the only input not generated."""
    data = os.environ.get("PERFBENCH_DATA",
                          os.path.join(os.path.expanduser("~"), "testdata"))
    sf = os.path.join(data, "sf0.1")
    if not os.path.isdir(sf):
        fail(f"bench corpus {sf} not found (set PERFBENCH_DATA)")
    return sf


def harness(cp, a, traced, cpus, deadline):
    """One fresh JVM running one workload; returns its result dict."""
    tag = f"{a.workload}-{a.seed}-{'t' if traced else 'u'}{cpus}-{os.getpid()}"
    work = os.path.join(BUILD, "run", tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", "1" if traced else "0",
            "--cpus", str(cpus), "--work", work, "--result", result]
    if a.workload == "serve_mix":
        cmd += ["--sf-dir", corpus()]
    p = run_bounded(cmd, cwd=work, env=dict(os.environ),
                    timeout=max(10, deadline - time.time()))
    try:
        if p is None:
            fail(f"{a.workload} did not finish in time")
        if not os.path.exists(result):
            sys.stderr.write(p[1][-4000:])
            fail(f"{a.workload} wrote no result (exit {p[0]})")
        with open(result) as f:
            res = json.load(f)
        if p[0] != 0:
            sys.stderr.write(p[1][-4000:])
            res["failed"] = res.get("failed", 0) + 1
            res["attempted"] = res.get("attempted", 0) + 1
        if traced:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
                shutil.copy(spans, os.path.join(
                    BUILD, "trace", f"{a.workload}-seed{a.seed}.spans.jsonl"))
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def show(section, metrics):
    for k, m in metrics.items():
        n = f" (n={m['samples']})" if "samples" in m else ""
        print(f"{section:10s} {k:36s} {m['value']:14.4f} {m['unit']}{n}")


# The end-to-end metric the tracing overhead is reported on.
HEADLINE = {"pipeline_cold": "wall_s", "serve_mix": "p50_ms"}


def untraced_history(a, stamp, add=None):
    """End-to-end metrics of earlier untraced runs of this build and
    workload, the base of the tracing-overhead figures; `add` records one
    more."""
    path = os.path.join(BUILD, "history.jsonl")
    key = {"workload": a.workload, "seconds": a.seconds, "stamp": stamp}
    if add is not None:
        with open(path, "a") as f:
            f.write(json.dumps(dict(key, metrics=add)) + "\n")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        rows = [json.loads(l) for l in f if l.strip()]
    return [r["metrics"] for r in rows
            if all(r.get(k) == v for k, v in key.items())]


def measure(a):
    cp, stamp = build()
    deadline = time.time() + JVM_TIMEOUT_S
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        cpus = os.cpu_count() or 1
    first = harness(cp, a, bool(a.trace), cpus, deadline)
    runs = [first]
    e2e = {k: m["value"] for k, m in first["end_to_end"].items()}
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cpus": cpus, "end_to_end": first["end_to_end"],
              "detail": dict(first["detail"])}
    if not a.trace:
        untraced_history(a, stamp, add=e2e)
    else:
        # overhead: this traced run against the untraced runs of the same
        # build, or against a fresh untraced run when there are none
        base = untraced_history(a, stamp)
        # at most one more JVM, so a traced run stays within the time limit
        spare_jvm = bool(base)
        if not base:
            runs.append(harness(cp, a, False, cpus, deadline))
            base = [{k: m["value"] for k, m in runs[-1]["end_to_end"].items()}]
            untraced_history(a, stamp, add=base[0])
        untraced = {k: statistics.median(b[k] for b in base) for k in e2e}
        for k, u in untraced.items():
            record["detail"][f"untraced.{k}"] = {
                "value": u, "unit": first["end_to_end"][k]["unit"],
                "samples": len(base)}
            record["detail"][f"trace.overhead_pct.{k}"] = {
                "value": 100.0 * (e2e[k] - u) / u, "unit": "%",
                "samples": len(base)}
        layers = dict(first["per_layer"])
        layers["trace.overhead_pct"] = \
            record["detail"][f"trace.overhead_pct.{HEADLINE[a.workload]}"]
        if a.workload == "pipeline_cold" and spare_jvm:
            runs.append(harness(cp, a, False, 1, deadline))
            serial = runs[-1]["end_to_end"]["wall_s"]["value"]
            record["detail"]["serial.pipeline_s"] = {
                "value": serial, "unit": "s", "samples": 1}
            record["detail"]["spark.parallel_speedup"] = {
                "value": serial / untraced["wall_s"], "unit": "x",
                "samples": 1}
        record["per_layer"] = layers
    record["attempted"] = sum(r["attempted"] for r in runs)
    record["failed"] = sum(r["failed"] for r in runs)
    record["failures"] = [f for r in runs for f in r["failures"]]
    for f in record["failures"]:
        print(f"FAILED     {f}")
    show("end_to_end", record["end_to_end"])
    show("detail", record["detail"])
    if a.trace:
        show("per_layer", record["per_layer"])
    if a.out:
        with open(a.out, "a") as f:
            f.write(json.dumps(record) + "\n")
    metrics = record["per_layer"] if a.trace else record["end_to_end"]
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"], "failed": record["failed"],
        "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                    for k, m in metrics.items()}}))


def compare(a_path, b_path):
    """Diff two result files: end-to-end medians against the bounds in
    BENCHMARK.json, host-independent counters for exact equality."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m for m in spec["end_to_end"]}

    def load(p):
        with open(p) as f:
            return [json.loads(l) for l in f if l.strip()]
    A, B = load(a_path), load(b_path)
    worse = 0
    for w in sorted({r["workload"] for r in A + B}):
        ra = [r for r in A if r["workload"] == w and not r["trace"]]
        rb = [r for r in B if r["workload"] == w and not r["trace"]]
        print(f"== {w}: {len(ra)} vs {len(rb)} runs")
        for name, m in bounds.items():
            va = [r["end_to_end"][name]["value"] for r in ra]
            vb = [r["end_to_end"][name]["value"] for r in rb]
            if not va or not vb:
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            change = (mb - ma) / ma if ma else 0.0
            bad = change > m["bound"] if m["better"] == "lower" \
                else -change > m["bound"]
            worse += bad
            print(f"  {name:18s} {ma:12.4f} -> {mb:12.4f} {m['unit']:5s} "
                  f"{100 * change:+7.2f}%  bound {100 * m['bound']:.0f}%"
                  f"{'  WORSE' if bad else ''}")
        # counters: traced runs of the same seed must agree exactly
        seeds = {}
        for r in A + B:
            if r["workload"] == w and r["trace"]:
                seeds.setdefault(r["seed"], []).append(r["per_layer"])
        for c in EXACT_COUNTERS:
            vals = {s: {pl[c]["value"] for pl in runs if c in pl}
                    for s, runs in seeds.items()}
            diff = sorted(s for s, v in vals.items() if len(v) > 1)
            if not vals:
                continue
            if diff:
                print(f"  {c:28s} differs on seed(s) {diff}: "
                      + COUNTER_NOTES.get(c, "unexplained; see perfbench/README.md"))
            else:
                print(f"  {c:28s} same on {len(vals)} seed(s)")
    print(f"{worse} end-to-end metric(s) worse than their bound")
    return 1 if worse else 0


COUNTER_NOTES = {
    "spark.jobs": "AQE re-plans, or the stream source listing a chunk file in "
                  "a different trigger, change the job count",
    "spark.stages": "follows spark.jobs",
    "spark.tasks": "follows spark.jobs; AQE coalescing depends on shuffle sizes",
    "query.executions": "follows spark.jobs",
    "streaming.batches": "a chunk file listed in a later trigger",
    "spark.shuffle_read_bytes": "compressed shuffle block sizes move by a few "
                                "bytes per block between runs of one input; "
                                "cause not isolated",
    "spark.shuffle_write_bytes": "as spark.shuffle_read_bytes",
}


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        if len(sys.argv) != 4:
            fail("usage: run.py compare BEFORE.jsonl AFTER.jsonl")
        sys.exit(compare(sys.argv[2], sys.argv[3]))
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="append the full result to this file")
    measure(p.parse_args())


if __name__ == "__main__":
    main()
