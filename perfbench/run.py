#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from the checkout's sources with sbt (offline) into .bench_build/;
later runs reuse that build while the sources are unchanged. Each run gets
a fresh directory under .bench_build/runs/ for java.io.tmpdir, engine state,
checkpoints and Spark scratch, and deletes it when done. The last line of
standard output is the result JSON; the exit code is 0 only when every
output gate passed. See perfbench/NOTES.md.
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
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
PINS = os.path.join(HERE, "pins.json")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"

# Per-layer metric prefixes each workload exercises; the rest read 0.
LAYERS = {
    "cdc_replay_stream": ("gen.", "sessions.", "streaming.replay.", "streaming.native.", "tx.",
                          "traced."),
    "batch_query_mix": ("sessions.", "streaming.segment_store.", "ops.", "tx.", "scale.",
                        "query.", "traced."),
}

# Spark on JDK 17 outside spark-submit (same list as the repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt if needed; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # -XX:-UsePerfData keeps the JVMs' hsperfdata files out of the system temp dir
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
            "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def run_jvm(cp, workload, seed, seconds, trace, keep=False):
    """Run one workload in a fresh JVM; return its result dict. With `keep`
    the run directory stays, named by the result's "run_dir"."""
    run_dir = os.path.join(BUILD, "runs", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    trace_out = os.path.join(BUILD, "traces", f"{workload}-seed{seed}.jsonl")
    # The heap is fixed here, whatever the caller's environment says.
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_DRIVER_MEM=HEAP)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--data", DATA, "--pins", PINS,
            "--run-dir", run_dir, "--out", out, "--trace-out", trace_out]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"{workload} did not finish within {RUN_TIMEOUT_S}s")
    try:
        if code != 0 or not os.path.exists(out):
            fail(f"{workload} exited with code {code}")
        with open(out) as f:
            return dict(json.load(f), run_dir=run_dir)
    finally:
        if not keep:
            shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala; run from a full checkout")
    if not os.path.exists(spec_path):
        fail("no BENCHMARK.json at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    cp = build()
    res = run_jvm(cp, a.workload, a.seed, a.seconds, bool(a.trace))
    got = res["metrics"]
    metrics = {}
    if a.trace:
        for m in spec["end_to_end"]:
            got["traced." + m["name"]] = got[m["name"]]
        for m in spec["per_layer"]:
            n = m["name"]
            if n in got:
                metrics[n] = {"value": got[n], "unit": m["unit"]}
            elif n.startswith(LAYERS[a.workload]):
                fail(f"{a.workload} traced run did not report {n}")
            else:
                metrics[n] = {"value": 0, "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
    last = os.path.join(BUILD, "last-untraced", f"{a.workload}.json")
    if not a.trace:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(metrics, f)
    elif os.path.exists(last):
        with open(last) as f:
            untraced = json.load(f)
        for n, m in untraced.items():
            over = got[n] - m["value"]
            print(f"{a.workload} tracing overhead {n}: {over:+.6g} {m['unit']} "
                  f"(traced minus the last untraced run in this checkout)")
    for k, v in res["details"].items():
        print(f"{a.workload} {k}: {v}")
    attempted, failed = res["attempted"], res["failed"]
    if attempted:
        print(f"{a.workload} error_rate: {failed / attempted} ({failed} of {attempted} gates)")
    correct = attempted >= 1 and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
