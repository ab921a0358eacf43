#!/usr/bin/env python3
"""CPU-seconds per JVM thread group over one benchmark run.

    python3 tools/threadcpu.py [--interval S] [--by-name] -- <run.py args>

    e.g. python3 tools/threadcpu.py -- --workload cdc_replay_stream --seed 7 \\
        --seconds 20 --trace 0

Run from the root of a checkout. Starts `perfbench/run.py` with the given
arguments, finds the JVM it launches, and reads
`/proc/<pid>/task/*/stat` every `--interval` seconds (at least 2) until the
JVM exits. Each thread is charged the user + system CPU of its last sample,
and grouped by its name: JIT compiler, GC (collector workers and the VM
thread, which runs the pauses), executor tasks, driver main, scheduler
(DAG scheduler, RPC dispatcher, task-result getters, listener bus) and
other. Two tables follow: the JVM's whole life, and the part after the
run's `setup_s` (from the result JSON), which holds the timed loop.

Limits: a thread that exits between two samples loses the CPU it used
since the last one; the process total (which keeps exited threads' time)
is printed beside the sum so the gap shows. Sampling is not free: every
sample reads two small files per thread (a Spark JVM runs about 150) on a
host whose cores the run itself saturates, so intervals below 2 s are
refused, and the sampler's own CPU time is printed last. Reading /proc of
the run's own processes is all this does.
"""
import argparse
import json
import os
import subprocess
import sys
import time

TICK = os.sysconf("SC_CLK_TCK")

GROUPS = ("jit", "gc", "executor tasks", "driver main", "scheduler", "other")
SCHEDULER = ("dag-scheduler", "dispatcher-even", "task-result-get", "spark-listener")


def group(name):
    if "CompilerThre" in name or name.startswith(("C1 ", "C2 ")):
        return "jit"
    if name.startswith(("GC Thread", "G1 ", "VM Thread")):
        return "gc"
    if name.startswith("Executor task"):
        return "executor tasks"
    if name in ("main", "java"):  # the launcher's main thread keeps the name "java"
        return "driver main"
    if name.startswith(SCHEDULER):
        return "scheduler"
    return "other"


def cpu_s(stat_text):
    """utime + stime of a /proc stat line, in seconds. The name field is
    parenthesized and may hold spaces, so fields count from its close."""
    rest = stat_text[stat_text.rindex(")") + 2:].split()
    return (int(rest[11]) + int(rest[12])) / TICK


def read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the thread or process exited meanwhile
        return None


def children(pid):
    """Direct children of `pid`, from the kernel's per-task child lists."""
    out = []
    for tid in os.listdir(f"/proc/{pid}/task") if os.path.isdir(f"/proc/{pid}/task") else []:
        text = read(f"/proc/{pid}/task/{tid}/children")
        out += [int(c) for c in (text or "").split()]
    return out


def find_jvm(root_pid):
    """The benchmark JVM (`perfbench.Main`, not a build's sbt) below
    `root_pid`, or None."""
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        if "perfbench.Main" in (read(f"/proc/{pid}/cmdline") or "").split("\0"):
            return pid
        todo += children(pid)
    return None


def sample(pid, threads):
    """Record each live thread's (name, cpu seconds); returns the process
    total, or None once the JVM is gone."""
    proc = read(f"/proc/{pid}/stat")
    if proc is None:
        return None
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return None
    for tid in tids:
        stat = read(f"/proc/{pid}/task/{tid}/stat")
        name = read(f"/proc/{pid}/task/{tid}/comm")
        if stat and name:
            threads[tid] = (name.strip(), cpu_s(stat))
    return cpu_s(proc)


def table(title, threads, base, total, by_name):
    sums = {g: 0.0 for g in GROUPS}
    names = {}
    for tid, (name, cpu) in threads.items():
        used = cpu - base.get(tid, (name, 0.0))[1]
        sums[group(name)] += used
        key = name.rstrip("0123456789#")
        names[key] = names.get(key, 0.0) + used
    print(f"\n{title}")
    for g in GROUPS:
        print(f"  {g:<16}{sums[g]:9.1f} CPU-s")
    print(f"  {'threads, summed':<16}{sum(sums.values()):9.1f} CPU-s")
    print(f"  {'process total':<16}{total:9.1f} CPU-s")
    if by_name:
        for key, used in sorted(names.items(), key=lambda kv: -kv[1])[:15]:
            print(f"    {key:<18}{used:8.1f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--interval", type=float, default=2.0,
                    help="seconds between samples, at least 2 (default 2)")
    ap.add_argument("--by-name", action="store_true",
                    help="also print the 15 busiest thread names")
    ap.add_argument("run_args", nargs=argparse.REMAINDER,
                    help="arguments for perfbench/run.py, after --")
    a = ap.parse_args()
    if a.interval < 2:
        ap.error("--interval below 2 s perturbs the run it measures")
    args = a.run_args[1:] if a.run_args[:1] == ["--"] else a.run_args

    run = subprocess.Popen([sys.executable, os.path.join("perfbench", "run.py")] + args,
                           stdout=subprocess.PIPE, text=True)
    jvm = None
    while jvm is None and run.poll() is None:
        time.sleep(0.2)
        jvm = find_jvm(run.pid)
    threads, total = {}, 0.0
    t0 = time.monotonic()
    timeline = []  # (seconds since the JVM was found, snapshot of threads)
    while jvm is not None:
        got = sample(jvm, threads)
        if got is None:
            break
        total = got
        timeline.append((time.monotonic() - t0, dict(threads), total))
        time.sleep(a.interval)
    out = run.communicate()[0]
    result = next((json.loads(l) for l in reversed(out.splitlines()) if l.startswith("{")), None)
    if result is None or not timeline:
        sys.exit("threadcpu: the run printed no result")
    print(json.dumps(result))

    table("whole JVM life", threads, {}, total, a.by_name)
    setup = result["metrics"].get("setup_s", {}).get("value")
    if setup:
        # the last sample taken before setup ended is the window's base
        before = [s for s in timeline if s[0] <= setup]
        if before:
            at, base, base_total = before[-1]
            table(f"after setup ({at:.1f} s on, {timeline[-1][0] - at:.1f} s sampled)",
                  threads, base, total - base_total, a.by_name)
    print(f"\nsampler: {time.process_time():.2f} CPU-s for {len(timeline)} samples")
    sys.exit(run.returncode)


if __name__ == "__main__":
    main()
