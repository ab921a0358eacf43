#!/usr/bin/env python3
"""Count whole-stage code compiles per timed call of a benchmark workload.

    python3 tools/codegen_breakdown.py --checkout <dir> --workload <name> --seed <n> \
        [--seconds <s>] [--label <text>] [--out <file.json>]

Runs one traced `perfbench/run.py` workload in `<dir>` with Spark's code
generator logging each compile ("Code generated in X ms") to a file, then
assigns every compile to the benchmark span its log time falls in: the
`streaming.replay.trigger` spans of `cdc_replay_stream` (the first two are
its warm-up triggers) and the `query.<name>` spans of `batch_query_mix`
(timed calls only; its warm-up gate opens no span). Prints one JSON object:
compiles and compile milliseconds for the whole run, for each call, and per
pass, under `--label` (default: the checkout's directory name). Nothing in
`<dir>` changes beyond what run.py writes under its `.bench_build/`.
"""
import argparse
import importlib.util
import json
import os
import re
import shutil
import sys
import tempfile

LOGGER = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
CONFIG = """status = error
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{{yy/MM/dd HH:mm:ss}} %p %c{{1}}: %m%n
appender.cg.type = File
appender.cg.name = cg
appender.cg.fileName = {log}
appender.cg.layout.type = PatternLayout
appender.cg.layout.pattern = %d{{UNIX_MILLIS}} %m%n
rootLogger.level = warn
rootLogger.appenderRef.console.ref = console
logger.cg.name = {logger}
logger.cg.level = info
logger.cg.additivity = false
logger.cg.appenderRef.cg.ref = cg
"""
COMPILE = re.compile(r"^(\d+) Code generated in ([0-9.]+) ms")
WARM_TRIGGERS = 2


def load_run_py(checkout):
    sys.dont_write_bytecode = True  # no __pycache__ inside the benchmark's directory
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(checkout, "perfbench", "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def tally(compiles, span=None):
    """Compiles logged inside `span` (all of them without one), their
    milliseconds, and the span's length."""
    mine = [ms for t, ms in compiles if span is None or span["start_ms"] <= t <= span["end_ms"]]
    out = {"compiles": len(mine), "compile_ms": round(sum(mine), 1)}
    if span is not None:
        out["seconds"] = round((span["end_ms"] - span["start_ms"]) / 1000, 2)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--checkout", default=".")
    ap.add_argument("--workload", required=True,
                    choices=("cdc_replay_stream", "batch_query_mix"))
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--label")
    ap.add_argument("--out")
    a = ap.parse_args()
    checkout = os.path.abspath(a.checkout)

    run = load_run_py(checkout)
    cp = run.build()  # before the logging options: they would reach sbt too
    work = tempfile.mkdtemp(prefix="codegen-breakdown-")
    log = os.path.join(work, "codegen.log")
    config = os.path.join(work, "log4j2.properties")
    with open(config, "w") as f:
        f.write(CONFIG.format(log=log, logger=LOGGER))
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Dlog4j2.configurationFile={config}"
    res = run.run_jvm(cp, a.workload, a.seed, a.seconds, True)
    del os.environ["JAVA_TOOL_OPTIONS"]

    with open(log) as f:
        compiles = [(int(m.group(1)), float(m.group(2)))
                    for m in map(COMPILE.match, f) if m]
    shutil.rmtree(work)
    with open(os.path.join(run.BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")) as f:
        spans = [json.loads(l) for l in f if l.strip()]

    out = {"label": a.label or os.path.basename(checkout), "workload": a.workload, "seed": a.seed,
           "correct": res["failed"] == 0, "run": tally(compiles)}
    if a.workload == "cdc_replay_stream":
        calls = [tally(compiles, s) for s in spans if s["name"] == "streaming.replay.trigger"]
        out["warmup_triggers"] = calls[:WARM_TRIGGERS]
        timed = calls[WARM_TRIGGERS:]
        per_pass = int(res["details"]["passes"].split()[2])  # "P of T triggers, ..."
        out["timed_triggers"] = [timed[i:i + per_pass] for i in range(0, len(timed), per_pass)]
    else:
        queries = [s for s in spans if s["name"].startswith("query.")]
        n = int(res["details"]["passes"].split()[3])  # "P passes of N queries, ..."
        out["timed_passes"] = [
            {s["name"][len("query."):]: tally(compiles, s) for s in queries[i:i + n]}
            for i in range(0, len(queries), n)]
    text = json.dumps(out, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
