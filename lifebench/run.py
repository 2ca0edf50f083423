"""The repository's benchmark: the paper's lifecycle (upload), and a
transactional zone table under churn beside index serving (lake_churn).
See lifebench/README.md.

    python3 lifebench/run.py --workload upload --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program on first use, runs one
workload in a fresh JVM against a private state directory (deleted at
exit), and prints as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json, or its per-layer metrics with --trace 1).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("upload", "lake_churn")
RUN_LIMIT_S = 170  # a run, build excluded, must end within this

# Matches the JVM options build.sbt gives a forked Spark JVM on JDK 17.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# Which end-to-end metric, on which workload, each per-layer metric is
# expected to move (first matching prefix wins); lifebench/README.md
# explains each.
TARGETS = [
    ("app.", "op1_p50_ms, ops_per_s", "upload"),
    ("normalize.", "ops_per_s", "upload"),
    ("lake.tx.files_read", "op2_p50_ms, op3_p50_ms", "lake_churn"),
    ("lake.tx.bloom", "op2_p50_ms", "lake_churn"),
    ("lake.tx.lookup", "op2_p50_ms", "lake_churn"),
    ("lake.tx.", "op1_p50_ms, ops_per_s", "lake_churn"),
    ("lake.", "op1_p50_ms", "upload"),
    ("enrich.", "op1_p50_ms", "upload"),
    ("views.", "op1_p50_ms", "upload"),
    ("operators.text.", "ops_per_s", "lake_churn"),
    ("operators.sim.", "op3_p50_ms", "lake_churn"),
    ("serve.", "op3_p50_ms, ops_per_s", "lake_churn"),
    ("core.", "every metric", "both workloads"),
    ("setup.refine", "setup_s", "upload"),
    ("setup.", "setup_s", "lake_churn"),
    ("trace.", "none (tracing cost)", "both workloads"),
]


def target(name):
    return next(f"moves {e2e} on {w}" for p, e2e, w in TARGETS if name.startswith(p))


def jvm_command(root, classes, state, args, result, trace_out):
    here = os.path.dirname(os.path.abspath(__file__))
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Djava.io.tmpdir=" + os.path.join(state, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-cp", cp, "lifebench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(os.cpu_count() or 1),
        "--state", state, "--result", result,
    ]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    return cmd


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    spec_file = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        sys.exit("lifebench: BENCHMARK.json not found; run from the repository root")
    with open(spec_file) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    classes = build.build(root)

    state = os.path.join(root, ".bench_state", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(state, "tmp"))
    os.makedirs(os.path.join(state, "spark-local"))
    result = os.path.join(state, "result.json")
    trace_out = None
    if args.trace:
        trace_out = os.path.join(root, ".bench_trace", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    log = os.path.join(state, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(state, "spark-local"))

    # SIGTERM unwinds through `finally`, so the JVM and the state go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(
                jvm_command(root, classes, state, args, result, trace_out),
                cwd=state, env=env, stdout=lf, stderr=subprocess.STDOUT,
                start_new_session=True)
            try:
                code = proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                code = None
        if code != 0 or not os.path.exists(result):
            with open(log) as lf:
                tail = lf.read()[-4000:]
            sys.stderr.write(tail + "\n")
            sys.exit(f"lifebench: JVM {'timed out' if code is None else f'exited {code}'}")
        with open(log) as lf:
            sys.stderr.writelines(l for l in lf if l.startswith("[lifebench]"))
        with open(result) as f:
            res = json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(state, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(state))
        except OSError:
            pass

    missing = [m["name"] for m in declared if m["name"] not in res["metrics"]]
    if missing and not args.trace:
        sys.exit(f"lifebench: run reported no {missing}")
    if missing:
        # a layer this workload never calls did no work in it
        print("not exercised: " + " ".join(missing))
    if args.trace:
        for m in declared:
            if m["name"] in res["metrics"]:
                print(f"{m['name']} = {res['metrics'][m['name']]:.6g} {m['unit']}"
                      f" ({target(m['name'])})")
    for i, kind in enumerate(res["slots"]):
        print(f"op{i + 1}_p50_ms: p50 of {args.workload} '{kind}' ops")
    print("samples: " + json.dumps(res["samples"]))
    for f in res["failures"]:
        print("failed: " + f)
    if trace_out:
        print("trace: " + os.path.relpath(trace_out, root))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": res["metrics"].get(m["name"], 0), "unit": m["unit"]}
                    for m in declared},
    }))


if __name__ == "__main__":
    main()
