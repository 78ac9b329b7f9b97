"""The repository benchmark: one seeded workload, measured in one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program with its harness
(build.py), generates the workload's inputs from the seed (gen.py), runs
perfbench.Harness for `--seconds`, checks the final iteration's outputs
(check.py) and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones. Details, the
workloads' reasons and the layer-to-metric map: perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 175
HEAP = "3g"

# name -> (task slots, registry queries). walmart_dag has the most task work
# (CSV scans, parquet writes, the forest fit) and takes four slots; the other
# two are bound by the driver (eager jobs, micro-batch waits) on small inputs,
# and two slots leave the JIT and GC threads a core each, which is what lets
# their timings repeat.
WORKLOADS = {
    # the paper's ETL -> EDA -> model DAG; its ops are the three stages
    "walmart_dag": (4, []),
    # LLM-data curation: the shingle kernel, the adaptive jaccard plan and
    # its eager checkpoints; BPE's driver-side merge loop and encode kernel
    "corpus_dedup": (2, ["q27_ngram_jaccard", "q155_bpe_encode"]),
    # a stateful micro-batch stream (state store, many small jobs) and the
    # batch form of the same window expressions
    "event_stream": (2, ["q76_stream_sessions", "q23_tumbling_window"]),
}


def metric_units(root):
    """{"end_to_end": {name: unit}, "per_layer": {name: unit}} from the
    checkout's BENCHMARK.json, the one list of the metrics."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}


# Spark 4 on JDK 17 outside spark-submit: the module opens of build.sbt
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser(description="perfbench")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=gen.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        units = metric_units(root)
    except (OSError, ValueError, KeyError) as e:
        sys.exit(f"perfbench: cannot read the metric list in BENCHMARK.json: {e}")
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        sys.exit(f"perfbench: cannot build the program: {e}")
    started = time.monotonic()  # the deadline excludes a first run's build

    run_dir = os.path.join(root, ".bench_build", "perfbench", "runs",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "gen"), os.path.join(run_dir, "work")
    for d in (work, os.path.join(run_dir, "tmp")):
        os.makedirs(d)
    counts = gen.generate(a.workload, a.seed, data)
    slots, queries = WORKLOADS[a.workload]
    cpus = min(slots, len(os.sched_getaffinity(0)))
    result_path = os.path.join(run_dir, "result.json")
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Harness", a.workload, data, work,
            str(a.seconds), str(a.trace), str(cpus),
            ",".join(queries) or "-", result_path])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1, DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: harness timed out; log in {log_path}")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        sys.exit(f"perfbench: harness exited with {code}")
    with open(result_path) as fh:
        res = json.load(fh)

    check_dir = os.path.join(work, "check")
    if a.workload == "walmart_dag":
        wrong = check.check_walmart(os.path.join(check_dir, "walmart"), counts)
    else:
        ok_final = {o["name"] for o in res["ops"]
                    if o["iter"] == res["final_iter"] and o["ok"]}
        wrong = {q: r for q, r in check.check_queries(check_dir, queries).items()
                 if q in ok_final}  # a failed final op is counted once, as an op
    for msg in res["errors"]:
        print(f"perfbench: op failed: {msg}", file=sys.stderr)
    for name, why in wrong.items():
        print(f"perfbench: wrong output: {name}: {why}", file=sys.stderr)
    attempted = len(res["ops"])
    failed = sum(not o["ok"] for o in res["ops"]) + len(wrong)

    if a.trace:
        values, units = dict(res["layers"]), units["per_layer"]
        for _, qs in WORKLOADS.values():  # other workloads' queries read 0 here
            for q in set(qs) - set(queries):
                short = q.split("_")[0]
                values.update({f"{short}.wall_s": 0.0, f"{short}.jobs": 0.0})
    else:
        values, units = res["end_to_end"], units["end_to_end"]
    missing = set(units) - set(values)
    if missing:
        sys.exit(f"perfbench: harness reported no {sorted(missing)}")
    record = dict(res["record"], seed=a.seed, seconds=a.seconds, trace=a.trace,
                  wall_s=time.monotonic() - started)
    print("perfbench run record: " + json.dumps(record, sort_keys=True), file=sys.stderr)
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    for d in (data, work, os.path.join(run_dir, "tmp")):
        shutil.rmtree(d, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": u}
                                  for k, u in units.items()}}))


if __name__ == "__main__":
    main()
