#!/usr/bin/env python3
"""Alert-stream and query-suite benchmark.

    python3 perfbench/run.py --workload night-replay --seed 1 --seconds 20 \
        --trace 0

Run from the root of a checkout. It compiles the program and the
benchmark's Scala half (`build.py`), generates the workload's inputs from
`--seed`, runs the workload in one JVM at local[4], checks every output
against an independent reference, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones
(spans go to `.bench_build/traces/`). See README.md.
"""
import argparse
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_alerts  # noqa: E402
import oracle  # noqa: E402

CORES = 4
JVM_TIMEOUT_S = 165

# night-replay: two large files, one per trigger, long histories
NIGHT_FILES = 2
NIGHT_ALERTS_PER_FILE = 300
NIGHT_HISTORY = 20.0
# one file for the set-up warm-up replay
WARM_ALERTS = 100

# query-suite: a stratified sample of the SparkEntry queries on the
# sf0.01 tables in data/, since one warm pass of the whole suite takes
# about 48 s. From each defining module it takes every QUERY_STRIDE-th
# query in order of warm time (suite_times.json), at least one per
# module, and weights each by the number of the module's queries it
# stands for.
QUERY_STRIDE = 8


def sample_queries():
    """[(query, module, weight)] drawn from suite_times.json's
    {query: [module, seconds]}."""
    modules = {}
    for q, (m, t) in load_json("suite_times.json").items():
        modules.setdefault(m, []).append((t, q))
    picks = []
    for m, qs in sorted(modules.items()):
        qs.sort()
        n = max(1, round(len(qs) / QUERY_STRIDE))
        for i in range(n):
            picks.append((qs[int((i + 0.5) * len(qs) / n)][1], m,
                          len(qs) / n))
    return picks


# Traced metrics a workload has no unit of work for: printed as 0
# (night-replay also has none of the `suite.<module>_s`).
NOT_APPLICABLE = {
    "night-replay": [
        "query.build_ms", "query.execute_ms", "query.geomean_ms",
        "scheduler.jobs_per_query", "storage.leaking_queries",
    ],
    "query-suite": [
        "streaming.batches", "streaming.alerts_per_batch_p50",
        "streaming.add_batch_ms_p50", "streaming.planning_ms_p50",
        "streaming.offsets_ms_p50", "streaming.commit_ms_p50",
        "streaming.notify_calls_per_batch", "streaming.notify_ms_p50",
        "streaming.batch_overhead_ms_p50", "filters.count",
        "filters.pass_ratio", "filters.plan_ms", "sink.write_ms",
        "sink.output_bytes", "sink.output_files", "scheduler.jobs_per_batch",
    ],
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(root, classes, work, jargs, timeout):
    """Runs perfbench.PerfBench; returns the result it wrote to
    `<work>/result.json`."""
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in JDK17_OPENS for x in ("--add-opens",
                                                f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}",
              "perfbench.PerfBench", "--work", work, "--cores", str(CORES),
              "--out", os.path.join(work, "result.json")]
           + jargs)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=timeout, cwd=root)
            rc = proc.returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")
    with open(res_path) as fh:
        return json.load(fh)


def load_json(name):
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


def generate(seed, inputs):
    """Write night-replay's alert files; return {file: expected counts}."""
    expected = {}
    expected.update(gen_alerts.generate(os.path.join(inputs, "warm"),
                                        seed + 7919, 1, WARM_ALERTS,
                                        NIGHT_HISTORY))
    expected.update(gen_alerts.generate(
        os.path.join(inputs, "night"), seed, NIGHT_FILES,
        NIGHT_ALERTS_PER_FILE, NIGHT_HISTORY))
    return expected


def check_counts(what, counts, files, expected, reference, problems):
    """Pure-predicate filters against numpy, the rest against batch
    applyFilter over the same files. A filter whose batch count threw
    has no reference; the JVM already counted that as a failure."""
    pure = expected[files[0]]
    for f, got in sorted(counts.items()):
        if f in pure:
            want = sum(expected[name][f] for name in files)
        elif f in reference:
            want = reference[f]
        else:
            continue
        if got != want:
            problems.append(f"{what}: {f} passed {got}, expected {want}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["night-replay", "query-suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "BENCHMARK.json")):
        raise SystemExit("run from the checkout root: BENCHMARK.json missing")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    excl = load_json("exclusions.json")
    classes = build.ensure(root)

    out_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR",
                                                ".bench_build"))
    work = os.path.join(out_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return run(a, root, bench, excl, classes, out_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, root, bench, excl, classes, out_dir, work):
    t0 = time.perf_counter()
    expected = {}
    jargs = ["--workload", a.workload, "--seconds", str(a.seconds),
             "--trace", str(a.trace)]
    if a.workload == "query-suite":
        order = sample_queries()
        random.Random(a.seed).shuffle(order)
        jargs += ["--data", os.path.join(HERE, "data", "sf0.01"),
                  "--queries", ",".join(f"{q}={m}={w}" for q, m, w in order)]
    else:
        expected = generate(a.seed, os.path.join(work, "inputs"))
        pure = sorted(next(iter(expected.values())))
        jargs += ["--exclude", ",".join(e["filter"] for e in excl["filters"]),
                  "--pure", ",".join(pure)]
    gen_s = time.perf_counter() - t0

    res = jvm(root, classes, work, jargs, JVM_TIMEOUT_S)

    if os.environ.get("PERFBENCH_DEBUG"):
        sys.stderr.write(json.dumps(res, indent=1)[:20000] + "\n")
    problems = list(res["errors"])
    failed = res["failed"]
    attempted = max(1, res["attempted"])
    if a.workload == "night-replay":
        for i, rp in enumerate(res.get("replays", [])):
            if rp["aborted"]:
                continue
            before = len(problems)
            check_counts(f"night replay {i}", rp["topic_counts"], rp["files"],
                         expected, res["batch_counts"], problems)
            failed += len(problems) - before
    else:
        bad = oracle.check(os.path.join(HERE, "data", "sf0.01"),
                           os.path.join(work, "results"),
                           os.path.join(out_dir, "oracle-cache"))
        problems += bad
        failed += len(bad)
    if not res.get("leak_free", False):
        problems.append(
            f"leak: {res.get('persistent_rdds_after')} persistent RDDs after "
            f"the workload (baseline {res.get('persistent_rdds_baseline')}), "
            f"cache empty: {res.get('cache_empty_after')}")
    failed = min(failed, attempted)

    if a.trace:
        values = dict(res.get("layers", {}))
        values["storage.persistent_rdds_after"] = res.get(
            "persistent_rdds_after", -1)
        values["error_rate"] = failed / attempted
        for m in NOT_APPLICABLE[a.workload] + (
                [m["name"] for m in bench["per_layer"]
                 if m["name"].startswith("suite.")]
                if a.workload == "night-replay" else []):
            values.setdefault(m, 0.0)
        wanted = bench["per_layer"]
        traces = os.path.join(out_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        for f in os.listdir(work):
            if f.startswith("trace-"):
                shutil.copy(os.path.join(work, f), os.path.join(
                    traces, f.replace(".jsonl", f"-seed{a.seed}.jsonl")))
    else:
        values = dict(res.get("metrics", {}))
        values["setup_s"] = gen_s + res["session_s"] + res.get("setup_s",
                                                               math.nan)
        wanted = bench["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            problems.append(f"metric {m['name']} not measured")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for q, leak in sorted(res.get("leaks", {}).items()):
        sys.stderr.write(f"LEAK: {q} leaves {leak['persistent_rdds']} "
                         f"persistent RDDs outside the cache, cached plans: "
                         f"{leak['cached_plans']}\n")
    for p in problems:
        sys.stderr.write(f"CHECK: {p}\n")
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
