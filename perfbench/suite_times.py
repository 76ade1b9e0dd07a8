#!/usr/bin/env python3
"""Measures the warm time of every SparkEntry query the benchmark can run
and writes `suite_times.json`, from which `run.py` draws the query-suite
sample.

    python3 perfbench/suite_times.py        # about 6 minutes at local[4]

Run it from the root of a checkout. Each query's module is the object
that defines it in `src/main/scala/graft/SparkEntry.scala`. The queries
in `exclusions.json` are left out. The time is the median over the warm
passes that follow a cold and a warm pass, in one JVM (`PerfBench`,
workload `query-suite`, weight 1 each). The cold pass also runs the
per-query leak check, so its findings print here too.
"""
import json
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402

MEASURE_S = 100


def modules(root):
    """{query: defining module}, parsed from SparkEntry.queries."""
    with open(os.path.join(root, "src", "main", "scala", "graft",
                           "SparkEntry.scala")) as fh:
        parts = re.split(r'"(q\d+_\w+)"\s*->', fh.read())
    out = {}
    for name, body in zip(parts[1::2], parts[2::2]):
        m = re.search(r"([A-Z]\w+)\.[a-z]", body)
        if m:
            out[name] = m.group(1)
    return out


def main():
    root = os.getcwd()
    excluded = {e["query"] for e in run.load_json("exclusions.json")["queries"]}
    qs = {q: m for q, m in modules(root).items() if q not in excluded}
    classes = build.ensure(root)
    out_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR",
                                                ".bench_build"))
    work = os.path.join(out_dir, "work", f"suite-times-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        res = run.jvm(root, classes, work, [
            "--workload", "query-suite", "--seconds", str(MEASURE_S),
            "--trace", "0", "--data", os.path.join(HERE, "data", "sf0.01"),
            "--queries", ",".join(f"{q}={m}=1" for q, m in sorted(qs.items()))
        ], 10 * 60)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in res["errors"]:
        sys.stderr.write(f"CHECK: {e}\n")
    times = {q: [qs[q], round(t, 4)] for q, t in sorted(
        res["query_s"].items(), key=lambda x: int(x[0][1:].split("_")[0]))}
    with open(os.path.join(HERE, "suite_times.json"), "w") as fh:
        json.dump(times, fh, indent=0)
        fh.write("\n")
    print(f"{len(times)} queries, {sum(t for _, t in times.values()):.1f} s "
          "per warm pass")


if __name__ == "__main__":
    main()
