#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at sf0.001, from the checkout root:

    python3 perfbench/selfcheck.py

Asserts that every metric BENCHMARK.json names is printed with its unit
for every workload (untraced and traced), that the traced run shows the
layer predictions the benchmark is built on, that an injected failing
operation raises the error rate and fails the run, and that an unknown
workload or a bad seed fails loud without printing a result.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = "0.001"


def run(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith('{"correct"') else None
    return r.returncode, result, r.stderr


def check(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    if not cond:
        sys.exit(1)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    traced = {}
    # The listed workloads, and the one that runs by hand.
    workloads = [x["name"] for x in spec["workloads"]]
    workloads += [w for w in ("text_curation", "event_stream") if w not in workloads]
    for w in workloads:
        for trace, wanted in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            rc, res, err = run("--workload", w, "--seed", "3", "--seconds", "1",
                               "--trace", trace, "--sf", SF)
            check(rc == 0 and res is not None, f"{w} trace={trace} runs (rc={rc})"
                  + ("" if rc == 0 else "\n" + err[-2000:]))
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{w} trace={trace} result has exactly the four result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w} trace={trace} outputs correct, error_rate 0")
            got = res["metrics"]
            missing = [m["name"] for m in wanted
                       if got.get(m["name"], {}).get("unit") != m["unit"]]
            check(not missing and len(got) == len(wanted),
                  f"{w} trace={trace} prints all {len(wanted)} metrics with units"
                  + (f" (missing {missing})" if missing else ""))
            if trace == "1":
                traced[w] = {k: v["value"] for k, v in got.items()}

    if "graph_iterative" in traced and "publications_etl" in traced:
        check(traced["graph_iterative"]["iterate.checkpoint_jobs"] > 0,
              "graph_iterative runs Iterate checkpoint jobs")
        check(traced["publications_etl"]["iterate.checkpoint_jobs"] == 0,
              "publications_etl bypasses Iterate")
    if "event_stream" in traced:
        check(traced["event_stream"]["streaming.trigger_ms"] > 0
              and traced["event_stream"]["streaming.state_rows"] > 0,
              "event_stream measures graft.streaming state")
    if "text_curation" in traced:
        check(traced["text_curation"]["operators.materialize_s"] > 0,
              "text_curation's materialization is timed")

    w = spec["workloads"][0]["name"]
    rc, res, _ = run("--workload", w, "--seed", "3", "--seconds", "1", "--trace", "0",
                     "--sf", SF, "--inject-failure")
    check(rc != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
          f"an injected failing operation counts in the error rate (failed={res and res['failed']})")

    for bad in (["--workload", "no_such_workload", "--seed", "1"],
                ["--workload", w, "--seed", "x"],
                ["--workload", w, "--seed", "-1"]):
        rc, res, _ = run(*bad, "--seconds", "1", "--trace", "0")
        check(rc != 0 and res is None, f"fails loud on {' '.join(bad)}")
    print("selfcheck passed")


if __name__ == "__main__":
    main()
