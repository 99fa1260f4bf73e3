#!/usr/bin/env python3
"""The repository benchmark. perfbench/NOTES.md says what it measures and why.

usage: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt, under $CARGO_TARGET_DIR (default
.bench_build); later runs reuse that build while the sources are
unchanged. The program's inputs are a seeded row-order permutation of the
tables in perfbench/data. The last line of standard output is one JSON
object with the keys correct, attempted, failed and metrics: the
end-to-end metrics of BENCHMARK.json with --trace 0, and its per-layer
metrics, from a traced run, with --trace 1. A layer the workload does not
exercise reads 0.
"""
import argparse
import json
import os
import shutil
import signal
import sys

import lib


def main():
    # a terminated run still stops and reaps the JVM it is waiting on
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(lib.BENCH, "workloads.json")) as f:
        workloads = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec_path = os.path.join(lib.ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        lib.fail("no BENCHMARK.json: run from the root of the checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    export = lib.build()
    wl = workloads[a.workload]
    run_dir = os.path.join(lib.BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data = lib.make_inputs(wl["data"], a.seed, os.path.join(run_dir, "data"))
    start = lib.contention()
    if wl["kind"] == "nightly":
        import nightly
        res = nightly.run(export, run_dir, data, a)
    else:
        import pack
        res = pack.run(export, run_dir, data, wl, a)
    res["artifact"]["contention_bounds"] = {"start": start, "end": lib.contention()}
    with open(os.path.join(export, "session.conf")) as f:
        res["artifact"]["cli_session_conf"] = dict(l.rstrip("\n").split("\t", 1) for l in f if "\t" in l)
    res["artifact"]["nproc"] = os.cpu_count()
    with open(os.path.join(lib.BUILD, f"last-{a.workload}-trace{a.trace}.json"), "w") as f:
        json.dump(res["artifact"], f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    got = res["metrics"]
    unknown = set(got) - {m["name"] for m in wanted}
    if unknown:
        lib.fail(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    if not a.trace:
        missing = [m["name"] for m in wanted if m["name"] not in got]
        if missing:
            lib.fail(f"end-to-end metrics not measured: {missing}")
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    sys.exit(main())
