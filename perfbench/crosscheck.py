#!/usr/bin/env python3
"""Records perfbench/expected.json: the row count and result hash of every
pack entry, for each committed data scale, after checking them.

usage: python3 perfbench/crosscheck.py SEED [SEED...]

For each data scale used by a pack workload and each seed, the inputs are
permuted as a benchmark run permutes them, and perfbench.Dump computes
every entry's result. A hash is recorded only if
  - it is the same for every seed (the result does not depend on row order),
  - the rows equal the entry's DuckDB oracle (SparkEntry.oracleSql), under
    the same rules as tools/compare.py: exact values after sorting columns
    by name and rows by value, and equal arrow types.
Entries without an oracle are recorded from the seed agreement alone and
listed as such. Anything that fails is printed and left out.
"""
import json
import os
import shutil
import sys

import duckdb
import pyarrow.parquet as pq

import lib


def oracle_check(dump_dir, data, oracle):
    con = duckdb.connect()
    for t in lib.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    verdict = {}
    for name, sql in oracle.items():
        path = os.path.join(dump_dir, name)
        if not os.path.isdir(path):
            verdict[name] = "no result"
            continue
        try:
            verdict[name] = lib.same_table(pq.read_table(path), con.execute(sql).arrow()) or "ok"
        except Exception as e:  # an oracle that cannot run is a failed check
            verdict[name] = f"oracle error: {e}"
    return verdict


def main():
    seeds = [int(s) for s in sys.argv[1:]] or [1, 2]
    with open(os.path.join(lib.BENCH, "workloads.json")) as f:
        scales = sorted({w["data"] for w in json.load(f).values() if w["kind"] == "pack"})
    export = lib.build()
    work = os.path.join(lib.BUILD, "crosscheck")
    expected, report = {}, {}
    for sf in scales:
        runs = []
        for seed in seeds:
            d = os.path.join(work, f"{sf}-{seed}")
            shutil.rmtree(d, ignore_errors=True)
            data = lib.make_inputs(sf, seed, os.path.join(d, "data"))
            r = lib.java(export, ["perfbench.Dump", os.path.join(export, "session.conf"),
                                  data, os.path.join(d, "out")], cwd=d, capture=True)
            if r["code"] != 0:
                lib.fail(f"perfbench.Dump failed: {r['stderr'][-3000:]}")
            with open(os.path.join(d, "out", "results.json")) as f:
                results = json.load(f)
            with open(os.path.join(d, "out", "oracle_sql.json")) as f:
                oracle = json.load(f)
            runs.append((results, oracle_check(os.path.join(d, "out"), data, oracle)))
        expected[sf] = {}
        for name in sorted(runs[0][0]):
            got = [res[name] for res, _ in runs]
            checks = [chk.get(name) for _, chk in runs]
            if any("error" in g for g in got):
                why = "raised: " + next(g["error"] for g in got if "error" in g)
            elif len({(g["rows"], g["hash"]) for g in got}) != 1:
                why = "result depends on input row order: " + ", ".join(
                    f"{g['rows']}/{g['hash'][:12]}" for g in got)
            elif any(c not in (None, "ok") for c in checks):
                why = "oracle mismatch: " + next(c for c in checks if c not in (None, "ok"))
            else:
                expected[sf][name] = {"rows": got[0]["rows"], "hash": got[0]["hash"],
                                      "oracle": checks[0] == "ok"}
                continue
            report.setdefault(sf, {})[name] = why
            print(f"[{sf}] {name}: {why}")
        n_or = sum(v["oracle"] for v in expected[sf].values())
        print(f"[{sf}] recorded {len(expected[sf])} entries ({n_or} oracle-checked), "
              f"{len(report.get(sf, {}))} left out")
    with open(os.path.join(lib.BENCH, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
