"""The pack workload: one long-lived session calling operator-pack
entries through their public entry functions (perfbench.Pack), one pass
per operation, in a seeded order."""
import json
import os
import random

import lib

# Per-pass layer counters reported as they are, per operation.
PASS_LAYERS = [
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "codegen.compiles", "codegen.compile_s", "shims.reregistrations",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.task_deser_s",
    "sched.scheduler_delay_s", "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "io.input_bytes", "io.shuffle_write_bytes", "io.shuffle_read_bytes",
    "io.output_bytes", "sql.actions", "jvm.jit_s", "jvm.gc_s"]


WARMUP = 2  # untimed warm passes between the cold pass and the timed ones


def expected_results(sf):
    with open(os.path.join(lib.BENCH, "expected.json")) as f:
        return json.load(f)[sf]


def run(export, run_dir, data, wl, a):
    entries = list(wl["entries"])
    random.Random(a.seed).shuffle(entries)
    out = os.path.join(run_dir, "pack.json")
    r = lib.java(export, [
        "perfbench.Pack", "--conf", os.path.join(export, "session.conf"),
        "--data", data, "--entries", ",".join(entries),
        "--seconds", str(a.seconds), "--warmup", str(WARMUP), "--trace", str(a.trace),
        "--out", out],
        cwd=run_dir, capture=True)
    if r["code"] != 0 or not os.path.exists(out):
        lib.fail(f"perfbench.Pack exited {r['code']}: {r['stderr'][-3000:]}")
    with open(out) as f:
        doc = json.load(f)
    want = expected_results(wl["data"])

    # every entry execution is checked against its expected result
    attempted = failed = 0
    problems = []
    for p in doc["passes"]:
        for e in p["entries"]:
            attempted += 1
            exp = want.get(e["name"])
            if not e["ok"]:
                why = e["error"]
            elif exp is None:
                why = "no expected result recorded"
            elif (e["rows"], e["hash"]) != (exp["rows"], exp["hash"]):
                why = f"result {e['rows']} rows/{e['hash'][:12]} != expected {exp['rows']} rows/{exp['hash'][:12]}"
            else:
                continue
            failed += 1
            problems.append(f"pass {p['op']} {e['name']}: {why}")
    for msg in problems[:20]:
        lib.log("FAILED", msg)

    passes = doc["passes"]
    first = passes[0]
    timed = [p for p in passes if p["kind"] == "timed"]
    warm = [p for p in timed if not p["traced"]]
    setup_s = doc["ready_ms"] / 1e3 - r["start"]
    artifact = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                "order": entries, "session": doc["session"],
                "setup_s": setup_s, "problems": problems, "passes": passes,
                "spans": doc["spans"], "peak_rss_mb": r["rss_mb"]}
    if not a.trace:
        metrics = {
            "setup_s": setup_s,
            "op_s": lib.median([p["wall_s"] for p in warm]),
            "first_op_s": first["wall_s"],
            "cpu_s": lib.median([p["cpu_s"] for p in warm]),
        }
        return {"attempted": attempted, "failed": failed, "metrics": metrics,
                "artifact": artifact}

    traced = [p for p in timed if p["traced"]]
    cores = doc["session"]["default_parallelism"]

    def per_op(name, ps=traced):
        return lib.median([p["layers"].get(name, 0.0) for p in ps])

    m = {k: per_op(k) for k in PASS_LAYERS}
    entry_sum = lambda p, k: sum(e.get(k, 0.0) for e in p["entries"])
    traced_op = lib.median([p["wall_s"] for p in traced])
    m.update({
        "entry.construct_s": lib.median([entry_sum(p, "construct_s") for p in traced]),
        "entry.execute_s": lib.median([entry_sum(p, "execute_s") for p in traced]),
        "exec.cpu_util": lib.median([p["layers"].get("exec.cpu_s", 0.0) / (p["wall_s"] * cores)
                                     for p in traced]),
        "first_op.codegen.compiles": first["layers"].get("codegen.compiles", 0.0),
        "first_op.codegen.compile_s": first["layers"].get("codegen.compile_s", 0.0),
        "shims.register_s": doc["shims_register_s"],
        "jvm.peak_rss_mb": r["rss_mb"],
        "setup.jvm.jit_s": doc["setup_layers"].get("jvm.jit_s", 0.0),
        "trace.op_s": traced_op,
        "trace.overhead_s": traced_op - lib.median([p["wall_s"] for p in warm]),
    })
    return {"attempted": attempted, "failed": failed, "metrics": m,
            "artifact": artifact}
