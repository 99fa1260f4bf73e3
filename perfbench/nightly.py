"""nightly_load: the reference's nightly rebuild as two shipped CLI
processes, `graft.Cli extract` (gzip CSV + manifest of the four sources)
and then `graft.Cli load` from those manifests, exactly as a user runs
them. Every operation starts both JVMs cold."""
import json
import os
import time

import duckdb
import pyarrow.parquet as pq

import lib

SOURCES = ["customer", "lineitem", "nation", "orders"]
PINGS = 1   # setup samples per run: `graft.Cli ping` processes
TRACE_PROPS = ["-Dspark.extraListeners=perfbench.CliTrace",
               "-Dspark.sql.queryExecutionListeners=perfbench.TraceQueryListener"]
CLI_LAYERS = [
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "codegen.compiles", "codegen.compile_s", "shims.reregistrations",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.task_deser_s",
    "sched.scheduler_delay_s", "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "io.input_bytes", "io.shuffle_write_bytes", "io.shuffle_read_bytes",
    "io.output_bytes", "sql.actions", "jvm.jit_s", "jvm.gc_s"]


def cli(export, args, cwd, trace_out=None):
    props = TRACE_PROPS + [f"-Dperfbench.trace.out={trace_out}"] if trace_out else []
    return lib.java(export, ["graft.Cli", *args], cwd=cwd,
                    program_only=trace_out is None, props=props, capture=True)


def check(op_dir, data, designs, ex, ld):
    """Everything the rebuild must have produced; returns the problems."""
    problems = []
    for name, r in (("extract", ex), ("load", ld)):
        if r["code"] != 0:
            problems.append(f"{name} exited {r['code']}: {r['stderr'][-1500:]}")
    for t in SOURCES:
        n = pq.ParquetFile(os.path.join(data, f"{t}.parquet")).metadata.num_rows
        if f"[extract] src.{t}: {n} rows" not in ex["stdout"]:
            problems.append(f"extract did not report {n} rows for src.{t}")
    # A failed relation is logged and skipped, and the load still exits 0.
    events = []
    if os.path.exists(os.path.join(op_dir, "events.jsonl")):
        with open(os.path.join(op_dir, "events.jsonl")) as f:
            events = [json.loads(l) for l in f if l.strip()]
    finished = {e["target"] for e in events if e["event"] == "finish"}
    problems += [f"event log: {e['target']} {e['step']} failed: {e.get('message', '')}"
                 for e in events if e["event"] == "fail"]
    problems += [f"event log: no finish for {rel}"
                 for rel in designs["levels"] if rel not in finished]
    con = duckdb.connect()
    for t in SOURCES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    for rel, sql in designs["oracles"].items():
        pointer = os.path.join(op_dir, "wh", "pointers", rel)
        try:
            with open(pointer) as f:
                loc = f.read().strip().removeprefix("file://")
            diff = lib.same_table(pq.read_table(loc), con.execute(sql).arrow())
        except Exception as e:  # a missing or unreadable table is a failed check
            diff = f"cannot read published table: {e}"
        if diff:
            problems.append(f"published {rel}: {diff}")
    return problems


def one_op(export, run_dir, data, designs_dir, designs, op, traced):
    d = os.path.join(run_dir, f"op{op}")
    os.makedirs(d)
    c = lib.contention()
    ex = cli(export, ["extract", "--designs", designs_dir, "--data", data,
                      "--out", os.path.join(d, "extract")], d,
             os.path.join(d, "extract-trace.json") if traced else None)
    ld = cli(export, ["load", "--designs", designs_dir, "--data", os.path.join(d, "extract"),
                      "--warehouse", os.path.join(d, "wh"),
                      "--events", os.path.join(d, "events.jsonl")], d,
             os.path.join(d, "load-trace.json") if traced else None)
    problems = check(d, data, designs, ex, ld)
    for p in problems:
        lib.log("FAILED", f"op {op}: {p}")
    return {"op": op, "traced": traced, "contention": c, "dir": d,
            "extract": {k: ex[k] for k in ("code", "start", "wall_s", "cpu_s", "rss_mb")},
            "load": {k: ld[k] for k in ("code", "start", "wall_s", "cpu_s", "rss_mb")},
            "wall_s": ex["wall_s"] + ld["wall_s"], "cpu_s": ex["cpu_s"] + ld["cpu_s"],
            "rss_mb": max(ex["rss_mb"], ld["rss_mb"]), "problems": problems}


def layers(op, designs):
    """Per-layer numbers of one traced operation."""
    d = op["dir"]
    traces = []
    for name in ("extract", "load"):
        with open(os.path.join(d, f"{name}-trace.json")) as f:
            traces.append(json.load(f))
    m = {k: sum(t.get(k, 0.0) for t in traces) for k in CLI_LAYERS}
    m["exec.cpu_util"] = m["exec.cpu_s"] / (op["wall_s"] * os.cpu_count())
    m["cli.extract_s"] = op["extract"]["wall_s"]
    m["cli.load_s"] = op["load"]["wall_s"]
    m["jvm.peak_rss_mb"] = op["rss_mb"]
    m["extract.unload_s"] = traces[0].get("sql.action_s", 0.0)
    out_bytes = sum(os.path.getsize(os.path.join(dp, f))
                    for dp, _, fs in os.walk(os.path.join(d, "extract"))
                    for f in fs if f.endswith(".gz"))
    with open(os.path.join(d, "events.jsonl")) as f:
        events = [json.loads(l) for l in f if l.strip()]
    fin = [e for e in events if e["event"] == "finish" and e["step"] == "load"]
    m["extract.bytes_per_row"] = out_bytes / max(1, sum(
        e.get("rowcount", 0) for e in fin if e["target"].startswith("src.")))
    for e in fin:
        m[f"warehouse.build_s.{e['target']}"] = e["elapsed"]
    m["warehouse.build_s"] = sum(e["elapsed"] for e in fin)
    starts = {e["target"]: e["ts"] for e in events if e["event"] == "start"}
    by_level = {}
    for e in fin:
        lvl = designs["levels"][e["target"]]
        lo, hi = by_level.get(lvl, (float("inf"), 0))
        by_level[lvl] = (min(lo, starts[e["target"]]), max(hi, e["ts"]))
    m["warehouse.level_s"] = sum(hi - lo for lo, hi in by_level.values()) / 1e3
    load_end = (op["load"]["start"] + op["load"]["wall_s"]) * 1e3
    m["warehouse.publish_s"] = (load_end - max(e["ts"] for e in fin)) / 1e3
    written = [e.get("metrics") or {} for e in fin]
    m["warehouse.files_written"] = sum(w.get("files_written", 0) for w in written)
    m["warehouse.bytes_written"] = sum(w.get("bytes_written", 0) for w in written)
    m["warehouse.write_amp"] = m["warehouse.bytes_written"] / max(
        1, sum(w.get("bytes_read", 0) for w in written))
    return m


def run(export, run_dir, data, a):
    designs_dir = os.path.join(export, "designs")
    with open(os.path.join(designs_dir, "designs.json")) as f:
        designs = json.load(f)
    artifact = {"workload": a.workload, "seed": a.seed, "trace": a.trace}
    setups = []
    if not a.trace:
        for _ in range(PINGS):
            r = cli(export, ["ping"], run_dir)
            if r["code"] != 0 or "[ping] ok" not in r["stdout"]:
                lib.fail(f"graft.Cli ping failed: {r['stderr'][-2000:]}")
            setups.append({k: r[k] for k in ("start", "wall_s", "cpu_s", "rss_mb")})
    ops = []
    t0 = time.time()
    while not ops or time.time() - t0 < a.seconds:
        ops.append(one_op(export, run_dir, data, designs_dir, designs, len(ops) + 1, bool(a.trace)))
    artifact["ops"] = ops
    artifact["setups"] = setups
    failed = sum(1 for o in ops if o["problems"])
    res = {"attempted": len(ops), "failed": failed, "artifact": artifact}
    if not a.trace:
        res["metrics"] = {
            "setup_s": lib.median([s["wall_s"] for s in setups]),
            "op_s": lib.median([o["wall_s"] for o in ops]),
            "first_op_s": ops[0]["wall_s"],
            "cpu_s": lib.median([o["cpu_s"] for o in ops]),
        }
        artifact["op_s"] = res["metrics"]["op_s"]
        return res

    per_op = [layers(o, designs) for o in ops if not o["problems"]]
    m = {k: lib.median([p.get(k, 0.0) for p in per_op]) for k in per_op[0]} if per_op else {}
    # every operation starts its JVMs cold, the first one included
    if per_op:
        m["first_op.codegen.compiles"] = per_op[0]["codegen.compiles"]
        m["first_op.codegen.compile_s"] = per_op[0]["codegen.compile_s"]
    # the set-up path of the program's session, timed in a session built
    # the same way (perfbench.Pack with no entries)
    out = os.path.join(run_dir, "setup.json")
    r = lib.java(export, ["perfbench.Pack", "--conf", os.path.join(export, "session.conf"),
                          "--data", data, "--entries", "", "--seconds", "0", "--warmup", "0",
                          "--trace", "1", "--out", out], cwd=run_dir, capture=True)
    if r["code"] != 0:
        lib.fail(f"perfbench.Pack setup failed: {r['stderr'][-2000:]}")
    with open(out) as f:
        setup = json.load(f)
    m["shims.register_s"] = setup["shims_register_s"]
    m["setup.jvm.jit_s"] = setup["setup_layers"].get("jvm.jit_s", 0.0)
    r = lib.java(export, ["perfbench.Designs", "time", designs_dir, "5"], cwd=run_dir, capture=True)
    if r["code"] != 0:
        lib.fail(f"perfbench.Designs time failed: {r['stderr'][-2000:]}")
    for k, v in json.loads(r["stdout"].strip().splitlines()[-1]).items():
        if isinstance(v, list):
            m[k] = lib.median(v)
    # tracing overhead: against the last untraced run of this workload
    # in this build directory, or an untraced operation made now
    m["trace.op_s"] = lib.median([o["wall_s"] for o in ops])
    last = os.path.join(lib.BUILD, f"last-{a.workload}-trace0.json")
    if os.path.exists(last):
        with open(last) as f:
            untraced = json.load(f)["op_s"]
    else:
        bare = one_op(export, run_dir, data, designs_dir, designs, len(ops) + 1, False)
        artifact["untraced_op"] = bare
        untraced = bare["wall_s"]
    m["trace.overhead_s"] = m["trace.op_s"] - untraced
    res["metrics"] = m
    return res
