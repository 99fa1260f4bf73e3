"""Shared pieces of the benchmark: building the program, running its
JVMs, making the seeded inputs and checking outputs."""
import hashlib
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(BENCH, "harness")
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg):
    log("error:", msg)
    sys.exit(2)


# ------------------------------------------------------------------ build
def fingerprint():
    """Hash of every source the build reads: the program and the harness."""
    h = hashlib.sha256()
    for top in ["build.sbt", "project", "src/main", "perfbench/harness"]:
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(base)
            if "target" not in os.path.relpath(d, base).split(os.sep)
            for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program and harness once per source state, then records
    the classpaths, the program's own JVM options and the CLI's session
    conf (from `graft.Cli run_query --sql SET`)."""
    for need in ["build.sbt", "src/main/scala/graft/Cli.scala"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need}: run from the root of a full checkout")
    out = os.path.join(BUILD, "export")
    stamp = os.path.join(out, "fingerprint")
    fp = fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(BUILD, "sbt.log"), "w") as logf:
        # the launcher's lock, ivy home and temp files stay in the build dir
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.boot.lock=false",
             f"-Dsbt.ivy.home={BUILD}/ivy2", f"-Djna.tmpdir={tmp}", f"-Djava.io.tmpdir={tmp}",
             f"-Dperfbench.out={out}", "compile", "benchExport"],
            cwd=HARNESS, env=env, stdout=logf, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        fail(f"sbt build failed; see {BUILD}/sbt.log")
    prep = os.path.join(BUILD, "prep")
    shutil.rmtree(prep, ignore_errors=True)
    os.makedirs(prep)
    r = java(out, ["graft.Cli", "run_query", "--sql", "SET", "--limit", "10000"],
             cwd=prep, program_only=True, capture=True)
    # the session identity and per-process values are not settings
    skip = ("spark.app.", "spark.driver.host", "spark.driver.port",
            "spark.executor.id", "spark.sql.warehouse.dir",
            "spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions")
    conf = []
    for line in r["stdout"].splitlines():
        k, sep, v = line.partition(" | ")
        if sep and k.startswith("spark.") and not k.startswith(skip):
            conf.append(f"{k}\t{v}")
    if r["code"] != 0 or not any(c.startswith("spark.master\t") for c in conf):
        fail("graft.Cli run_query --sql SET did not report the session conf")
    with open(os.path.join(out, "session.conf"), "w") as f:
        f.write("\n".join(conf) + "\n")
    r = java(out, ["perfbench.Designs", "write", os.path.join(out, "designs")],
             cwd=prep, capture=True)
    if r["code"] != 0:
        fail("writing the nightly designs failed: " + r["stderr"][-2000:])
    with open(stamp, "w") as f:
        f.write(fp)
    return out


def java(export, args, cwd, program_only=False, props=(), capture=False):
    """Runs one JVM the way the program's own build runs it, and returns
    its exit code, wall time, CPU seconds and peak RSS (from wait4).
    Temporary files and Spark's scratch space go under `cwd`."""
    cp = open(os.path.join(export, "program-classpath.txt" if program_only
                           else "classpath.txt")).read().strip()
    opts = [l for l in open(os.path.join(export, "java-options.txt")).read().splitlines() if l]
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", *opts, f"-Djava.io.tmpdir={tmp}", *props, "-cp", cp, *args]
    out_path = os.path.join(cwd, f"jvm-{time.monotonic_ns()}")
    with open(out_path + ".out", "w") as so, open(out_path + ".err", "w") as se:
        t0 = time.time()
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=so, stderr=se,
                             stdin=subprocess.DEVNULL)
        try:
            _, status, ru = os.wait4(p.pid, 0)
        except BaseException:
            p.kill()
            os.wait4(p.pid, 0)
            raise
        t1 = time.time()
        p.returncode = os.waitstatus_to_exitcode(status)
    res = {"code": p.returncode, "start": t0, "wall_s": t1 - t0,
           "cpu_s": ru.ru_utime + ru.ru_stime, "rss_mb": ru.ru_maxrss / 1024.0}
    if capture:
        res["stdout"] = open(out_path + ".out").read()
        res["stderr"] = open(out_path + ".err").read()
    return res


# ------------------------------------------------------------------ inputs
def make_inputs(sf, seed, dest):
    """The program's inputs: every committed table with its rows in a
    seeded order. Results must not depend on that order."""
    os.makedirs(dest)
    rng = random.Random(seed)
    for t in TABLES:
        tbl = pq.read_table(os.path.join(BENCH, "data", sf, f"{t}.parquet"))
        perm = list(range(tbl.num_rows))
        rng.shuffle(perm)
        pq.write_table(tbl.take(pa.array(perm, type=pa.int64())),
                       os.path.join(dest, f"{t}.parquet"))
    return dest


# ------------------------------------------------------------------ checks
def _norm(tbl):
    df = tbl.to_pandas()
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    if len(df) and len(df.columns):
        order = df.astype(str).sort_values(by=list(df.columns), kind="stable").index
        df = df.loc[order].reset_index(drop=True)
    return df


def same_table(got, want):
    """Exact equality after sorting columns by name and rows by value,
    with matching arrow types (string and large_string are the same)."""
    t = lambda s: {f.name: str(f.type).replace("large_string", "string") for f in s}
    if t(got.schema) != t(want.schema):
        return f"types {t(got.schema)} != {t(want.schema)}"
    a, b = _norm(got), _norm(want)
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        if not a[c].astype(str).equals(b[c].astype(str)):
            return f"column {c} differs"
    return None


# ------------------------------------------------------------------ helpers
def contention():
    """1-minute load average and cumulative steal ticks. Recorded, never
    used to drop, repeat or adjust a measurement."""
    try:
        load = float(open("/proc/loadavg").read().split()[0])
        steal = int(open("/proc/stat").readline().split()[8])
    except (OSError, ValueError, IndexError):
        load, steal = -1.0, -1
    return {"load1": load, "steal_ticks": steal}


def median(xs):
    return statistics.median(xs) if xs else 0.0
