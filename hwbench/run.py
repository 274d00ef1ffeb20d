#!/usr/bin/env python3
"""Benchmark of the hivehwspark engine.

    python3 hwbench/run.py --workload sql_mix --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark driver with sbt (offline); later runs reuse the classpath.
A run generates its inputs from the seed, sets the workload up several
times in one JVM, runs an untimed warm-up, measures for --seconds,
checks every output (DuckDB oracle for queries, generator ground truth
for the stream), prints a report and, as its last line, one JSON object
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A wrong output makes the exit code 1.
"""
import argparse
import hashlib
import json
import os
import pickle
import platform
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen      # noqa: E402
import metrics  # noqa: E402
import stats    # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170

# Fixed workload shapes; the seed changes only the data and the order.
WORKLOADS = {
    # whole passes over the queries that do not read documents, taken
    # from one queue by 2 closed-loop clients
    "sql_mix": dict(sf=0.01, docs=500, clients=2, min_passes=1),
    # whole passes over the queries that read documents, 1 client; its
    # set-up builds the shared artifacts
    "doc_curation": dict(sf=0.01, docs=1000, clients=1, min_passes=2),
    # a file stream fed from a backlog, then paced at a fixed rate
    # (files/s) of about 40% of the drain rate measured on 4 cores
    # (~17 files/s); 50 paced files in 8 s support the p80 lag
    "telemetry_ingest": dict(devices=400, warm_files=10, backlog_files=240,
                             rate=6.25, max_files=20, compact_every=10),
}
SETUPS = 3
HEAP = "3g"

# the JDK 17 module opens Spark needs outside spark-submit (the list the
# root build.sbt passes to forked runs)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, flush=True)


def fail(msg, code=2):
    print(f"error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine and driver when the sources differ from the last
    build's; return the classpath. The class directories are shared by
    every build, so only the last build's classpath is valid."""
    tree = source_hash()
    cp_file = os.path.join(BUILD, "classpath.txt")
    tree_file = os.path.join(BUILD, "classpath.tree")
    if os.path.exists(cp_file) and os.path.exists(tree_file):
        with open(tree_file) as f:
            if f.read() == tree:
                return open(cp_file).read().strip(), tree
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(tree_file):
        os.remove(tree_file)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "compile", "export Runtime/fullClasspath"]
    log_path = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log_path, "w") as out:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, timeout=840)
    lines = open(log_path).read().splitlines()
    if r.returncode != 0 or not lines:
        fail(f"build failed (see {log_path}):\n" + "\n".join(lines[-20:]))
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(tree_file, "w") as f:
        f.write(tree)
    log(f"[build] {time.time() - t0:.1f} s")
    return lines[-1].strip(), tree


# ----------------------------------------------------------------- inputs

def catalog_dir(seed, sf, docs):
    """Seeded catalog, generated once per (seed, sf, docs) in a checkout."""
    d = os.path.join(BUILD, "inputs", f"catalog-s{seed}-sf{sf}-d{docs}")
    if not os.path.exists(d):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_catalog(tmp, seed, sf, docs)
        os.replace(tmp, d)
    return d


def input_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def inputs(args, shape, work):
    """Generate the run's inputs; returns (data path, bytes, JVM args, truth)."""
    if args.workload != "telemetry_ingest":
        data = catalog_dir(args.seed, shape["sf"], shape["docs"])
        return data, input_bytes(data), ["--clients", str(shape["clients"]),
                                          "--min-passes", str(shape["min_passes"])], None
    drains = 2 if args.trace else 1
    files, truth = gen.frames(
        args.seed, shape["warm_files"] + drains * shape["backlog_files"]
        + int(round(shape["rate"] * args.seconds)),
        late_rounds=2 * shape["max_files"] + 8, n_devices=shape["devices"])
    data = os.path.join(work, "frames")
    gen.write_frames(data, files)
    jvm = ["--clients", "1", "--min-passes", "0", "--frames", data,
           "--devices", str(shape["devices"]), "--warm-files", str(shape["warm_files"]),
           "--backlog-files", str(shape["backlog_files"]), "--rate", str(shape["rate"]),
           "--max-files", str(shape["max_files"]),
           "--compact-every", str(shape["compact_every"])]
    return data, input_bytes(data), jvm, truth


# ----------------------------------------------------------- correctness

def oracle_check(record, data, work, seed, shape):
    """Compare every warm-up result with its DuckDB oracle through the
    repository's parity canonicalisation; {query: error or None}. Oracle
    results are cached per (seed, catalog shape, SQL)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import parity
    con = duckdb.connect()
    con.sql(f"SET threads TO {record['cores']}")
    for t in parity.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    cache = os.path.join(BUILD, "oracle", f"s{seed}-sf{shape['sf']}-d{shape['docs']}")
    os.makedirs(cache, exist_ok=True)
    fixtures = os.path.join(ROOT, "fixtures") + "/"
    out = {}
    for q in record["queries"]:
        # the oracle SQL names the media fixtures by absolute path
        sql = re.sub(r"read_parquet\('[^']*?/fixtures/", f"read_parquet('{fixtures}",
                     record["oracle_sql"][q])
        cf = os.path.join(cache, hashlib.sha256(sql.encode()).hexdigest()[:20])
        try:
            if os.path.exists(cf):
                with open(cf, "rb") as f:
                    expect = pickle.load(f)
            else:
                expect = parity.rows_of(con, sql)
                with open(cf, "wb") as f:
                    pickle.dump(expect, f)
            got = parity.rows_of(
                con, f"SELECT * FROM read_parquet('{work}/results/{q}/*.parquet')")
        except Exception as e:  # noqa: BLE001 - any oracle error is a failure
            out[q] = f"oracle error: {e}"
            continue
        if expect[0] != got[0]:
            out[q] = f"columns differ: oracle={expect[0]} spark={got[0]}"
        elif expect[1] != got[1]:
            out[q] = f"types differ: oracle={expect[1]} spark={got[1]}"
        elif expect[2] != got[2]:
            out[q] = f"rows differ: oracle {len(expect[2])} rows, spark {len(got[2])}"
        else:
            out[q] = None
    return out


def ingest_check(record, truth):
    """(wrong, expected) rows of the final data and DLQ tables against
    the ground truth: missing, extra and duplicated rows are wrong."""
    chk = record["ingest_check"]
    wrong = 0
    for side in ("data", "dlq"):
        ws = {tuple(r) for r in truth[side]}
        got = [tuple(r) for r in chk[side]]
        gs = set(got)
        wrong += len(ws - gs) + len(gs - ws) + (len(got) - len(gs))
    return wrong, sum(len(truth[s]) for s in ("data", "dlq"))


def check(args, record, data, work, shape, truth):
    """(attempted, failed, error lines) of the run."""
    if args.workload == "telemetry_ingest":
        wrong, rows = ingest_check(record, truth)
        reads = sum(len(p.get("reads", [])) for p in record["phases"])
        errs = [f"{wrong} output rows differ from the ground truth"] if wrong else []
        return rows + reads, wrong, errs
    bad = oracle_check(record, data, work, args.seed, shape)
    ops = [o for p in record["phases"] for o in p["ops"]]
    failed = sum(1 for o in ops if not o["ok"] or bad.get(o["query"]))
    errs = [f"{q}: {e}" for q, e in sorted(bad.items()) if e]
    errs += sorted({f"{o['query']}: {o['error']}" for o in ops if not o["ok"]})
    return len(ops), failed, errs


# ------------------------------------------------------------------- run

def run_jvm(args, cp, work, data, jvm_args, deadline):
    """Run the JVM side; returns its record."""
    out = os.path.join(work, "record.json")
    # static confs on top of Engine.session, as system properties: every
    # run gets its own metastore, warehouse, scratch and temp dirs
    props = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "derby.system.home": work,
        "spark.hadoop.javax.jdo.option.ConnectionURL":
            f"jdbc:derby:;databaseName={work}/metastore_db;create=true",
    }
    os.makedirs(props["java.io.tmpdir"])
    log("[confs] " + " ".join(f"{k}={v}" for k, v in props.items())
        + f" -Xmx{HEAP} -XX:ActiveProcessorCount={args.cores}")
    cmd = (["java", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={args.cores}"] + ADD_OPENS
           + [f"-D{k}={v}" for k, v in props.items()]
           + ["-cp", cp, "hwbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cores", str(args.cores),
              "--data", data, "--work", work, "--out", out,
              "--setups", str(SETUPS)] + jvm_args)
    env = dict(os.environ, GRAFT_FIXTURE_DIR=os.path.join(ROOT, "fixtures"))
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            r = None
    if r is None or r.returncode != 0 or not os.path.exists(out):
        kept = os.path.join(BUILD, "failed-jvm.log")
        shutil.copy(jvm_log, kept)
        tail = open(jvm_log).read().splitlines()[-30:]
        fail("benchmark JVM " + ("timed out" if r is None else f"exited {r.returncode}")
             + f" (log: {kept}):\n" + "\n".join(tail), code=1)
    with open(out) as f:
        return json.load(f)


def commit_id():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def env_record(args, tree, data_bytes, record):
    env = record.get("env", {})
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {
        "cores": args.cores, "heap": HEAP,
        "heap_max_bytes": env.get("heap_max_bytes"),
        "storage_pool_bytes": env.get("storage_pool_bytes"),
        "spark": env.get("spark_version"), "java": env.get("java_version"),
        "python": platform.python_version(), "loadavg_start": args.loadavg,
        "loadavg_end": load, "input_bytes": data_bytes, "seed": args.seed,
        "commit": commit_id(), "source_tree": tree, "confs": env.get("confs", {}),
    }


def report(args, record, envr, attempted, failed, errs, timing):
    untraced = metrics.phase_metrics(record, "untraced")
    ratio = stats.failed_ratio(attempted, failed)
    log(f"[env] {json.dumps(envr, sort_keys=True)}")
    log(f"[{args.workload}] seed={args.seed} cores={args.cores} trace={args.trace} "
        f"samples={untraced.get('n')} warmup_s={record.get('warmup_s', 0):.2f} "
        "setups=" + json.dumps([{k: round(v, 3) for k, v in s.items() if k.endswith("_s")}
                                for s in record["setups"]])
        + " timing=" + json.dumps({k: round(v, 1) for k, v in timing.items()}))
    units = dict(metrics.PER_LAYER)
    for k, v in metrics.named(record, untraced, ratio).items():
        log(f"  {k:24s} {v:.6g} {units.get(k, 's')}")
    if record.get("left_out"):
        log("  left out (known engine defects): " + " ".join(record["left_out"]))
    for e in errs[:20]:
        log(f"  FAIL {e}")
    if args.trace:
        layers = metrics.per_layer(record, ratio)
        prof = metrics.query_profiles(record)
        for q in sorted(prof):
            log(f"  profile {q}: " + " ".join(f"{k}={v:.4g}" for k, v in sorted(prof[q].items())))
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        with open(os.path.join(BUILD, "traces", f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"env": envr, "layers": layers, "profiles": prof,
                       "spans": record["spans"], "groups": record["groups"]}, f)
        out = {k: {"value": layers[k], "unit": u} for k, u in metrics.PER_LAYER}
    else:
        e2e = metrics.end_to_end(record)
        out = {k: {"value": e2e[k], "unit": u} for k, u, _ in metrics.END_TO_END}
    ok = failed == 0 and not errs
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": out}), flush=True)
    return 0 if ok else 1


def main():
    t_start = time.time()
    # a terminated run unwinds like an error: subprocess.run kills and
    # reaps the JVM or sbt it waits on, and the run's directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()
    with open("/proc/loadavg") as f:
        args.loadavg = f.read().split()[:3]
    for need in ("build.sbt", "src/main/scala/graft/Engine.scala", "tools/parity.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} not found")

    cp, tree = build()
    t_built = time.time()
    shape = WORKLOADS[args.workload]
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data, data_bytes, jvm_args, truth = inputs(args, shape, work)
        t_inputs = time.time()
        record = run_jvm(args, cp, work, data, jvm_args, t_start + RUN_LIMIT_S - 15)
        with open(os.path.join(BUILD, f"last-record-{args.workload}.json"), "w") as f:
            json.dump(record, f)
        t_jvm = time.time()
        attempted, failed, errs = check(args, record, data, work, shape, truth)
        timing = {"build": t_built - t_start, "inputs": t_inputs - t_built,
                  "jvm": t_jvm - t_inputs, "check": time.time() - t_jvm}
        return report(args, record, env_record(args, tree, data_bytes, record),
                      attempted, failed, errs, timing)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
