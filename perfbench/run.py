#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness with sbt (cached under .bench_build
until a source file changes), prepares the workload's inputs (seeded
listings, or the shipped sf0.01 tables in a seeded op order), runs one
closed-loop client on local[cores] with shuffle partitions equal to the
core count, checks every output, and prints one JSON line: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 178

# The workloads.  Each run is set-up (repeated setup_reps times, each
# over its own copy of the inputs), one untimed warm-up pass, timed
# passes until --seconds have elapsed (one pass at --seconds 5: a pass
# takes 7-30 s on 4 cores) and the output checks.  A pipeline op is
# one pass of the whole job; a query op is one operator.  The query
# workload reads the engine's sf0.01 oracle tables shipped under
# perfbench/data; its seed sets the op order.  BENCHMARK.json records
# why each workload exists.
WORKLOADS = {
    "price-pipeline": dict(kind="pipeline", listings_scale=0.1,
                           mlp_iters=20, hpo_trials=2,
                           warmup_mlp_iters=5, warmup_hpo_trials=1,
                           setup_reps=3),
    "surface-sf0.01": dict(kind="query", data="sf0.01", stride=48,
                           setup_reps=3),
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness; return (runtime classpath, built now)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources: {need} is missing under {ROOT}")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"], False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Compile/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines()
             if ".jar" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("sbt build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.1f}s")
    return classpath, True


# ----------------------------------------------------------------- inputs

def inputs(workload, cfg, seed):
    """Generate (or reuse) the inputs; returns (one dir per set-up, manifest).

    The pipeline's raw listings are generated from the seed and read by
    every set-up.  The query tables are copied afresh once per set-up,
    because the engine keys its memos and index artifacts by directory."""
    base = os.path.join(ROOT, ".bench_build", "inputs")
    reps = cfg["setup_reps"]
    if cfg["kind"] == "query":
        src = os.path.join(HERE, "data", cfg["data"])
        missing = [t for t in TABLES
                   if not os.path.isfile(os.path.join(src, t + ".parquet"))]
        if missing:
            fail(f"no input tables under {src}: {', '.join(missing)}")
        shutil.rmtree(base, ignore_errors=True)
        dirs = [os.path.join(base, workload, f"rep{i}") for i in range(reps)]
        for d in dirs:
            shutil.copytree(src, d)
        return dirs, {}
    path = os.path.join(base, f"{workload}-{seed}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        # keep only one input set on disk
        shutil.rmtree(base, ignore_errors=True)
        gen.listings(path, cfg["listings_scale"], seed)
        open(os.path.join(path, "_DONE"), "w").close()
    with open(os.path.join(path, "manifest.json")) as f:
        return [path] * reps, json.load(f)


# -------------------------------------------------------------------- run

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(classpath, workload, cfg, args, dirs, manifest, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    report = os.path.join(work, "report.json")
    # the engine build's heap ceiling and no fixed minimum, so that the
    # resident set follows what the workload touches
    cmd = ["java", "-Xmx8g", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dspark.graft.ivf.indexDir={os.path.join(work, 'index')}",
           f"-Dspark.graft.corpus.layoutDir={os.path.join(work, 'layout')}",
           "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--kind", cfg["kind"], "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--inputs", ",".join(dirs), "--work", work, "--report", report]
    if cfg["kind"] == "query":
        cmd += ["--stride", str(cfg["stride"])]
    else:
        cmd += ["--mlp-iters", str(cfg["mlp_iters"]),
                "--hpo-trials", str(cfg["hpo_trials"]),
                "--warmup-mlp-iters", str(cfg["warmup_mlp_iters"]),
                "--warmup-hpo-trials", str(cfg["warmup_hpo_trials"]),
                "--expected-clean", str(manifest["expected_clean"])]
    logs = os.path.join(ROOT, ".bench_build", "logs")
    os.makedirs(logs, exist_ok=True)
    logf = os.path.join(logs, f"{workload}-{args.seed}-trace{args.trace}.log")
    with open(logf, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"{workload}: JVM exceeded the run limit (log: {logf})")
        finally:
            # also on SIGTERM or a timeout: leave no JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not os.path.exists(report):
        with open(logf) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"{workload}: JVM exited with {rc} (log: {logf})")
    shutil.copy(report, logf[:-len(".log")] + ".report.json")
    with open(report) as f:
        return json.load(f)


# ----------------------------------------------------------------- checks

def load_hasher():
    """Result hashing of the repo's oracle comparer (tools/compare_oracle.py)."""
    path = os.path.join(ROOT, "tools", "compare_oracle.py")
    spec = importlib.util.spec_from_file_location("compare_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_hash


def check_queries(report, data):
    """Names of ops whose result is wrong: oracle ops against DuckDB,
    the others against their own second repetition."""
    table_hash = load_hasher()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")

    def run(sql):
        rows = con.execute(sql).fetchall()
        cols = [c[0] for c in con.description]
        types = dict(r[:2] for r in con.execute(f"DESCRIBE {sql}").fetchall())
        return cols, rows, types

    def read(d):
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"no result under {d}")
        return run(f"SELECT * FROM read_parquet({files!r})")

    def same(a, b):
        # column names, result types, row count and value hash all agree
        (ca, ra, ta), (cb, rb, tb) = a, b
        return (sorted(ca) == sorted(cb) and ta == tb and len(ra) == len(rb)
                and table_hash(ca, ra) == table_hash(cb, rb))

    bad = {}
    for q in report["queries"]:
        name, res = q["name"], q["result"]
        try:
            got = read(os.path.join(res, "rep1"))
            if q["oracle_sql"]:
                ok = same(got, run(q["oracle_sql"]))
                why = "differs from its DuckDB oracle"
            else:
                ok = same(got, read(os.path.join(res, "rep2")))
                why = "differs between repetitions"
            if not ok:
                bad[name] = why
        except Exception as e:  # a missing or unreadable result is wrong
            bad[name] = f"{type(e).__name__}: {e}"
    return bad


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    cfg = WORKLOADS[args.workload]
    # turn SIGTERM into an exit, so cleanup (JVM, work dir) still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()

    classpath, built = build()
    # a run that had to build gets the full run limit after the build;
    # the last seconds are kept for the output checks
    deadline = (time.time() if built else start) + RUN_LIMIT_S - 12
    dirs, manifest = inputs(args.workload, cfg, args.seed)
    work = os.path.join(ROOT, ".bench_build", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        report = run_jvm(classpath, args.workload, cfg, args, dirs, manifest,
                         work, deadline)
        bad = check_queries(report, dirs[-1]) if cfg["kind"] == "query" else {}
        if args.trace:
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                traces, f"{args.workload}-{args.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in report["errors"]:
        log(f"error: {e}")
    for name, why in sorted(bad.items()):
        log(f"wrong result: {name} {why}")
    attempted, failed = metrics.fail_counts(report["ops"], set(bad))
    if report["errors"] and failed == 0:
        # a failed check outside the timed ops (warm-up, set-up, model
        # accuracy) fails the run as a whole
        failed = attempted
    if args.trace:
        values = metrics.per_layer(report)
        catalogue = {k: v[0] for k, v in metrics.PER_LAYER.items()}
    else:
        values = metrics.end_to_end(report)
        catalogue = {k: v[0] for k, v in metrics.END_TO_END.items()}
        value, pct, n = metrics.tail([r["seconds"] for r in report["ops"]])
        log(f"op tail p{pct} of {n} op samples: {value:.4f} s; "
            f"{len(report['passes'])} timed passes; "
            f"fail_ratio {metrics.fail_ratio(attempted, failed):.4f}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": catalogue[k]} for k in catalogue},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
