#!/usr/bin/env python3
"""Benchmark command for graft: two workloads, each run in its own JVM.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the program from source (the root build.sbt) together
with the harness in perfbench/ (its own build.sbt, which depends on the
root build); later runs reuse the build while the sources are unchanged.
Each run generates its inputs from the seed, times the workload's
operations for the given seconds, checks the program's outputs against a
computation made apart from the program, and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything a run writes goes under .bench_build/ and is deleted at exit.
"""
import argparse
import atexit
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ["report_day", "online_status"]
# the warm-up round of report_day runs on an input this much smaller
WARM_SCALE = 0.1
# stream batches generated: batch 0 and the untimed ones
# (Main.WarmupBatches), then per second of the run more than the program
# can take, so the input never runs out
STREAM_WARM_BATCHES = 33
STREAM_MAX_BATCHES_PER_S = 20

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"
DEADLINE_S = 175


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    files = ["build.sbt", "perfbench/build.sbt"]
    for pat in ["project/*.sbt", "project/build.properties", "perfbench/project/build.properties",
                "src/main/**/*", "perfbench/src/**/*"]:
        files += sorted(glob.glob(pat, root_dir=ROOT, recursive=True))
    for f in files:
        p = os.path.join(ROOT, f)
        if os.path.isfile(p):
            h.update(f.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(state):
    """Compile program + harness with sbt once per source state; returns
    the runtime classpath."""
    stamp = os.path.join(state, "classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            rec = json.load(fh)
        if rec.get("digest") == digest:
            return rec["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("building program and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and "classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip()


def check_query(con, name, sql, out_dir):
    """The comparison rules of tools/check.py: columns by sorted name, row
    count, rows sorted by every column, floats compared with allclose
    (rtol=0, atol=0) and an int/float dtype split refused. Returns an
    error string or None."""
    import numpy as np
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import norm
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return "no output"
    e = norm(con.execute(sql).fetchdf())
    g = norm(pd.concat([pd.read_parquet(f) for f in files]))
    if list(e.columns) != list(g.columns):
        return f"columns differ: oracle {list(e.columns)} program {list(g.columns)}"
    if len(e) != len(g):
        return f"rows differ: oracle {len(e)} program {len(g)}"
    for c in e.columns:
        ev, gv = e[c], g[c]
        kinds = {ev.dtype.kind, gv.dtype.kind}
        if kinds == {"i", "f"} and not (ev if ev.dtype.kind == "f" else gv).isna().any():
            return f"dtype split in {c}: oracle {ev.dtype} program {gv.dtype}"
        if "f" in kinds:
            ok = np.allclose(ev.astype(float), gv.astype(float), rtol=0, atol=0, equal_nan=True)
        else:
            ok = ev.astype(object).equals(gv.astype(object))
        if not ok:
            return f"value mismatch in {c}"
    return None


def check_rounds(names, data_dir, out_dir):
    import duckdb
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        src = os.path.join(f, "*.parquet") if os.path.isdir(f) else f
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    errors = []
    for name in names:
        if name not in oracle:
            errors.append(f"{name}: no oracle")
            continue
        err = check_query(con, name, oracle[name], out_dir)
        if err:
            errors.append(f"{name}: {err}")
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check.py",
                 "BENCHMARK.json"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from the root of a graft checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)

    state = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    classpath = build(state)
    build_s = time.time() - started

    run_dir = os.path.join(state, f"run-{a.workload}-{os.getpid()}")
    atexit.register(shutil.rmtree, run_dir, True)
    # the names Main.Dirs reads
    dirs = {k: os.path.join(run_dir, k) for k in
            ["tmp", "local", "warehouse", "checkpoint", "data", "warm", "out", "check"]}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)

    import gen
    t0 = time.time()
    if a.workload == "report_day":
        gen.report_day(a.seed, dirs["data"])
        gen.report_day(a.seed, dirs["warm"], WARM_SCALE)
    else:
        gen.play_stream(a.seed, os.path.join(dirs["data"], "stream.bin"),
                        STREAM_WARM_BATCHES + STREAM_MAX_BATCHES_PER_S * a.seconds)
    input_s = time.time() - t0

    threads = len(os.sched_getaffinity(0))
    # -XX:-UsePerfData: no hsperfdata file under the system temp dir
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={threads}",
            "-XX:-UsePerfData"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={dirs['tmp']}", f"-Dspark.local.dir={dirs['local']}",
              f"-Dspark.sql.warehouse.dir={dirs['warehouse']}",
              "-cp", classpath, "graftbench.Main",
              "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--dir", run_dir])
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env["SPARK_LOCAL_DIRS"] = dirs["local"]
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)

        def stop(signum, frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(10.0, DEADLINE_S - (time.time() - started - build_s)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(jvm_log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"benchmark JVM ended with {rc}")
    with open(os.path.join(dirs["out"], "run.json")) as fh:
        run = json.load(fh)

    if a.workload == "report_day":
        errors = check_rounds(run["queries"], dirs["data"], dirs["check"])
    else:
        errors = list(run["mismatches"])
    for e in errors:
        log(f"CHECK FAILED {e}")

    ops = run["op_ms"]
    metrics = {
        "setup_s": run["setup_ms"] / 1000.0,
        "op_cpu_ms": statistics.median(run["op_cpu_ms"]),
        "peak_live_heap_mb": run["peak_live_heap_mb"],
    }
    layers = dict(run.get("layers", {}))
    layers.update({
        "op.wall_p50_ms": statistics.median(ops),
        "setup.session_ms": run["setup.session_ms"],
        "setup.input_ms": input_s * 1000.0 + run.get("setup.load_ms", 0.0),
        "setup.warmup_ms": run["setup.warmup_ms"],
    })
    wanted = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    source = metrics if a.trace == 0 else layers
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "ops": len(ops), "op_ms": ops, "op_cpu_ms": run["op_cpu_ms"], "cpu_probe_ms": run["cpu_probe_ms"],
        "metrics": metrics, "layers": layers, "check_errors": errors,
        "spark_conf": run["spark_conf"],
    }
    records = os.path.join(state, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({
        "correct": not errors,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }), flush=True)


if __name__ == "__main__":
    main()
