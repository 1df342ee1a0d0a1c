#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the benchmark JVM
from source with sbt (cached in .bench_build/ by a hash of the sources),
generates the workload's inputs from the seed, runs one JVM that sets up,
warms up and times the workload for S seconds, checks every result, and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. Lines before it echo the
effective run configuration and the detailed per-layer report. Everything
the run writes lives in .bench_run/<run>/ and is removed when it ends;
traced runs keep their spans in .bench_out/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

WORKLOADS = ("tf_cold_ingest", "driver_batch")
MAIN = "graft.perfbench.Main"
HEAP = "3g"
# driver_batch table scale. On a 4-core host a warm pass takes ~11-12 s at
# sf 0.01 to 0.05 (planning and scheduling dominate) and ~18 s at 0.1; a
# whole run takes ~60 s at 0.01 and 0.03, ~63-90 s at 0.05 (depending on
# host load) and ~85 s at 0.1. A series of 4 + 22 runs per workload must
# fit in an hour next to tf_cold_ingest, which leaves no room above 0.03.
BATCH_SF = 0.03
RUN_LIMIT_S = 170  # a run must exit within 180 s
BUILD_LIMIT_S = 850  # the first run of a checkout may build for 900 s
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # imports below must not write into the checkout


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of everything the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, dirnames, names in os.walk(base):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root):
    """Compile engine + benchmark once per source state; return the classpath."""
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    stamp_f, cp_f = os.path.join(out, "stamp"), os.path.join(out, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.isfile(cp_f) and os.path.isfile(stamp_f) and open(stamp_f).read() == stamp:
        return open(cp_f).read().strip()
    log("building engine and benchmark with sbt")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-J-Djava.io.tmpdir={tmp}", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_f, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1]


def sweep_stale_runs(runs):
    """Remove run directories whose process is gone (a killed run)."""
    for d in glob.glob(os.path.join(runs, "*")):
        try:
            pid = int(d.rsplit("-", 1)[1])
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, IndexError, PermissionError):
            pass


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs)) if xs else float("nan")


def oracle_check(root, tables, results, results2):
    """driver_batch: every result with a DuckDB oracle must match it under
    tools/check.py's normalization; a result without one needs rows > 0
    and the same digest on a second execution. Returns failing queries."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(root, "tools"))
    import check  # the repository's gate normalization (norm, value_hash)

    con = duckdb.connect()
    for t in check.TABLES:
        p = os.path.join(tables, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(os.path.join(results, "oracle_sql.json")))

    def load(d):
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        return pd.concat([pd.read_parquet(f) for f in files]) if files else None

    bad = {}
    for d in sorted(glob.glob(os.path.join(results, "*"))):
        if not os.path.isdir(d):
            continue
        q = os.path.basename(d)
        got = load(d)
        if got is None:
            bad[q] = "no output"
            continue
        g = check.norm(got)
        if q in oracles:
            w = check.norm(con.sql(oracles[q]).df())
            if list(g.columns) != list(w.columns) or len(g) != len(w):
                bad[q] = f"shape {list(g.columns)}x{len(g)} != oracle {list(w.columns)}x{len(w)}"
                continue
            try:
                pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
            except AssertionError as e:
                bad[q] = "values differ: " + str(e).split("\n")[0]
        else:
            again = load(os.path.join(results2, q))
            if len(g) == 0:
                bad[q] = "no rows"
            elif again is None or check.value_hash(g) != check.value_hash(check.norm(again)):
                bad[q] = "digest differs between executions"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if a.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {a.workload}; expected one of {WORKLOADS}")
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"no engine sources here ({need} missing): run from a checkout root")

    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    classpath = build(root)
    start = time.time()  # the run limit excludes a first run's build
    runs = os.path.join(root, ".bench_run")
    os.makedirs(runs, exist_ok=True)
    sweep_stale_runs(runs)
    work = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        tables = os.path.join(work, "tables")
        if a.workload == "driver_batch":
            sys.path.insert(0, HERE)
            import gen_tables
            gen_tables.generate(tables, a.seed, BATCH_SF)
            log(f"tables generated at {time.time() - start:.1f} s")
        cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        env["SPARK_GRAFT_CPUS"] = str(cpus)
        out = os.path.join(work, "result.json")
        trace_out = os.path.join(root, ".bench_out", f"trace-{a.workload}-{a.seed}.json")
        cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
               + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + [f"-Djava.io.tmpdir={work}/tmp",
                  f"-Dspark.sql.warehouse.dir={work}/warehouse",
                  f"-Dspark.local.dir={work}/local",
                  f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", classpath, MAIN,
                  "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--work", work, "--out", out,
                  "--tables", tables, "--trace-out", trace_out])
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                                start_new_session=True)
        rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - start)))
        proc = None
        if rc != 0:
            raise SystemExit(f"benchmark JVM exited with {rc}")
        r = json.load(open(out))

        ops = r["ops"]
        failed_checks = list(r["checks"])
        log(f"benchmark JVM done at {time.time() - start:.1f} s")
        if a.workload == "driver_batch":
            bad = oracle_check(root, tables, os.path.join(work, "results"),
                               os.path.join(work, "results2"))
            for q, why in sorted(bad.items()):
                failed_checks.append(f"{q}: {why}")
                log(f"oracle check failed: {q}: {why}")
            for o in ops:
                if o["name"] in bad:
                    o["ok"] = False
            log(f"oracle check done at {time.time() - start:.1f} s")

        def group(o):
            return o["name"] if o["cls"] == "query" else o["cls"]

        untraced = [o for o in ops if not o["traced"]]
        lat = [o["cost"]["ms"] for o in untraced]

        def per_round(key):
            rounds = {}
            for o in untraced:
                rounds[o["round"]] = rounds.get(o["round"], 0.0) + o["cost"][key]
            return list(rounds.values())

        # Costs are processor time of the program's threads: on a shared host
        # the wall time of an op swings with the load other guests put on
        # the host, its processor time far less (see README.md). Wall
        # figures are echoed.
        e2e = {"setup_s": median([x["cpu_ms"] for x in r["setups"]]) / 1e3,
               "live_heap_mb": r["live_heap_mb"],
               "round_cpu_ms": median(per_round("cpu_ms")),
               "op_cpu_geomean_ms": geomean([o["cost"]["cpu_ms"] for o in untraced])}
        print(json.dumps({"config": r["config"], "setups": r["setups"],
                          "wall_setup_s": median([x["ms"] for x in r["setups"]]) / 1e3,
                          "wall_round_p50_ms": median(per_round("ms")),
                          "wall_op_geomean_ms": geomean(lat),
                          "ops": len(ops), "classes": {c: sum(1 for o in ops if o["cls"] == c)
                                                       for c in sorted({o["cls"] for o in ops})}}))
        if a.trace:
            traced = [o for o in ops if o["traced"]]
            ratios = []
            for g in sorted({group(o) for o in traced}):
                t = [o["cost"]["cpu_ms"] for o in traced if group(o) == g]
                u = [o["cost"]["cpu_ms"] for o in untraced if group(o) == g]
                if t and u:
                    ratios.append(median(t) / median(u))
            layers = dict(r["layers"])
            layers["trace.overhead"] = geomean(ratios) - 1 if ratios else 0.0
            layers["wall.op_geomean_ms"] = geomean(lat)
            layers["jvm.jit_gc_cpu_ms"] = median(
                [o["cost"]["jvm_cpu_ms"] - o["cost"]["cpu_ms"] for o in untraced])
            detail = dict(r["detail"])
            detail["untraced_op_p50_ms"] = median(lat)
            print(json.dumps({"per_layer_detail": detail}))
            print(json.dumps({"tracing_overhead": layers["trace.overhead"],
                              "traced_ops": len(traced), "untraced_ops": len(untraced)}))
            values, declared = layers, spec["per_layer"]
        else:
            values, declared = e2e, spec["end_to_end"]
        missing = [m["name"] for m in declared if m["name"] not in values]
        if missing:
            raise SystemExit(f"metrics not measured: {missing}")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
        failed = sum(1 for o in ops if not o["ok"])
        print(json.dumps({"correct": failed == 0 and not failed_checks,
                          "attempted": len(ops), "failed": failed, "metrics": metrics}))
    finally:
        if proc is not None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
