#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout of the repository. The first run builds
the engine and the benchmark together with sbt (offline) into
perfbench/target; later runs start the JVM directly. The JVM writes a run
record; this script then checks query outputs against their DuckDB oracle,
and prints the metrics named in BENCHMARK.json: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Everything a run writes
stays under perfbench/.work, and run inputs are deleted when it ends.

Environment: PERFBENCH_DATA overrides the star-schema table directory that
the query workloads read (default ~/testdata/sf0.1). SPARK_HOME names the
Spark distribution whose jars the build uses; when it is unset it is derived
from spark-submit on the PATH.
"""
import argparse
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
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(WORK, "build.stamp")
DATA = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata/sf0.1"))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
QUERY_WORKLOADS = {"queries"}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def sources_digest():
    """Digest of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(ROOT, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def host_cpu():
    """(total, steal) CPU ticks from /proc/stat, or None where it is absent."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(v) for v in f.readline().split()[1:]]
        return sum(ticks[:8]), ticks[7]
    except (OSError, ValueError, IndexError):
        return None


def run_child(cmd, timeout, **kw):
    """Run a child process in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def ensure_built():
    digest = sources_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return
    log("perfbench: building (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                   timeout=840, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (sbt exit {rc})", 1)
    with open(STAMP, "w") as f:
        f.write(digest)


def canon(df):
    """Order-sensitive digest of a frame, as in the repository's oracle replay."""
    import numpy as np
    df = df[sorted(df.columns)]

    def cell(v):
        if isinstance(v, (float, np.floating)):
            return format(float(v), ".10g")
        if isinstance(v, (list, np.ndarray)):
            return str(list(v))
        return str(v)
    rows = ("|".join(cell(v) for v in r) for r in df.itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def oracle_check(out, names):
    """Compare each written query output with its DuckDB oracle; returns failures.

    The oracle's columns and digest depend only on its SQL and the fixed
    tables, so they are kept in perfbench/.work/oracle_digests.json, keyed by
    both, and DuckDB runs once per query and table set in a checkout.
    """
    if not names:
        return {}
    import pyarrow.parquet as pq
    sql = json.load(open(os.path.join(out, "oracle_sql.json")))
    tables = [os.path.join(DATA, f"{t}.parquet") for t in TABLES]
    stats = json.dumps([(p, os.path.getsize(p), os.path.getmtime(p))
                        for p in tables if os.path.isfile(p)])
    cache_path = os.path.join(WORK, "oracle_digests.json")
    cache = json.load(open(cache_path)) if os.path.isfile(cache_path) else {}
    con = None
    bad = {}
    for name in names:
        t0 = time.monotonic()
        try:
            files = sorted(glob.glob(os.path.join(out, "oracle", name, "*.parquet")))
            if not files:
                bad[name] = "no output written"
                continue
            s = pq.read_table(files[0]).to_pandas()
            if name not in sql:
                if len(s) == 0:
                    bad[name] = "empty output and no oracle"
                continue
            key = hashlib.sha256((sql[name] + stats).encode()).hexdigest()
            if key not in cache:
                if con is None:
                    import duckdb
                    con = duckdb.connect()
                    con.execute("SET threads TO 4")  # the benchmark JVM has exited
                    for t, p in zip(TABLES, tables):
                        if os.path.isfile(p):
                            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
                o = con.execute(sql[name]).df()
                cache[key] = {"columns": sorted(o.columns), "digest": canon(o), "rows": len(o)}
            o = cache[key]
            if sorted(s.columns) != o["columns"]:
                bad[name] = f"columns {sorted(s.columns)} != oracle {o['columns']}"
            elif canon(s) != o["digest"]:
                bad[name] = f"digest differs from oracle ({len(s)} vs {o['rows']} rows)"
        except Exception as e:  # a broken oracle run is a failed check, not a crash
            bad[name] = f"oracle check error: {e}"[:300]
        log(f"perfbench: oracle check {name}: {time.monotonic() - t0:.2f} s")
    if con is not None:
        con.close()
    with open(cache_path + ".tmp", "w") as f:
        json.dump(cache, f)
    os.replace(cache_path + ".tmp", cache_path)
    return bad


def main():
    # a terminated run still stops the JVM it started (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # a run's work is fixed and sized to BENCHMARK.json's run_seconds on a
    # 4-core machine; the argument is accepted for the common benchmark interface
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_path):
        fail("BENCHMARK.json not found; run from the repository root")
    bench = json.load(open(bench_path))
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a repository checkout")
    if a.workload in QUERY_WORKLOADS and not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail(f"star-schema tables not found under {DATA} (set PERFBENCH_DATA)")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    os.makedirs(WORK, exist_ok=True)
    ensure_built()
    out = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    try:
        cmd = ["java", "-Xmx4g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={out}/tmp"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", open(CLASSPATH).read().strip(), "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--trace", str(a.trace), "--out", out, "--data", DATA]
        t0, cpu0 = time.monotonic(), host_cpu()
        rc = run_child(cmd, timeout=165, stdout=sys.stderr, stderr=sys.stderr)
        jvm_s, cpu1 = time.monotonic() - t0, host_cpu()
        rec_path = os.path.join(out, "result.json")
        if rc != 0 or not os.path.isfile(rec_path):
            fail(f"benchmark JVM failed (exit {rc})", 1)
        rec = json.load(open(rec_path))
        records = os.path.join(WORK, "records")
        os.makedirs(records, exist_ok=True)
        shutil.copyfile(rec_path, os.path.join(
            records, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))

        t0 = time.monotonic()
        bad = oracle_check(out, rec.get("oracle", []))
        oracle_s = time.monotonic() - t0
        failed_ops = {f["op"] for f in rec["failures"]} | set(bad)
        for f in rec["failures"]:
            log(f"perfbench: FAILED {f['op']}: {f['err']}")
        for q, e in sorted(bad.items()):
            log(f"perfbench: FAILED {q}: {e}")
        attempted = rec["attempted"]
        failed = len(failed_ops)

        # the workload-only figures, which cannot be end-to-end metrics
        diag = {k: rec.get(k) for k in (
            "workload", "seed", "ops_n", "op_tail_s", "op_tail_pct", "cache_mb", "shuffle_mb",
            "spill_mb", "session_reps_s", "setup_reps_s", "generate_s", "check_s", "prewarm_s",
            "spark", "oracle")}
        loads = [o for o in rec["ops"] if o["layer"].startswith("hpct.ProfileLoad.load")]
        if loads:
            diag["load_p50_s"] = statistics.median(
                o["sec"] for o in loads if o["layer"] == "hpct.ProfileLoad.load")
            diag["nodes_per_s"] = sum(rec.get(o["name"], 0) for o in loads) / sum(
                o["sec"] for o in loads)
        diag["failed_frac"] = failed / attempted
        diag["jvm_s"], diag["oracle_s"] = jvm_s, oracle_s
        if cpu0 and cpu1:
            # share of the machine's CPU time taken by its host while the JVM
            # ran: high in the spells when other tenants slow every operation
            diag["steal_pct"] = 100 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
        log("BENCHDIAG " + json.dumps(diag, sort_keys=True))

        if a.trace:
            per = rec["per_layer"]
            per["run.failed_frac"] = failed / attempted
            names = [(m["name"], m["unit"]) for m in bench["per_layer"]]
            if set(per) != {n for n, _ in names}:
                fail("per-layer metrics of the run differ from BENCHMARK.json: "
                     f"{sorted(set(per) ^ {n for n, _ in names})}", 1)
            history = os.path.join(WORK, "history.jsonl")
            walls = []
            if os.path.isfile(history):
                for line in open(history):
                    h = json.loads(line)
                    if h["workload"] == a.workload:
                        walls.append(h["wall_s"])
            if walls:
                base = statistics.median(walls)
                log(f"perfbench: tracing overhead: traced wall_s {rec['wall_s']:.3f} s vs median "
                    f"untraced {base:.3f} s over {len(walls)} runs: "
                    f"{100 * (rec['wall_s'] / base - 1):+.1f}%")
            trace_dir = os.path.join(WORK, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            spans = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.spans.jsonl")
            shutil.copyfile(os.path.join(out, "spans.jsonl"), spans)
            log(f"perfbench: spans written to {os.path.relpath(spans, ROOT)}")
            for n, u in names:
                log(f"LAYER {n:<44} {per[n]:>14.4f} {u}")
        else:
            per = rec
            names = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
            with open(os.path.join(WORK, "history.jsonl"), "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": a.seed,
                                    **{n: rec[n] for n, _ in names}}) + "\n")
        metrics = {n: {"value": float(per[n]), "unit": u} for n, u in names}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
