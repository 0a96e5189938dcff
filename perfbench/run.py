#!/usr/bin/env python3
"""Lakehouse benchmark: one workload of graft.SparkEntry statements, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The runner
  1. builds the harness in perfbench/ (its own sbt build, compiled against
     the engine sources at the root) unless a build of the same sources is
     already in .bench_build/perfbench;
  2. sizes the engine JVM for the host: heap from MemTotal (the Tier-1
     formula: half of RAM, 2g to 8g), local[nproc], spill dirs inside the
     run directory;
  3. copies the read-only testdata into a fresh run directory, so the
     engine's fixture cache (keyed by data directory) starts empty and the
     fixture builds are part of set-up;
  4. runs perfbench.LakehouseBench (set-up, timed passes in a
     seed-permuted order), then checks every statement's result against
     its oracle SQL in DuckDB, outside every timed metric;
  5. prints one JSON line: end-to-end metrics with --trace 0, per-layer
     metrics with --trace 1. The traced run also writes the per-pass,
     per-statement layers and the spans to .bench_build/perfbench/traces/.

The load is one process with one closed-loop client: statements run one at
a time with no think time. The seed permutes statement order in each pass.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".bench_build" / "perfbench"
ENGINE_FILES = [ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala"]
TESTDATA_TABLES = ["region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "documents", "embeddings"]
# graft.SparkEntry builds its fixtures under this fixed root, one directory
# per (fixture, data directory); the runner removes the ones its run made.
ENGINE_FIXTURE_ROOT = Path("/tmp/graft_fixtures")

# Statement prefixes of graft.SparkEntry.queries; every one has oracle SQL.
# Each workload is a slice of its query family, sized so that a run (fresh
# JVM, fixture builds from an empty cache, a cold first pass, then the timed
# passes) stays near one minute.
WORKLOADS = {
    # Bronze -> Silver -> Gold over plain parquet: file source readers (CSV,
    # JSON, XML, ORC), Silver cleansing, Gold aggregates, and a TPC-H join
    # shape (Q5). Catalyst, scan/join/agg execution and
    # graft.sources.Readers do the work; there are no table-format or
    # LLM-operator calls, so it is the bypass workload for those layers. An
    # odd statement count keeps the median and the 90th percentile inside
    # one statement's own spread. The JDBC source (q91) is left out: run
    # more than once in one JVM it fails at random ("No current
    # connection"), because it deletes and recreates a Derby database that
    # is still booted, and a workload must run without failures.
    "medallion": ["q01", "q05", "q09", "q27", "q28", "q29", "q60", "q110", "q87"],
    # UPDATE, MERGE, DELETE and INSERT statements through GraftSql on all
    # three formats (Delta, Iceberg, graft-log), each against a fresh working
    # copy: many small jobs, driver-side planning and commit metadata I/O.
    # Three statements of distinct cost, for the same reason.
    "table_dml": ["q183", "q186", "q191"],
}

# The JIT compiler is still busy long after the cold pass (about a core's
# worth in the first timed passes), so warm up for a few passes more.
WARM_PASSES = 3
CAP_SECONDS = 60
RUN_BUDGET_S = 160
BUILD_BUDGET_S = 600

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "stmt_p50_s": "s", "stmt_p90_s": "s",
             "cpu_s": "s", "heap_live_mb": "MB"}
LAYER_UNITS = {
    "entry.eager_s": "s", "entry.action_s": "s", "entry.eager_self_s": "s",
    "sql.executions": "count", "sql.analysis_s": "s", "sql.optimization_s": "s",
    "sql.planning_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.job_span_s": "s", "scheduler.driver_gap_s": "s",
    "executor.cpu_s": "s", "executor.run_s": "s", "executor.gc_s": "s",
    "executor.input_bytes": "bytes", "executor.shuffle_read_bytes": "bytes",
    "executor.shuffle_write_bytes": "bytes", "executor.output_bytes": "bytes",
    "executor.spill_bytes": "bytes", "executor.task_failures": "count",
    "tableio.calls": "count", "tableio.lists": "count", "tableio.reads": "count",
    "tableio.writes": "count", "tableio.claims": "count", "tableio.claims_lost": "count",
    "tableio.bytes_read": "bytes", "tableio.bytes_written": "bytes", "tableio.busy_s": "s",
    "jvm.gc_s": "s", "jvm.gc_count": "count", "jvm.jit_s": "s",
}
TRACE_UNITS = {"trace.pass_s_untraced": "s", "trace.pass_s_traced": "s",
               "trace.overhead_ratio": "ratio"}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for src in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes() if f.exists() else b"-")
    return h.hexdigest()


def build():
    """Compiles the harness and engine once per source tree; returns the
    runtime classpath."""
    stamp = sources_stamp()
    cp_file, stamp_file = STATE / "classpath.txt", STATE / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        cp = cp_file.read_text().strip()
        if all(Path(e).exists() for e in cp.split(os.pathsep)):
            return cp, False
    log("building the harness and engine (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_BUDGET_S)
    except FileNotFoundError:
        die("sbt is not on PATH; it is needed to build the engine")
    except subprocess.TimeoutExpired:
        die(f"the build did not finish within {BUILD_BUDGET_S}s")
    cps = [l for l in out.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if out.returncode != 0 or not cps:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        die("the build failed")
    STATE.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cps[-1].strip())
    stamp_file.write_text(stamp)
    return cps[-1].strip(), True


def host_sizing():
    """Heap from MemTotal by the Tier-1 formula, cores from the affinity mask."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_g = min(8, max(2, mem_kb // 2097152))
    return f"{heap_g}g", len(os.sched_getaffinity(0))


def testdata_dir():
    d = Path(os.environ.get("SPARK_GRAFT_SF_DIR", Path.home() / "testdata" / "sf0.1"))
    missing = [t for t in TESTDATA_TABLES if not (d / f"{t}.parquet").exists()]
    if missing:
        die(f"testdata not found in {d} (missing {', '.join(missing)}); "
            "set SPARK_GRAFT_SF_DIR to the sf0.1 testdata directory")
    return d


def run_engine(cp, run_dir, data_dir, stmts, args, deadline):
    heap, cpus = host_sizing()
    local_dir = run_dir / "local"
    tmp_dir = run_dir / "tmp"
    local_dir.mkdir()
    tmp_dir.mkdir()
    env = dict(os.environ, SPARK_DRIVER_MEM=heap, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=str(local_dir))
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # Compiler threads live for the whole run, so the harness can read how
    # much CPU the JIT took in each pass (a thread that exits loses it).
    cmd = (["java", f"-Xmx{heap}", f"-Xms{heap}", "-XX:+UseParallelGC",
            "-XX:+AlwaysPreTouch", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp_dir}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", cp, "perfbench.LakehouseBench",
            "--statements", ",".join(stmts), "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf-dir", str(data_dir), "--out", str(run_dir / "out"),
            "--cpus", str(cpus), "--warm-passes", str(WARM_PASSES),
            "--cap-seconds", str(CAP_SECONDS),
            "--launched-epoch-ms", repr(time.time() * 1000.0)])
    log(f"engine JVM: heap {heap}, local[{cpus}], {len(stmts)} statements")
    stderr_path = run_dir / "engine.stderr"
    with open(stderr_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                stdout=err, stderr=err, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    tail = stderr_path.read_text(errors="replace")[-3000:]
    raw = run_dir / "out" / "raw.json"
    if rc != 0 or not raw.exists():
        sys.stderr.write(tail)
        if re.search(r"commit_memory|reserve enough space|Could not create the Java",
                     tail):
            die(f"the engine JVM could not start with a {heap} heap "
                "(not enough memory on this host)", 3)
        if rc is None:
            die("the engine run did not finish within the run budget", 3)
        die(f"the engine run failed (exit code {rc})", 3)
    return json.loads(raw.read_text())


def oracle_result(con, sql, data_dir, canon):
    """The canonical oracle result of `sql`, computed once per (SQL text,
    testdata) and kept under .bench_build: some oracles take DuckDB tens of
    seconds, and they do not depend on the code under test."""
    key = hashlib.sha256(sql.encode())
    for t in TESTDATA_TABLES:
        st = (data_dir / f"{t}.parquet").stat()
        key.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    cached = STATE / "oracle" / f"{key.hexdigest()}.pkl"
    if cached.exists():
        import pandas as pd
        return pd.read_pickle(cached)
    exp = canon(con.execute(sql).fetchdf())
    cached.parent.mkdir(parents=True, exist_ok=True)
    tmp = cached.with_suffix(f".{os.getpid()}.tmp")
    exp.to_pickle(tmp)
    tmp.replace(cached)
    return exp


def check_outputs(run_dir, data_dir, stmts, dump_errors):
    """Compares each statement's dumped result with its oracle SQL run in
    DuckDB, using tools/oracle_check.py's canonical form. Returns
    ({stmt: oracle row count}, {stmt: mismatch description})."""
    sys.path.insert(0, str(ROOT / "tools"))
    import duckdb
    import pandas as pd
    from oracle_check import TABLES, canon
    out = run_dir / "out"
    oracle = json.loads((out / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    rows, bad = {}, {}
    for s in stmts:
        exp = oracle_result(con, oracle[s], data_dir, canon)
        rows[s] = len(exp)
        if s in dump_errors:
            bad[s] = f"no result was written: {dump_errors[s]}"
            continue
        got = canon(pd.read_parquet(out / "results" / s))
        if list(got.columns) != list(exp.columns):
            bad[s] = f"columns {list(got.columns)} vs {list(exp.columns)}"
        elif len(got) != len(exp):
            bad[s] = f"rows {len(got)} vs {len(exp)}"
        elif not got.equals(exp):
            bad[s] = "values differ"
    con.close()
    return rows, bad


def p90(values):
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def summarize(raw, oracle_rows, args):
    """Reduces raw samples to the printed metrics and the trace document."""
    samples = raw["samples"]
    wrong_rows = {s["id"] for s in samples
                  if s["error"] is None and s["rows"] != oracle_rows[s["stmt"]]}
    failed_ids = wrong_rows | {s["id"] for s in samples if s["error"] is not None}
    ok = [s for s in samples if s["id"] not in failed_ids]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    metrics = {}
    if args.trace == 0:
        lat = [s["wall_s"] for s in ok]
        if not lat:
            die("every timed statement failed", 4)
        log(f"{len(untraced)} passes, {len(lat)} latency samples, "
            f"{len(failed_ids)} failed statements")
        metrics = {
            "setup_s": raw["setup_s"],
            "pass_s": statistics.median(p["wall_s"] for p in untraced),
            "stmt_p50_s": statistics.median(lat),
            "stmt_p90_s": p90(lat),
            # The JIT is still compiling Spark through the timed passes, more
            # of it on a slower host; that unfinished warm-up is left out
            # here and reported as jvm.jit_s by the traced run.
            "cpu_s": statistics.median(p["cpu_s"] - p["jit_cpu_s"] for p in untraced),
            "heap_live_mb": raw["heap_live_mb"],
        }
        units = E2E_UNITS
        trace_doc = None
    else:
        traced = [p for p in raw["passes"] if p["traced"]]
        traced_passes = [p["pass"] for p in traced]
        # JIT time is known per pass only; the rest is summed from samples.
        per_pass = {p["pass"]: dict({k: 0.0 for k in LAYER_UNITS}, **{"jvm.jit_s": p["jit_cpu_s"]})
                    for p in traced}
        per_stmt = {}
        for s in samples:
            if s["layers"] is None:
                continue
            for k, v in s["layers"].items():
                per_pass[s["pass"]][k] += v
                per_stmt.setdefault(s["stmt"], {}).setdefault(k, []).append(v)
        metrics = {k: statistics.median(per_pass[p][k] for p in traced_passes)
                   for k in LAYER_UNITS}
        untraced_s = statistics.median(p["wall_s"] for p in untraced)
        traced_s = statistics.median(p["wall_s"] for p in traced)
        metrics.update({"trace.pass_s_untraced": untraced_s, "trace.pass_s_traced": traced_s,
                        "trace.overhead_ratio": traced_s / untraced_s - 1.0})
        units = dict(LAYER_UNITS, **TRACE_UNITS)
        trace_doc = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "statements": raw["statements"], "setup": raw["setup"],
            "overhead": {k: metrics[k] for k in TRACE_UNITS},
            "per_pass": {"median": {k: metrics[k] for k in LAYER_UNITS},
                         "passes": {str(p): per_pass[p] for p in traced_passes}},
            "per_statement": {s: {k: statistics.median(v) for k, v in m.items()}
                              for s, m in sorted(per_stmt.items())},
            "spans": raw["spans"],
        }
    return ({k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            len(samples), len(failed_ids), len(wrong_rows), trace_doc)


def remove_fixtures(data_dir):
    """Deletes the engine fixtures this run's data directory keyed."""
    suffix = "_" + re.sub(r"[^a-zA-Z0-9]", "_", str(data_dir))
    if ENGINE_FIXTURE_ROOT.is_dir():
        for d in ENGINE_FIXTURE_ROOT.iterdir():
            if d.name.endswith(suffix):
                shutil.rmtree(d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    # A terminated run still stops the engine JVM and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [str(f.relative_to(ROOT)) for f in ENGINE_FILES if not f.exists()]
    if missing:
        die(f"engine sources not found next to perfbench/ (missing {', '.join(missing)})")
    data_src = testdata_dir()
    cp, built = build()
    deadline = (time.time() if built else started) + RUN_BUDGET_S

    stmts = WORKLOADS[args.workload]
    run_dir = STATE / f"run-{os.getpid()}-{time.time_ns()}"
    data_dir = run_dir / "sf0.1"
    data_dir.mkdir(parents=True)
    try:
        for t in TESTDATA_TABLES:
            shutil.copy2(data_src / f"{t}.parquet", data_dir / f"{t}.parquet")
        # Flush what earlier runs left to write back, so this run's timings
        # do not pay for it.
        os.sync()
        raw = run_engine(cp, run_dir, data_dir, stmts, args, deadline)
        oracle_rows, mismatches = check_outputs(run_dir, data_dir, raw["statements"],
                                                raw["dump_errors"])
        for s, why in mismatches.items():
            log(f"{s}: output differs from the oracle: {why}")
        metrics, attempted, failed, wrong_rows, trace_doc = summarize(raw, oracle_rows, args)
        for s in raw["samples"]:
            if s["error"] is not None:
                log(f"{s['stmt']} failed in pass {s['pass']}: {s['error']}")
            elif s["rows"] != oracle_rows[s["stmt"]]:
                log(f"{s['stmt']} returned {s['rows']} rows in pass {s['pass']}, "
                    f"the oracle {oracle_rows[s['stmt']]}")
        if trace_doc is not None:
            traces = STATE / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            path = traces / f"{args.workload}-seed{args.seed}.json"
            path.write_text(json.dumps(trace_doc))
            log(f"trace written to {path}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        remove_fixtures(data_dir)
        os.sync()
    print(json.dumps({"correct": not mismatches and not wrong_rows, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
