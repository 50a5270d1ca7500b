#!/usr/bin/env python3
"""The graft benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from the
checkout's sources (sbt, into perfbench/target) and caches the DuckDB
oracle answers under perfbench/.work; later runs reuse them. Answers whose
DuckDB query takes minutes ship in perfbench/expected, keyed the same way.
Each run starts one JVM that sets up a Spark session several times, runs a
fixed set of warm-up queries, then a first pass, a settling pass and warm
passes over the workload's queries (order set by the seed); the warm passes
take about `--seconds`. Every query's rows are checked against DuckDB
running the query's `oracleSql` on the same parquet, outside the timed
section.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`). The line before it is a `detail` record: host (nproc, start
load, seconds since the previous run), failed and wrong query names. The
exit code is non-zero when a result disagrees with the oracle or the run
cannot be made. See perfbench/WORKLOADS.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import pickle
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
SF_DIR = BENCH / "data" / "sf0.01"
EXPECTED = BENCH / "expected"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"

WORKLOADS = ["tpch4_sf001", "llm_text_sf001"]
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# name -> unit; must match BENCHMARK.json (the self-test checks it).
END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
    "query_p75_s": "s",
    "queries_per_s": "1/s",
}
# name -> unit of every per-layer metric (--trace 1); must match BENCHMARK.json.
PER_LAYER = {
    "session.start_s": "s",
    "tables.first_load_s": "s",
    "tables.scan_mb": "MB",
    "caches.prewarm_s": "s",
    "caches.rdds": "count",
    "caches.cached_mb": "MB",
    "queries.construct_s": "s",
    "queries.construct_first_s": "s",
    "queries.construct_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    **{f"plan.{k}": "count" for k in ("exchanges", "scans", "smj", "shj", "bhj", "reused", "windows")},
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.cpu_s": "s",
    "exec.core_use": "ratio",
    "exec.sched_wait_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "exec.task_skew": "ratio",
    "exec.codegen_compile_s": "s",
    "exec.codegen_fallbacks": "count",
    "trace.overhead_pct": "%",
}
SETUP_REPS = 3
# After the first pass and one settling pass, a run makes enough warm passes
# for --seconds at the workload's warm pass time on a 4-core host
# (WARM_PASS_S), and at least MIN_WARM (a traced run alternates traced and
# untraced warm passes). The count is fixed per workload and --seconds, not
# by a clock: every commit and host then measures the same work, and a slow
# spell of the host does not also cut the run short of the later, faster
# passes.
WARM_PASS_S = {"tpch4_sf001": 6.0, "llm_text_sf001": 3.0}
MIN_WARM = {0: 3, 1: 4}
RUN_LIMIT_S = 175  # a run must end within 180 s
BUILD_LIMIT_S = 850

JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, cwd, timeout, logfile, env=None):
    """Run cmd in its own process group; kill the group on timeout or
    interrupt and wait for it, so no process outlives the benchmark."""
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=max(timeout, 1))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{cmd[0]} did not finish; log: {logfile}")
    if rc != 0:
        tail = Path(logfile).read_text(errors="replace").splitlines()[-15:]
        raise BenchError(f"{cmd[0]} exited {rc}; log {logfile}:\n" + "\n".join(tail))


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(deadline):
    """Compile the program and the benchmark once per source state; return
    (classpath, stamp)."""
    stamp = tree_hash([ROOT / "src" / "main", BENCH / "src", BENCH / "build.sbt",
                       BENCH / "project" / "build.properties"])
    record = WORK / "build.json"
    if record.exists() and json.loads(record.read_text())["stamp"] == stamp:
        return json.loads(record.read_text())["classpath"], stamp
    log("building the program and the benchmark")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    logfile = WORK / "build.log"
    run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
              "export Runtime/fullClasspath"], BENCH, deadline - time.time(), logfile, env)
    lines = [ln for ln in logfile.read_text().splitlines()
             if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if not lines:
        raise BenchError(f"no classpath in {logfile}")
    record.write_text(json.dumps({"stamp": stamp, "classpath": lines[-1].strip()}))
    return lines[-1].strip(), stamp


def jvm(cp, args, deadline, logfile):
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp", cp,
                                 "graftbench.Main"] + args
    run_proc(cmd, ROOT, deadline - time.time(), logfile)


def prepare(cp, stamp, deadline):
    """One-off per build: the workloads' query lists and oracle SQL."""
    sql_file = WORK / f"oracle-sql-{stamp}.json"
    if not sql_file.exists():
        jvm(cp, ["--mode", "sql", "--out", str(sql_file)], deadline, WORK / "sql.log")
    return json.loads(sql_file.read_text())


def oracle_answers(spec, workload):
    """DuckDB's answer for each query of the workload, cached per (data
    files, oracle SQL). Never derived from Spark."""
    import duckdb
    data_key = tree_hash([SF_DIR / f"{t}.parquet" for t in TABLES])
    out = {}
    con = None
    for q in spec["workloads"][workload]:
        sql = spec["oracle"].get(q)
        if sql is None:
            raise BenchError(f"{q} has no oracle SQL")
        key = hashlib.sha256((data_key + sql).encode()).hexdigest()[:20]
        path = EXPECTED / f"{key}.pkl"
        if not path.exists():
            path = WORK / "oracle" / f"{key}.pkl"
        if not path.exists():
            if con is None:
                con = duckdb.connect()
                con.execute(f"SET temp_directory = '{WORK / 'duckdb-tmp'}'")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR / t}.parquet')")
            path.parent.mkdir(parents=True, exist_ok=True)
            t0 = time.time()
            df = con.execute(sql).df()
            log(f"oracle {workload}/{q}: {time.time() - t0:.1f} s")
            with open(path, "wb") as f:
                pickle.dump(df, f)
        with open(path, "rb") as f:
            out[q] = pickle.load(f)
    if con is not None:
        con.close()
    return out


def same_frames(got, exp):
    """None if equal (columns by name, rows in order, exact values), else why."""
    import pandas as pd
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    cols = sorted(got.columns)
    got, exp = got[cols], exp[cols]
    for c in cols:
        kinds = {got[c].dtype.kind, exp[c].dtype.kind}
        if kinds in ({"i", "f"}, {"u", "f"}):
            return f"{c}: dtype {got[c].dtype} != {exp[c].dtype}"
        for i, (x, y) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if x is None and y is None:
                continue
            if not isinstance(x, (list, tuple)) and not isinstance(y, (list, tuple)):
                try:
                    if pd.isna(x) and pd.isna(y):
                        continue
                except (TypeError, ValueError):
                    pass
            xn = isinstance(x, float) and math.isnan(x)
            yn = isinstance(y, float) and math.isnan(y)
            if xn or yn:
                if xn and yn:
                    continue
                return f"{c} row {i}: {x!r} != {y!r}"
            if hasattr(x, "tolist"):
                x = x.tolist()
            if hasattr(y, "tolist"):
                y = y.tolist()
            if x != y:
                return f"{c} row {i}: {x!r} != {y!r}"
    return None


def check(record, expected, results_dir):
    """Names of queries whose rows differ from the oracle, with reasons."""
    import pandas as pd
    wrong = {}
    for q in record["checked"]:
        files = sorted(glob.glob(f"{results_dir}/{q}/*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else None
        why = "no rows written" if got is None else same_frames(got, expected[q])
        if why:
            wrong[q] = why
    for q in record["nondeterministic"]:
        wrong.setdefault(q, "rows differ between passes")
    return wrong


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p75(xs):
    """The 75th percentile: the highest one with ten or more samples beyond
    it in a run of either workload (about 40 warm samples on llm_text_sf001)."""
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=4, method="inclusive")[2]


def end_to_end(rec):
    first_warm = rec["first_warm"]
    walls = {p["pass"]: p["wall_s"] for p in rec["passes"]}
    warm_walls = [w for p, w in walls.items() if p >= first_warm]
    warm = [s for p, _, s in rec["samples"] if p >= first_warm]
    return {
        "setup_s": median(rec["setup_s"]),
        "first_pass_s": walls[0],
        "warm_pass_s": median(warm_walls),
        "query_p50_s": median(warm),
        "query_p75_s": p75(warm),
        "queries_per_s": len(warm) / sum(warm_walls),
    }


def main():
    # A terminated benchmark still kills and reaps its JVM (see run_proc).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fail", default="", help="self-test: make this query throw")
    args = ap.parse_args()
    t_start = time.time()
    load_start = os.getloadavg()[0]

    if not PROGRAM_SRC.is_dir():
        log(f"no program sources at {PROGRAM_SRC.relative_to(ROOT)}: not a graft checkout")
        return 2
    WORK.mkdir(exist_ok=True)
    (WORK / "tmp").mkdir(exist_ok=True)
    last_file = WORK / "last_run.json"
    since_prev = None
    if last_file.exists():
        since_prev = round(t_start - json.loads(last_file.read_text())["end"], 1)

    first = not (WORK / "build.json").exists()
    deadline = t_start + (BUILD_LIMIT_S if first else RUN_LIMIT_S)
    cp, stamp = build(deadline)
    spec = prepare(cp, stamp, deadline)
    # every workload's answers, so whichever workload runs first pays once
    answers = {name: oracle_answers(spec, name) for name in WORKLOADS}
    expected = answers[args.workload]

    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    out = WORK / "runs" / f"{tag}.json"
    results = WORK / "results" / tag
    spans = WORK / "trace" / f"{tag}.json"
    warm_passes = max(MIN_WARM[args.trace], math.ceil(args.seconds / WARM_PASS_S[args.workload]))
    jvm_args = ["--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
                "--trace", str(args.trace),
                "--data", str(SF_DIR), "--work", str(WORK),
                "--setup-reps", str(SETUP_REPS), "--warm-passes", str(warm_passes),
                "--out", str(out),
                "--results", str(results), "--spans", str(spans)]
    if args.inject_fail:
        jvm_args += ["--inject-fail", args.inject_fail]
    run_deadline = max(deadline, time.time() + 60) if first else deadline
    jvm(cp, jvm_args, run_deadline, WORK / f"{tag}.log")
    rec = json.loads(out.read_text())

    wrong = check(rec, expected, results)
    attempted = len(rec["samples"]) + len(rec["failures"])
    failed = len(rec["failures"])
    if args.trace:
        layers = rec["layers"]
        if set(layers) != set(PER_LAYER):
            raise BenchError(f"per-layer names differ: {sorted(set(layers) ^ set(PER_LAYER))}")
        metrics = {k: (layers[k], u) for k, u in PER_LAYER.items()}
    else:
        e2e = end_to_end(rec)
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}

    t_end = time.time()
    last_file.write_text(json.dumps({"end": t_end}))
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "load_start": load_start, "since_prev_run_s": since_prev,
        "clients": rec["clients"], "queries": len(rec["queries"]),
        "passes": [round(p["wall_s"], 3) for p in rec["passes"]],
        "warm_samples": sum(1 for p, _, _ in rec["samples"] if p >= rec["first_warm"]),
        "first_query_after_start_s": rec["first_query_after_start_s"],
        "warmup_s": round(rec["warmup_s"], 3),
        "cached_mb": rec["cached_mb"], "cached_rdds": rec["cached_rdds"],
        "failed_frac": failed / attempted if attempted else 0.0,
        "failed_queries": sorted({f[1] for f in rec["failures"]}),
        "wrong_results": len(wrong), "wrong_queries": wrong,
        "wall_s": round(t_end - t_start, 1),
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not wrong,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if wrong else 0


if __name__ == "__main__":
    try:
        rc = main()
    except BenchError as e:
        log(str(e))
        rc = 3
    sys.stdout.flush()
    sys.stderr.flush()
    # Every child process has been waited for; skip interpreter teardown,
    # where the duckdb extension can abort the process after the result.
    os._exit(rc)
