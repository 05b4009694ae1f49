#!/usr/bin/env python3
"""graft benchmark: four workloads on one GraftSession, end to end and per layer.

Run from the repository root:

  python3 perfbench/run.py --workload lookup --seed 1 --seconds 8 --trace 0
  python3 perfbench/run.py --selfcheck     # short sf0.001 pass over every workload
  python3 perfbench/run.py --record        # re-record the expected answers

The first run builds the library and the harness with sbt (offline) and
reuses the build while the sources are unchanged. A run starts JVMS JVMs
one after another. Each makes a cold set-up (JVM start, GraftSession,
preparation, untimed warm pass whose outputs are checked against
DuckDB-oracle hashes), then runs whole rounds of the workload in seeded
order for its share of --seconds; with --trace 1 the last JVM traces. The
metrics and their units are the ones BENCHMARK.json names. The last stdout line is the JSON result; the line
before it stamps the environment and the sample counts. Everything the run
writes stays under perfbench/.work.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
WORK = BENCH / ".work"
EXPECTED = BENCH / "expected.json"
SF = "sf0.01"
WORKLOADS = ("lookup", "resolve", "curate", "cdc_stream")
# JVMs per run, one after another: setup_s is the median of their cold
# set-ups, and the timed rounds of all of them are pooled, so one JVM's
# JIT and heap-sizing luck moves a figure less
JVMS = 2
# The heap has only a ceiling, and the serial collector sizes it by the
# live set (free ratio after a collection) rather than by G1's GC-time
# goal, so it grows as far as the run needs and peak_rss_mb (VmHWM)
# follows graft's memory use instead of collector timing. At sf0.01 the
# rounds take as long as under G1.
JVM_MEMORY = ["-XX:+UseSerialGC", "-Xmx2g"]
JVM_TIMEOUT_S = 160
# both sbt calls of a build share this budget
BUILD_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(cwd, *cmds, env, deadline):
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *cmds], cwd=cwd, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=max(deadline - time.monotonic(), 1))
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError(f"sbt {' '.join(cmds)} failed in {cwd}")
    return p.stdout


def source_digest(root):
    h = hashlib.sha256()
    files = [root / "build.sbt", root / "project" / "build.properties", BENCH / "build.sbt"]
    for d in (root / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        if f.exists():
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build(root):
    """Compiles the library and the harness; returns the JVM classpath."""
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    digest = source_digest(root)
    harness = BENCH / "target" / "scala-2.13" / "classes"
    if stamp.exists() and stamp.read_text() == digest and cp_file.exists() and harness.exists():
        return cp_file.read_text()
    log("building the library and the harness (sbt, offline)")
    WORK.mkdir(parents=True, exist_ok=True)
    deadline = time.monotonic() + BUILD_TIMEOUT_S
    env = sbt_env()
    out = sbt(root, "export Runtime/fullClasspath", env=env, deadline=deadline)
    lines = [ln.strip() for ln in out.splitlines() if ln.strip() and not ln.startswith("[")]
    if not lines:
        raise BenchError("sbt printed no runtime classpath")
    graft_cp = lines[-1]
    sbt(BENCH, "compile", env=dict(env, GRAFT_CLASSPATH=graft_cp), deadline=deadline)
    cp = f"{harness}{os.pathsep}{graft_cp}"
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


# ---------------------------------------------------------------- run

def nproc():
    return len(os.sched_getaffinity(0))


def load1():
    return float(Path("/proc/loadavg").read_text().split()[0])


def mem_total_kb():
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1])
    return 0


def run_jvm(cp, workload, seed, seconds, trace, sf, run_dir):
    """One JVM (graftbench.Main); returns its report."""
    report = run_dir / "report.json"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           *JVM_MEMORY, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={run_dir / 'local'}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           "-cp", cp, "graftbench.Main", workload, str(seed), str(seconds), str(trace),
           str(BENCH / "data" / sf), str(run_dir), str(nproc()), str(report)]
    with open(run_dir / "jvm.log", "w") as errf:
        try:
            p = subprocess.run(cmd, stdout=errf, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"the JVM did not finish within {JVM_TIMEOUT_S} s")
    if p.returncode != 0 or not report.exists():
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        sys.stderr.write(tail)
        raise BenchError(f"the JVM exited with code {p.returncode}")
    return json.loads(report.read_text())


# ---------------------------------------------------------------- correctness

def canon(df):
    """Column-name-sorted, value-sorted frame (tools/check.py's canonical form)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frame_hash(df):
    import pandas as pd
    h = hashlib.sha256()
    h.update(json.dumps([list(df.columns), [str(t) for t in df.dtypes], len(df)]).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()


def output_frame(con, path):
    return canon(con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df())


def check_outputs(out_dir, names, expected, corrupt=False):
    """Checks the warm pass's outputs; returns the wrong ones as (name,
    reason) and the row count of each output. With `corrupt`, one row of
    the first output is dropped before hashing (the gate's own test)."""
    import duckdb
    con = duckdb.connect()
    wrong, rows = [], {}
    for n in names:
        path = out_dir / n
        if not path.exists():
            wrong.append((n, "no output written"))
            continue
        df = output_frame(con, path)
        if corrupt and n == names[0]:
            df = df.iloc[1:].reset_index(drop=True)
        rows[n] = len(df)
        if frame_hash(df) != expected.get(n):
            wrong.append((n, "output differs from the oracle answer"))
    wrong += [(d.name, "output has no expected answer") for d in sorted(out_dir.iterdir())
              if d.name not in names]
    return wrong, rows


# ---------------------------------------------------------------- metrics

def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1) / (a + b + 2):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a beta-weighted mean of
    all order statistics. Unlike one order statistic it moves smoothly
    when the values around the quantile sit on both sides of a gap, as
    short and heavy operations do here."""
    xs = sorted(xs)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum(x * (hi - lo) for x, lo, hi in zip(xs, cdf, cdf[1:]))


def op_samples(reps, traced):
    """The samples of the traced or the untraced rounds, by operation."""
    by_op = {}
    for s in (s for r in reps for s in r["samples"]):
        if s["traced"] == traced:
            by_op.setdefault(s["op"], []).append(s)
    return by_op


def op_medians(by_op):
    return [statistics.median(x["ms"] for x in xs) for xs in by_op.values()]


def end_to_end(reps, out_rows):
    """End-to-end metrics over the JVMs of a run, robust to a noisy host:
    the median cold set-up and peak resident set; latency percentiles
    (Harrell-Davis) over each operation's median time across the untraced
    rounds; throughput
    over the median untraced round. An operation's rows are the changes a
    micro-batch consumed, or a query's output rows."""
    by_op = op_samples(reps, traced=False)
    walls = [w for r in reps for w in r["round_wall_s"]]
    if not by_op or not walls:
        raise BenchError("the timed loop completed no operation")
    typical = op_medians(by_op)
    rows = sum(xs[0]["rows"] or out_rows.get(op, 0) for op, xs in by_op.items())
    round_s = statistics.median(walls)
    values = {
        "setup_s": statistics.median(r["setup_s"] for r in reps),
        "latency_p50_ms": quantile(typical, 0.5),
        "latency_p90_ms": quantile(typical, 0.9),
        "queries_per_s": len(by_op) / round_s,
        "rows_per_s": rows / round_s,
        "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in reps),
    }
    samples = sum(len(xs) for xs in by_op.values())
    counts = {"setup_s": len(reps), "latency_p50_ms": samples,
              "latency_p90_ms": samples, "queries_per_s": len(walls), "rows_per_s": len(walls),
              "peak_rss_mb": len(reps)}
    return values, counts


def spec_metrics(root):
    """The metrics BENCHMARK.json names, with their units: end-to-end ones
    for an untraced run (trace 0), per-layer ones for a traced run (1)."""
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}


def run(root, workload, seed, seconds, trace, sf=SF, jvms=JVMS, corrupt=False):
    """One benchmark run; returns (result dict, stamp dict)."""
    if workload not in WORKLOADS:
        raise BenchError(f"unknown workload {workload!r}; expected one of {WORKLOADS}")
    want = spec_metrics(root)[trace]
    cp = build(root)
    expected = json.loads(EXPECTED.read_text())[sf]
    run_dir = WORK / f"run-{os.getpid()}-{workload}"
    shutil.rmtree(run_dir, ignore_errors=True)
    load_start = load1()
    reps, wrong, out_rows = [], [], {}
    try:
        for i in range(jvms):
            jvm_dir = run_dir / f"jvm{i}"
            traced = trace and i == jvms - 1
            reps.append(run_jvm(cp, workload, seed, seconds / jvms, 1 if traced else 0, sf, jvm_dir))
            w, rows = check_outputs(jvm_dir / "out", reps[-1]["checked"], expected["outputs"],
                                    corrupt=corrupt)
            wrong += w
            out_rows.update(rows)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    rep = reps[-1]
    if trace:
        for k, v in sorted(rep["checksums"].items()):
            if expected["checksums"].get(k) != v:
                wrong.append((k, f"probe checksum {v} differs from the recorded one"))
    failures = [(f["op"], f["what"]) for r in reps for f in r["failures"]] + wrong
    attempted = sum(r["attempted"] for r in reps) + (len(rep["checksums"]) if trace else 0)
    e2e, counts = end_to_end(reps, out_rows)
    if trace:
        emitted = dict(rep["layers"])
        emitted["session.build_s"] = statistics.median(r["session_build_s"] for r in reps)
        emitted["session.warm_s"] = statistics.median(r["warm_s"] for r in reps)
        # tracing overhead: traced rounds against the untraced rounds of
        # every JVM, which run with no listener attached
        traced_p50 = quantile(op_medians(op_samples(reps, traced=True)), 0.5)
        emitted["trace.latency_p50_ms"] = traced_p50
        emitted["trace.untraced_latency_p50_ms"] = e2e["latency_p50_ms"]
        emitted["trace.overhead_frac"] = traced_p50 / e2e["latency_p50_ms"] - 1
    else:
        emitted = e2e
    missing = sorted(set(want) - set(emitted))
    if missing:
        raise BenchError(f"metrics named in BENCHMARK.json but not emitted: {missing}")
    metrics = {k: {"value": emitted[k], "unit": u} for k, u in want.items()}
    stamp = {
        "workload": workload, "seed": seed, "trace": trace, "sf": sf, "nproc": nproc(),
        "mem_total_kb": mem_total_kb(), "load1_start": load_start, "load1_end": load1(),
        "spark": rep["spark_version"], "jdk": rep["java_version"],
        "samples": counts, "rounds": sum(len(r["round_wall_s"]) for r in reps),
        "traced_ops": sum(1 for x in rep["samples"] if x["traced"]),
        "error_rate": len(failures) / max(attempted, 1),
        "failures": [f"{n}: {w}" for n, w in failures],
        "end_to_end": e2e if trace else None,
        "unlisted_metrics": sorted(set(emitted) - set(want)),
    }
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": metrics}
    (WORK / "results").mkdir(parents=True, exist_ok=True)
    (WORK / "results" / f"{workload}-seed{seed}-trace{trace}.json").write_text(
        json.dumps({"result": result, "stamp": stamp, "reports": reps}))
    return result, stamp


# ---------------------------------------------------------------- record / selfcheck

def record(root):
    """Records the oracle hashes of every checked output and the probe checksums."""
    import duckdb
    cp = build(root)
    WORK.mkdir(parents=True, exist_ok=True)
    sql_file = WORK / "oracle_sql.json"
    subprocess.run(["java", "-cp", cp, "graftbench.OracleSql", str(sql_file)], check=True)
    sql = json.loads(sql_file.read_text())
    missing = sorted(n for n, q in sql.items() if not q)
    if missing:
        raise BenchError(f"no oracle SQL registered for {missing}")
    expected = {}
    for sf in (SF, "sf0.001"):
        con = duckdb.connect()
        for p in sorted((BENCH / "data" / sf).glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
        expected[sf] = {"outputs": {n: frame_hash(canon(con.execute(q).df())) for n, q in sql.items()},
                        "checksums": {}}
        # probe checksums come from the library itself: record them once
        rep_dir = WORK / "record"
        shutil.rmtree(rep_dir, ignore_errors=True)
        rep = run_jvm(cp, "curate", 1, 1, 1, sf, rep_dir)
        shutil.rmtree(rep_dir, ignore_errors=True)
        expected[sf]["checksums"] = rep["checksums"]
    EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    log(f"recorded {EXPECTED}")


def selfcheck(root):
    """Every workload briefly at sf0.001: every metric BENCHMARK.json names
    is emitted and the run emits no other, the outputs check, and a
    dropped row is caught."""
    problems = []
    for w in WORKLOADS:
        try:
            for trace in (0, 1):
                result, stamp = run(root, w, 7, 1, trace, sf="sf0.001", jvms=1)
                if stamp["unlisted_metrics"]:
                    problems.append(f"{w} trace={trace}: emits metrics BENCHMARK.json does not "
                                    f"name: {stamp['unlisted_metrics']}")
                if not result["correct"] or result["failed"]:
                    problems.append(f"{w} trace={trace}: not correct on the seed code: "
                                    f"{stamp['failures']}")
            result, _ = run(root, w, 7, 1, 0, sf="sf0.001", jvms=1, corrupt=True)
            if result["correct"]:
                problems.append(f"{w}: dropping a row of the first output went unnoticed")
        except BenchError as e:
            problems.append(f"{w}: {e}")
        log(f"selfcheck {w}: done")
    for p in problems:
        log(f"SELFCHECK FAIL {p}")
    print(json.dumps({"selfcheck": "fail" if problems else "ok", "problems": problems}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    root = Path.cwd()
    if not (root / "build.sbt").exists() or not (root / "src" / "main" / "scala" / "graft").is_dir():
        log(f"{root} holds no graft sources (run from the repository root)")
        return 2
    try:
        if a.record:
            record(root)
            return 0
        if a.selfcheck:
            return selfcheck(root)
        if not a.workload:
            ap.error("--workload is required")
        result, stamp = run(root, a.workload, a.seed, a.seconds, a.trace)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log(f"error: {e}")
        return 1
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
