#!/usr/bin/env python3
"""Oracle-checked, closed-loop benchmark of the arunaspark engine.

    python3 perfbench/run.py --workload metadata_read --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the runner (sbt) into
`.bench_build/`; later runs reuse the build while the sources are unchanged.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import oracle  # noqa: E402
import stats  # noqa: E402
from workloads import MODULE_NAMES, MODULES, STORES, WORKLOADS  # noqa: E402

ROUNDS = 400          # rounds in a generated sequence; far more than a window uses
# untimed rounds between the cold pass and the window: the JIT is still
# compiling through the first warm rounds
WARMUP_ROUNDS = 1
# Host speed: Runner.calibrate times a CPU kernel and a memory kernel before
# every call. End-to-end times are scaled to a host on which they take
# REF_CALIB_MS (about their times on an idle 4-vCPU VM), by the geometric
# mean of their slowdowns: medians over the timed window, when the program
# is idle between calls.
REF_CALIB_MS = {"cpu": 15.0, "mem": 25.0}
# A window holds 20-50 samples, so a percentile is reported when at least one
# sample lies beyond it; ten beyond p90 would take 100 samples per run.
MIN_BEYOND = 1
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sha256_of(root, paths, extra=b""):
    h = hashlib.sha256(extra)
    for p in paths:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sources(root):
    files = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((root / "perfbench" / "src").rglob("*.scala"))
    files += [root / "build.sbt", root / "perfbench" / "build.sbt",
              root / "perfbench" / "project" / "build.properties"]
    return files


def spark_jars(root):
    """The Spark jar directory the library build compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return str(Path(os.environ["SPARK_HOME"]) / "jars")
    fail("cannot tell where the Spark jars are: set SPARK_HOME")


def build(root, work):
    """Compile the runner with the library sources; return its classpath."""
    stamp = sha256_of(root, sources(root))
    cached = work / "build.json"
    if cached.exists():
        b = json.loads(cached.read_text())
        if b["stamp"] == stamp and all(Path(p).exists() for p in b["classpath"].split(os.pathsep)):
            return stamp, b["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=spark_jars(root))
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export runtime:fullClasspath"],
                       cwd=root / "perfbench", env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in r.stdout.splitlines() if "sbt-target" in l and os.pathsep in l]
    if r.returncode != 0 or not lines:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    classpath = lines[-1].strip()
    work.mkdir(parents=True, exist_ok=True)
    atomic_write(cached, json.dumps({"stamp": stamp, "classpath": classpath}))
    print(f"perfbench: built runner in {time.time() - t0:.1f} s", file=sys.stderr)
    return stamp, classpath


def atomic_write(path, text):
    tmp = path.with_name(path.name + f".{os.getpid()}.tmp")
    tmp.write_text(text)
    tmp.replace(path)


def java(classpath, args, cwd, timeout):
    # a fixed heap, so that heap sizing does not differ between runs
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={cwd / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", classpath, "perfbench.Runner"] + args
    (cwd / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                           text=True, timeout=timeout)
    except subprocess.TimeoutExpired:  # run() has killed and reaped the JVM
        fail(f"runner timed out after {timeout} s")
    if r.returncode != 0:
        print(r.stderr[-4000:], file=sys.stderr)
        fail(f"runner exited with {r.returncode}")


def expected_answers(root, work, stamp, classpath, data, ops):
    """Oracle row count + digest per op, cached by oracle SQL and data."""
    ops = sorted(ops)
    key = hashlib.sha256((stamp + " ".join(ops)).encode()).hexdigest()
    sql_file = work / f"oracle_sql-{key[:16]}.json"
    if not sql_file.exists():
        scratch = work / f"oracle-{os.getpid()}"
        scratch.mkdir(parents=True, exist_ok=True)
        java(classpath, ["oracles", str(scratch / "sql.json")] + ops, scratch, 120)
        shutil.move(str(scratch / "sql.json"), sql_file)
        shutil.rmtree(scratch, ignore_errors=True)
    sql = json.loads(sql_file.read_text())
    key = sha256_of(root, sorted(data.glob("*.parquet")), sql_file.read_bytes())
    exp_file = work / f"expected-{key[:16]}.json"
    if not exp_file.exists():
        t0 = time.time()
        atomic_write(exp_file, json.dumps(oracle.expected(data, sql), indent=1))
        print(f"perfbench: oracle answers in {time.time() - t0:.1f} s", file=sys.stderr)
    return json.loads(exp_file.read_text())


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none (not a git checkout)"
    except (OSError, subprocess.TimeoutExpired):
        return "none (git unavailable)"


def load(records_file):
    recs = [json.loads(l) for l in records_file.read_text().splitlines() if l.strip()]
    if not recs or recs[-1]["kind"] != "end":
        fail("runner output is incomplete")
    return recs


def summarize(recs, expected, cores, trace):
    calls = [r for r in recs if r["kind"] == "call"]
    setup = next(r for r in recs if r["kind"] == "setup")
    errors = {}
    for c in calls:
        c["bad"] = stats.call_error(c, expected)
        if c["bad"]:
            errors.setdefault(c["op"], c["bad"])
    warm = [c for c in calls if c["phase"] == "warm" and not c["bad"]]
    lat = [c["wall"] / 1e6 for c in warm]
    if not lat:
        fail("no warm op succeeded: " + json.dumps(errors))
    p50, _ = stats.percentile(lat, 0.5, MIN_BEYOND)
    p90, p90_used = stats.percentile(lat, 0.9, MIN_BEYOND)
    setup_s = (setup["session_ns"] + sum(setup["store_ns"].values())) / 1e9
    timed = [c for c in calls if c["phase"] in ("warm", "traced")]
    calib_ms = {k: stats.median([c["calib_" + k] / 1e6 for c in timed]) for k in REF_CALIB_MS}
    slowdown = math.prod(calib_ms[k] / REF_CALIB_MS[k] for k in REF_CALIB_MS) ** (1 / len(REF_CALIB_MS))
    raw = {
        "latency_p50_ms": (p50, "ms"),
        "latency_p90_ms": (p90, "ms"),
        "ops_per_s": (stats.rate([c for c in calls if c["phase"] == "warm"]), "1/s"),
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (sum(c["wall"] for c in calls if c["phase"] == "cold") / 1e9, "s"),
        "ok_share": (1 - sum(1 for c in calls if c["bad"]) / len(calls), "share"),
    }
    e2e = stats.at_reference_speed(raw, slowdown)
    ledger = per_op(calls, recs)
    layers = per_layer(calls, recs, setup, ledger, cores) if trace else {}
    host = {"calib_ms": calib_ms, "ref_calib_ms": REF_CALIB_MS, "slowdown": slowdown,
            "raw_end_to_end": {k: v for k, (v, _) in raw.items()}}
    return calls, errors, e2e, (p90_used, len(lat)), layers, ledger, host


def spans_by_call(recs):
    """Spark jobs and stages per (call index, phase), from the traced run."""
    jobs, stages = {}, {}
    starts = {}
    for r in recs:
        if r["kind"] == "job_start":
            starts[r["job"]] = r
        elif r["kind"] == "job_end" and r["job"] in starts:
            s = starts.pop(r["job"])
            jobs.setdefault(tuple(s["span"].split(":")), []).append((s["t"], r["t"]))
        elif r["kind"] == "stage":
            stages.setdefault(tuple(r["span"].split(":")), []).append(r)
    return jobs, stages


PHASES = ["construct", "plan", "exec", "release"]


def per_op(calls, recs):
    """Per-op ledger over the traced window (or the warm one untraced)."""
    traced = [c for c in calls if c["phase"] == "traced" and not c["bad"]]
    base = traced or [c for c in calls if c["phase"] == "warm" and not c["bad"]]
    jobs, stages = spans_by_call(recs)
    plans = {r["i"]: r for r in recs if r["kind"] == "plan"}
    cold = {c["op"]: c["wall"] / 1e6 for c in calls if c["phase"] == "cold"}
    warm_by_op = {}
    for c in calls:
        if c["phase"] == "warm" and not c["bad"]:
            warm_by_op.setdefault(c["op"], []).append(c["wall"] / 1e6)
    ledger = {}
    for op in sorted({c["op"] for c in base}):
        cs = [c for c in base if c["op"] == op]
        row = {"n": len(cs), "wall_ms": stats.mean([c["wall"] / 1e6 for c in cs])}
        for ph in PHASES:
            row[ph + "_ms"] = stats.mean([c[ph] / 1e6 for c in cs])
        row["remainder_ms"] = row["wall_ms"] - sum(row[ph + "_ms"] for ph in PHASES)
        if traced:
            def per_call(f):
                return stats.mean([f(c) for c in cs])

            def st(c, key):
                return sum(s[key] for ph in PHASES for s in stages.get((str(c["i"]), ph), []))

            def call_spans(c):
                """(phase span, its jobs) in epoch ms for one call."""
                t, out = c["start_ms"], []
                for ph in PHASES:
                    d = c[ph] / 1e6
                    out.append(((t, t + d), jobs.get((str(c["i"]), ph), [])))
                    t += d
                return out

            row["eager_jobs"] = per_call(lambda c: len(jobs.get((str(c["i"]), "construct"), [])))
            row["jobs"] = per_call(lambda c: sum(len(jobs.get((str(c["i"]), ph), [])) for ph in PHASES))
            row["stages"] = per_call(lambda c: sum(len(stages.get((str(c["i"]), ph), [])) for ph in PHASES))
            row["tasks"] = per_call(lambda c: st(c, "tasks"))
            row["input_mb"] = per_call(lambda c: st(c, "input") / 1e6)
            row["shuffle_read_mb"] = per_call(lambda c: st(c, "shuffle_read") / 1e6)
            row["shuffle_write_mb"] = per_call(lambda c: st(c, "shuffle_write") / 1e6)
            row["spill_mb"] = per_call(lambda c: st(c, "spill") / 1e6)
            row["cpu_ms"] = per_call(lambda c: st(c, "cpu_ns") / 1e6)
            row["stage_wall_ms"] = per_call(lambda c: sum(
                s["done"] - s["submit"] for ph in PHASES for s in stages.get((str(c["i"]), ph), [])))
            row["driver_ms"] = per_call(lambda c: sum(stats.self_time(sp, js) for sp, js in call_spans(c)))
            for k in ["exchanges", "broadcast_exchanges", "bnlj"]:
                row[k] = per_call(lambda c: plans.get(c["i"], {}).get(k, 0))
        if op in cold and op in warm_by_op:
            row["cold_extra_ms"] = cold[op] - stats.median(warm_by_op[op])
        ledger[op] = row
    return ledger


def per_layer(calls, recs, setup, ledger, cores):
    traced = [c for c in calls if c["phase"] == "traced" and not c["bad"]]
    n = len(traced)

    def over_calls(key):
        # ledger rows are per-op means; weight them by call count
        return sum(ledger[op][key] * ledger[op]["n"] for op in ledger) / n if n else 0.0

    m = {}
    for key, unit in [("construct_ms", "ms"), ("plan_ms", "ms"), ("exec_ms", "ms"),
                      ("release_ms", "ms"), ("remainder_ms", "ms"), ("driver_ms", "ms"),
                      ("eager_jobs", "count"), ("jobs", "count"), ("stages", "count"),
                      ("tasks", "count"), ("input_mb", "MB"), ("shuffle_read_mb", "MB"),
                      ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("exchanges", "count"),
                      ("broadcast_exchanges", "count"), ("bnlj", "count")]:
        m[key] = (over_calls(key), unit)
    wall = over_calls("stage_wall_ms")
    m["exec_cpu_util"] = (over_calls("cpu_ms") / (wall * cores) if wall else 0.0, "share")
    for mod in MODULE_NAMES:
        ops = [op for op in ledger if MODULES[op] == mod]
        k = sum(ledger[op]["n"] for op in ops)
        for ph in ["construct", "exec"]:
            v = sum(ledger[op][ph + "_ms"] * ledger[op]["n"] for op in ops) / k if k else 0.0
            m[f"{mod}.{ph}_ms"] = (v, "ms")
    m["session.start_s"] = (setup["session_ns"] / 1e9, "s")
    extra_stores = next(r for r in recs if r["kind"] == "store_extra")
    for t in STORES:
        built = setup if t in setup["store_ns"] else extra_stores
        m[f"store.{t}.build_s"] = (built["store_ns"][t] / 1e9, "s")
        m[f"store.{t}.mb"] = (built["store_bytes"][t] / 1e6, "MB")
    footprint = next(r for r in recs if r["kind"] == "footprint")
    m["store_mb"] = (footprint["bytes"] / 1e6, "MB")
    extra = [r["cold_extra_ms"] for r in ledger.values() if "cold_extra_ms" in r]
    m["cold_extra_ms"] = (stats.mean(extra), "ms")
    for r in recs:
        if r["kind"] == "kernel":
            m[f"functions.{r['name']}.ns_per_row"] = (stats.median(r["ns"]) / max(1, r["rows"]), "ns")
    warm_rate = stats.rate([c for c in calls if c["phase"] == "warm"])
    traced_rate = stats.rate([c for c in calls if c["phase"] == "traced"])
    m["trace.overhead_share"] = (traced_rate / warm_rate if warm_rate else 0.0, "share")
    return m


def print_ledger(ledger, trace):
    cols = ["n", "wall_ms", "construct_ms", "plan_ms", "exec_ms", "release_ms", "remainder_ms"]
    if trace:
        cols += ["driver_ms", "eager_jobs", "jobs", "stages", "tasks", "exchanges",
                 "broadcast_exchanges", "bnlj", "shuffle_read_mb", "spill_mb"]
    cols += ["cold_extra_ms"]
    print("op".ljust(26) + "".join(c[:11].rjust(12) for c in cols))
    for op, row in ledger.items():
        print(op.ljust(26) + "".join(
            (f"{row[c]:.1f}" if c in row else "-").rjust(12) for c in cols))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = Path.cwd()
    data = root / "perfbench" / "data"
    for need in [root / "src" / "main" / "scala" / "graft" / "SparkEntry.scala",
                 root / "perfbench" / "build.sbt", data / "documents.parquet"]:
        if not need.exists():
            fail(f"{need.relative_to(root)} not found; run from the root of a repository checkout")
    work = root / ".bench_build" / "perfbench"
    work.mkdir(parents=True, exist_ok=True)
    cores = os.cpu_count() or 1
    wl = WORKLOADS[a.workload]

    stamp, classpath = build(root, work)
    expected = expected_answers(root, work, stamp, classpath, data, wl["ops"])

    seq = stats.sequence(wl["ops"], a.seed, ROUNDS)
    rundir = work / f"run-{os.getpid()}"
    shutil.rmtree(rundir, ignore_errors=True)
    rundir.mkdir(parents=True)
    try:
        plan = rundir / "plan.txt"
        extra = [t for t in STORES if t not in wl["stores"]] if a.trace else []
        plan.write_text(
            f"cores {cores}\nstores {' '.join(wl['stores'])}\nextra_stores {' '.join(extra)}\n"
            f"seconds {a.seconds}\nround {len(wl['ops'])}\nwarmup {WARMUP_ROUNDS}\ntrace {a.trace}\n"
            f"sequence {' '.join(seq)}\n")
        java(classpath, ["run", str(data), str(plan), str(rundir / "records.jsonl")],
             rundir, JVM_TIMEOUT_S)
        recs = load(rundir / "records.jsonl")
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    calls, errors, e2e, (p90_used, samples), layers, ledger, host = summarize(recs, expected, cores, a.trace)
    conf = next(r["conf"] for r in recs if r["kind"] == "conf")
    provenance = {
        "git_commit": git_commit(root), "source_sha256": stamp, "nproc": cores,
        "master": conf.get("spark.master"), "workload": a.workload, "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "data": "perfbench/data (sf0.01)",
        "p90_percentile_used": p90_used, "timed_samples": samples, "host_speed": host,
        "spark_conf": {k: v for k, v in conf.items() if "extraJavaOptions" not in k},
        "errors": errors,
    }
    print_ledger(ledger, a.trace)
    for op, why in errors.items():
        print(f"ERROR {op}: {why}")
    metrics = layers if a.trace else e2e
    ledger_file = work / f"ledger-{a.workload}-{a.seed}-{a.trace}.json"
    atomic_write(ledger_file, json.dumps({"provenance": provenance, "end_to_end": e2e,
                                          "per_layer": layers, "per_op": ledger}, indent=1))
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({
        "correct": not errors,
        "attempted": len(calls),
        "failed": sum(1 for c in calls if c["bad"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
