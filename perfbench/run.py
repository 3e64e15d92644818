#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the engine (the root sbt build) and
the benchmark (perfbench/build.sbt) on first use, generates the workload's
inputs from the seed, runs one benchmark JVM, checks its results against
DuckDB, and prints one JSON line last: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. Everything the run
writes stays under .bench_build/; the full record of a run, with its
environment, is .bench_build/runs/<workload>-<seed>-<trace>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170  # every run must end within 180 s
HEAP = "-Xmx3g"
UNACCOUNTED_TOLERANCE = 0.05


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def sources_stamp():
    """Hash of everything the two builds read, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties",
                                             "src/main", "lib")]
    roots += [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt(cwd, *commands, props=()):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    # -XX:-UsePerfData: no JVM statistics file outside the checkout
    cmd = ["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.server.autostart=false",
           "-Dsbt.log.noformat=true", *props, *commands]
    p = subprocess.run(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        die(f"build failed in {cwd}", 1)
    return p.stdout.splitlines()


def classpath_line(lines):
    cp = [l for l in lines if not l.startswith("[") and os.pathsep in l]
    if not cp:
        die("sbt printed no classpath", 1)
    return cp[-1].strip()


def ensure_built():
    """Build the engine with its own root build, then the benchmark
    against it; reuse both while no source changed."""
    stamp = sources_stamp()
    launcher = os.path.join(BUILD, "launcher.json")
    if os.path.exists(launcher):
        with open(launcher) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached, False
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    lines = sbt(ROOT, "export Runtime/fullClasspath", "show run/javaOptions",
                "show scalaVersion")
    engine_cp = classpath_line(lines)
    opts = [l[len("[info] * "):] for l in lines if l.startswith("[info] * ")]
    scala = [l.split()[1] for l in lines
             if l.startswith("[info] ") and l.split()[1:2] and l.split()[1][:1].isdigit()
             and len(l.split()) == 2]
    cp_file = os.path.join(BUILD, "engine.classpath")
    with open(cp_file, "w") as f:
        f.write(engine_cp)
    props = [f"-Dperfbench.engineClasspath={cp_file}"]
    if scala:
        props.append(f"-Dperfbench.scalaVersion={scala[-1]}")
    bench_cp = classpath_line(sbt(HERE, "export Runtime/fullClasspath", props=props))
    built = {"stamp": stamp, "classpath": bench_cp,
             "jvm_options": [o for o in opts if not o.startswith("-Xmx")],
             "build_s": round(time.time() - t0, 1)}
    with open(launcher, "w") as f:
        json.dump(built, f)
    log(f"perfbench: built engine and benchmark in {built['build_s']} s")
    return built, True


def environment():
    """Cores, load and cumulative CPU steal, sampled at start and end."""
    env = {"nproc": os.cpu_count()}
    try:
        env["load1m"] = os.getloadavg()[0]
    except OSError:
        env["load1m"] = None
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        env["steal_s"] = int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else None
    except (OSError, ValueError):
        env["steal_s"] = None
    return env


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def identical(got, exp):
    """Vectorized fast path of check_oracle.compare for large results: true
    only when the frames have the same columns, row count and dtypes, no
    nulls, only scalar values and equal values everywhere, where compare
    says OK too. Anything else goes to compare, which gives the verdict."""
    cols = sorted(got.columns)
    if cols != sorted(exp.columns) or len(got) != len(exp):
        return False
    for c in cols:
        g, e = got[c].reset_index(drop=True), exp[c].reset_index(drop=True)
        if g.dtype != e.dtype or g.isna().any() or e.isna().any():
            return False
        if g.dtype == object and not all(
                isinstance(v, (str, int, float, bool)) for v in (*g, *e)):
            return False
        if not bool((g == e).all()):
            return False
    return True


def oracle_failures(record, data, work):
    """Compare each oracle-checked face's first result with DuckDB's answer
    to the face's oracle SQL, by the rules of tools/check_oracle.py."""
    if not record["oracle_faces"]:
        return []
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    from check_oracle import TABLES, compare
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = []
    for f in record["oracle_faces"]:
        d = os.path.join(work, "out", f["face"])
        parts = sorted(p for p in os.listdir(d) if p.endswith(".parquet"))
        got = pd.concat([pd.read_parquet(os.path.join(d, p)) for p in parts]) \
            if parts else pd.DataFrame()
        try:
            exp = con.execute(f["sql"]).fetchdf()
            verdict = "OK" if identical(got, exp) else compare(got, exp)
        except Exception as e:  # the oracle SQL itself failed
            verdict = f"ORACLE_SQL_ERROR {e}"
        if verdict != "OK":
            out.append((f["face"], f["ops"], verdict))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", type=int, choices=(0, 1), default=0,
                    help="self-test: corrupt results so that the checks must fail")
    a = ap.parse_args()
    t_start = time.time()
    for need in ("build.sbt", "src/main", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from a checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {a.workload}")

    built, fresh_build = ensure_built()
    sys.path.insert(0, HERE)
    import gen
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    data = os.path.join(BUILD, "data", f"{a.workload}-{a.seed}")
    work = os.path.join(BUILD, "work", tag)
    for d in (data, work):
        shutil.rmtree(d, ignore_errors=True)
    inputs = gen.generate(a.workload, a.seed, data)
    os.makedirs(os.path.join(work, "tmp"))
    env_start = environment()

    out = os.path.join(work, "record.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *built["jvm_options"], HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", built["classpath"], "graftbench.Main",
           "--workload", a.workload, "--data", data, "--work", work,
           "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--perturb", str(a.perturb), "--out", out]
    t_run = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as jl:
        p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=jl, stderr=jl)
        try:
            # a run that built may take longer; its JVM still gets the
            # whole budget of an ordinary run
            rc = p.wait(timeout=DEADLINE_S if fresh_build
                        else DEADLINE_S - (t_run - t_start))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("benchmark JVM ran past its deadline", 1)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        die(f"benchmark JVM exited with {rc}", 1)
    with open(out) as f:
        record = json.load(f)

    failures = list(record["failures"])
    failed = record["failed"]
    for face, ops, verdict in oracle_failures(record, data, work):
        failed += ops
        failures.append(f"{face}: oracle mismatch: {verdict}")
    # the span tree must account for the ops' time (traced runs)
    unaccounted = record["per_layer"].get("trace.unaccounted_frac", 0.0)
    if unaccounted > UNACCOUNTED_TOLERANCE:
        failures.append(f"spans: {unaccounted:.3f} of op time lies outside its parent span "
                        f"(tolerance {UNACCOUNTED_TOLERANCE})")
        failed = record["attempted"]
    failed = min(failed, record["attempted"])
    section = "per_layer" if a.trace else "end_to_end"
    values = record[section]
    metrics = {}
    for m in spec[section]:
        if m["name"] not in values:
            die(f"the run did not measure {m['name']}", 1)
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}

    record.update({
        "inputs": inputs, "failures": failures, "failed": failed,
        "env": {"start": env_start, "end": environment(), "commit": commit(),
                "spark": record["detail"].get("spark_version"),
                "java": record["detail"].get("java_version")},
        "wall_s": round(time.time() - t_start, 2)})
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    with open(os.path.join(BUILD, "runs", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(data, ignore_errors=True)

    log(f"perfbench: {a.workload} seed={a.seed} inputs={json.dumps(inputs)}")
    log(f"perfbench: env={json.dumps(record['env'])}")
    log(f"perfbench: detail={json.dumps(record['detail'])}")
    for fl in failures:
        log(f"perfbench: FAILED {fl}")
    print(json.dumps({"correct": failed == 0, "attempted": record["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
