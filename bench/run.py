#!/usr/bin/env python3
"""Benchmark runner for erplwebspark: builds the program from source, makes
the inputs, runs one workload in one JVM and prints the result as the last
line of standard output (one JSON object; the same line is written to
`.bench_out/result-<workload>-<seed>-<trace>.json`).

Usage, from the repository root:

  python3 bench/run.py --workload sql_q|connectors \
      --seed N --seconds S --trace 0|1
  python3 bench/run.py --smoke        # every workload once, at tiny scale
  python3 bench/run.py --record 1 ... # rewrite bench/expected/<scale>.json

Everything the run writes stays in the checkout: `.bench_build/` (classpath,
build stamp, generated tables) and `.bench_out/` (results, spans, logs).
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ["sql_q", "connectors"]
SCALE, SMOKE_SCALE = 0.01, 0.001
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness with sbt once per source state;
    returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                           stdout=subprocess.PIPE, stderr=lf, text=True, timeout=840)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def data_dir(sf):
    """Generated tables for scale `sf`, made once per checkout."""
    d = os.path.join(BUILD, "data", f"sf{sf}")
    gen = os.path.join(BENCH, "gen_data.py")
    with open(gen, "rb") as f:
        mark = hashlib.sha256(f.read()).hexdigest()
    done = os.path.join(d, ".done")
    if os.path.exists(done) and open(done).read() == mark:
        return d
    subprocess.run([sys.executable, gen, d, str(sf)], check=True, timeout=300)
    with open(done, "w") as f:
        f.write(mark)
    return d


def heap():
    """Half of the host's memory, between 2 and 8 GB (as the tier-1 tests)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(cp, workload, seed, seconds, trace, sf, record):
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    tag = f"{workload}-{seed}-{trace}"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{heap()}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Duser.timezone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
              "-cp", cp, "graftbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--data", data_dir(sf), "--out", OUT,
              "--scale", f"sf{sf}", "--expected", os.path.join(BENCH, "expected"),
              "--record", "1" if record else "0",
              "--cpus", str(len(os.sched_getaffinity(0)))])
    log = os.path.join(OUT, f"jvm-{tag}.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf, text=True,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{workload} did not finish within {JVM_TIMEOUT_S} s, see {log}")
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        fail(f"{workload} exited with {p.returncode}, see {log}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    return result


def oracle_check(workload, sf):
    """After recording: compares each recorded result that has oracle SQL
    with DuckDB on the same tables (tools/selfcheck.py) and marks the
    matching entries of bench/expected/sf<sf>.json."""
    rec = os.path.join(OUT, f"record-sf{sf}-{workload}")
    if not os.path.exists(os.path.join(rec, "oracle_sql.json")):
        return
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "selfcheck.py"),
                        data_dir(sf), rec], capture_output=True, text=True, timeout=600)
    lines = p.stdout.splitlines()
    passed = {l.split()[1] for l in lines if l.startswith("PASS ")}
    exp_file = os.path.join(BENCH, "expected", f"sf{sf}.json")
    with open(exp_file) as f:
        exp = json.load(f)
    for name in passed:
        exp[name]["oracle"] = "duckdb"
    with open(exp_file, "w") as f:
        f.write("{\n" + ",\n".join(f"  {json.dumps(k)}: {json.dumps(v)}"
                                    for k, v in sorted(exp.items())) + "\n}\n")
    bad = [l for l in lines if l.startswith("FAIL ")]
    if bad:
        fail("oracle mismatch after recording:\n" + "\n".join(bad))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at tiny scale and check it")
    ap.add_argument("--record", type=int, choices=[0, 1], default=0,
                    help="record expected row counts and digests instead of checking")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found next to bench/")
    if not a.smoke and not a.workload:
        fail("--workload is required")
    cp = build()
    if a.smoke:
        bad = 0
        for w in WORKLOADS:
            t0 = time.time()
            r = run_jvm(cp, w, a.seed, 1, a.trace, SMOKE_SCALE, a.record)
            if a.record:
                oracle_check(w, SMOKE_SCALE)
            print(f"{w}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} in {time.time() - t0:.1f} s", file=sys.stderr)
            bad += 0 if r["correct"] else 1
        print(json.dumps({"smoke": "ok" if bad == 0 else "failed", "failed_workloads": bad}))
        sys.exit(1 if bad else 0)
    r = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, SCALE, a.record)
    if a.record:
        oracle_check(a.workload, SCALE)
    print(json.dumps(r))


if __name__ == "__main__":
    main()
