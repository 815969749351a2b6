#!/usr/bin/env python3
"""Closed-loop benchmark of the oaxaca-blinder Spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload analyst --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all            # every workload, untraced then traced
    python3 perfbench/run.py --self-test               # the benchmark's own tests
    python3 perfbench/run.py --pin                     # re-pin the expected answers

The script compiles the engine and the benchmark from source with the
Scala compiler shipped in the Spark distribution (no sbt, no network),
writes the synthetic fixtures once, and starts one JVM per run. Every
file it writes goes under `.bench_build/`. The last line of stdout is the
run's result object.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")
WORKLOADS = ["analyst", "equity_serve", "dedup"]
RUN_TIMEOUT_S = 175
END_TO_END = ["throughput_rps", "latency_p50_s", "latency_tail_s", "peak_rss_mb", "setup_s"]

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def spark_jars():
    jars_dir = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars_dir):
        fail(f"no Spark jars at {jars_dir}; set SPARK_HOME")
    return jars_dir


def scala_files(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def heap_gb():
    """Half of RAM, clamped to 2-8 GB: the engine's own test sizing."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def java_cmd(main, args, tmp):
    jars = spark_jars()
    cp = os.pathsep.join([os.path.join(BUILD, "bench-classes"),
                          os.path.join(BUILD, "engine-classes"), os.path.join(jars, "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    heap = heap_gb()
    # a fixed heap and young generation: with G1 resizing them, the peak
    # RSS of the same mix moved by a quarter from run to run
    return (["java"] + opens +
            [f"-Xms{heap}g", f"-Xmx{heap}g", f"-Xmn{heap * 128}m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-cp", cp, main] + args)


def compile_tree(name, files, extra_cp, stamp_seed=b""):
    """Compile `files` into .bench_build/<name> unless they are unchanged
    since the last build there. Returns the build's stamp."""
    h = hashlib.sha256(stamp_seed)
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, name)
    stamp_file = os.path.join(out, "BUILD_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    log(f"compiling {len(files)} Scala files into {name}")
    t0 = time.time()
    jars = spark_jars()
    staging = out + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cp = os.pathsep.join(extra_cp + sorted(os.path.join(jars, j) for j in os.listdir(jars)
                                           if j.endswith(".jar")))
    tmp = os.path.join(BUILD, "tmp-build")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-d", staging, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        fail(f"compilation of {name} failed")
    with open(os.path.join(staging, "BUILD_STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(staging, out)
    log(f"compiled {name} in {time.time() - t0:.0f} s")
    return stamp


def build():
    """Compile the engine, then the benchmark against it."""
    if not os.path.isdir(ENGINE_SRC) or not scala_files(BENCH_SRC):
        fail("engine or benchmark sources missing; run from the repository root")
    if shutil.which("java") is None:
        fail("java not found")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        engine = compile_tree("engine-classes", scala_files(ENGINE_SRC), [])
        compile_tree("bench-classes", scala_files(BENCH_SRC),
                     [os.path.join(BUILD, "engine-classes")], engine.encode())


def fixtures():
    """Write the synthetic fixture tables once per generator version."""
    with open(os.path.join(BENCH_SRC, "perfbench", "Fixtures.scala"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "fixtures", version)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(d, "_READY")):
            log("writing fixtures")
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            run_java("perfbench.Fixtures", [d], "fixtures")
    return d


def run_java(main, args, tag):
    """Run one JVM with a private temp dir; its stderr goes to a log file.
    Returns stdout. Exits on failure or timeout."""
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    tmp = os.path.join(BUILD, f"tmp-{os.getpid()}-{tag}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log_path = os.path.join(logs, f"{tag}.log")
    try:
        with open(log_path, "w") as err:
            p = subprocess.Popen(java_cmd(main, args, tmp), stdout=subprocess.PIPE,
                                 stderr=err, text=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.communicate()
                fail(f"{tag}: timed out after {RUN_TIMEOUT_S} s (log: {log_path})")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{tag}: exited with {p.returncode} (log: {log_path})")
    return out


def run_one(workload, seed, seconds, trace, pin=False):
    """One benchmark run; returns (details, result) as parsed JSON."""
    fx = fixtures()
    out_dir = os.path.join(BUILD, "reports")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{workload}-seed{seed}-trace{trace}"
    out = run_java("perfbench.Main",
                   ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                    "--trace", str(trace), "--fixtures", fx,
                    "--expected", os.path.join(BENCH, "expected"), "--out", out_dir,
                    "--pin", "1" if pin else "0"], tag)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        fail(f"{tag}: no result line")
    return json.loads(lines[-2]), json.loads(lines[-1])


def run_all(seed, seconds):
    """Every workload untraced, then traced; prints the end-to-end table
    and the tracing overhead."""
    summary = {}
    for w in WORKLOADS:
        d0, r0 = run_one(w, seed, seconds, 0)
        d1, r1 = run_one(w, seed, seconds, 1)
        m0, m1 = r0["metrics"], r1["metrics"]
        untraced = m0["throughput_rps"]["value"]
        traced = m1["trace.throughput_rps"]["value"]
        with open(os.path.join(BUILD, "reports", f"spans-{w}-seed{seed}-trace1.json")) as f:
            gaps = [r["gap_ms"] for r in json.load(f)["requests"]]
        print(f"\n== {w}  seed {seed}  passes {d0['passes']}  n {d0['n']}  "
              f"correct {r0['correct'] and r1['correct']}")
        for k in END_TO_END:
            n = 1 if k in ("peak_rss_mb", "setup_s") else d0["n"]
            print(f"  {k:<16} {m0[k]['value']:>12.4f} {m0[k]['unit']:<4} n={n}"
                  + (f"  (p{d0['latency_tail_percentile']:.1f})" if k == "latency_tail_s"
                     and d0["latency_tail_percentile"] is not None else ""))
        print(f"  {'error_rate':<16} {d0['error_rate']:>12.4f} {'':<4} n={d0['n']}")
        print(f"  tracing overhead {1 - traced / untraced:>+12.1%} of throughput "
              f"({untraced:.4f} -> {traced:.4f} 1/s)")
        print(f"  driver gap >= 0 on all {len(gaps)} traced requests: {min(gaps) >= 0}")
        c = d0["conditions"]
        print(f"  conditions: nproc {c['nproc']} heap {c['heap_max_mb']:.0f} MB "
              f"load {c['load_avg_start']:.2f}->{c['load_avg_end']:.2f} "
              f"steal {c['steal_share']:.3f}{' OVER BOUND' if c['steal_over_bound'] else ''} "
              f"busy {c['busy_share_excl_steal']:.3f} fixtures {c['fixtures_digest']}")
        layers = {k: v["value"] for k, v in m1.items()
                  if k.endswith(".jobs") and not k.startswith("spark.") and v["value"]}
        print(f"  jobs per pass by layer: {layers}")
        summary[w] = {"end_to_end": {k: m0[k] for k in END_TO_END},
                      "error_rate": d0["error_rate"], "n": d0["n"],
                      "latency_tail_percentile": d0["latency_tail_percentile"],
                      "tracing_overhead": 1 - traced / untraced,
                      "min_gap_ms": min(gaps), "correct": r0["correct"] and r1["correct"]}
    print(json.dumps(summary))
    return all(s["correct"] for s in summary.values())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"], default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--pin", action="store_true",
                    help="write the warm-up answers as the expected answers (seed 1)")
    a = ap.parse_args()
    build()
    if a.self_test:
        sys.stdout.write(run_java("perfbench.SelfTest", [], "selftest"))
        return
    if a.pin:
        for w in (WORKLOADS if a.workload == "all" else [a.workload]):
            run_one(w, 1, 1, 0, pin=True)
            log(f"pinned {w}")
        return
    if a.workload == "all":
        sys.exit(0 if run_all(a.seed, a.seconds) else 1)
    details, result = run_one(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(details))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
