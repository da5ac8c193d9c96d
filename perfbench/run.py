#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and the
harness from source with sbt (perfbench/build.sbt) and records the classpath
under .bench_build/; later runs reuse that build while the sources are
unchanged. Each run starts a fresh JVM with its own temporary directory,
Spark local directory, state roots and checkpoints under .bench_build/runs/,
and removes them at the end.

The last line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end ones; with `--trace 1` the per-layer ones, and the span tree is
written to .bench_build/traces/. The exit code is 0 only when every operation
succeeded and every output matched its reference.

The workloads, the metric names and their units come from BENCHMARK.json at
the checkout root.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 700
# fixed heap (-Xms = -Xmx), so it never resizes during a run
JVM_HEAP = "2g"
# Spark task threads: half the 4 cores, leaving the rest to the driver, GC
# and JIT threads; with 4 the runs were no faster on this workload mix
CPUS = 2

# the library's build: JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def definitions():
    """The workloads and metrics, as BENCHMARK.json at the checkout root
    defines them."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, fs in os.walk(src):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build():
    """Builds once per source state; returns the runtime classpath."""
    required = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "data", "sf0.01")]
    missing = [p for p in required if not os.path.exists(p)]
    if missing:
        fail("not a complete checkout; missing " + ", ".join(os.path.relpath(p, ROOT) for p in missing))
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh, open(cp_file) as fc:
            cp = fc.read().strip()
            if fh.read().strip() == stamp and all(os.path.exists(e) for e in cp.split(os.pathsep)):
                return cp
    os.makedirs(BUILD, exist_ok=True)
    # sbt keeps its global state, locks and temporary files in the checkout
    sbt_home = os.path.join(ROOT, ".bench_build", "sbt")
    os.makedirs(os.path.join(sbt_home, "tmp"), exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(sbt_home, 'global')}",
           f"-Dsbt.ivy.home={os.path.join(sbt_home, 'ivy2')}", "-Dsbt.boot.lock=false",
           f"-Djava.io.tmpdir={os.path.join(sbt_home, 'tmp')}",
           f"-Djna.tmpdir={os.path.join(sbt_home, 'tmp')}", "-J-XX:-UsePerfData",
           "compile", "export perfbench/Runtime/fullClasspath"]
    print("perfbench: building with sbt", file=sys.stderr)
    p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip() + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return cps[-1].strip()


def run_jvm(args, cp):
    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local, work = (os.path.join(run_dir, d) for d in ("tmp", "local", "work"))
    for d in (tmp, local, work):
        os.makedirs(d)
    out = os.path.join(run_dir, "result.json")
    trace_out = os.path.join(ROOT, ".bench_build", "traces", f"{args.workload}-seed{args.seed}.json")
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={local}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--bench-dir", HERE,
            "--work-dir", work, "--out", out]
    if args.trace:
        cmd += ["--trace-out", trace_out]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr.fileno(), stderr=sys.stderr.fileno(),
                            start_new_session=True)
    t0 = time.monotonic()
    try:
        proc.wait(timeout=RUN_TIMEOUT_S)
        ru = resource.getrusage(resource.RUSAGE_CHILDREN)
        print(f"perfbench: jvm wall_s = {time.monotonic() - t0:.2f}, "
              f"cpu_s = {ru.ru_utime + ru.ru_stime:.2f}", file=sys.stderr)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        # on a timeout or a signal the JVM (its own session) must not outlive us
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
    try:
        with open(out) as fh:
            res = json.load(fh)
    except (OSError, ValueError):
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"the JVM exited with code {proc.returncode} and no result", 5)
    shutil.rmtree(run_dir, ignore_errors=True)
    return res


def main():
    # SIGTERM unwinds like Ctrl-C, through run_jvm's clean-up
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    defs = definitions()
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in defs["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=defs["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")

    cp = build()
    print(f"perfbench: {args.workload} seed {args.seed}, {args.seconds} s, trace {args.trace}",
          file=sys.stderr)
    res = run_jvm(args, cp)
    units = {m["name"]: m["unit"] for m in defs["per_layer" if args.trace else "end_to_end"]}
    got = res["metrics"]
    unknown = sorted(set(got) - set(units))
    if unknown:
        fail("metrics missing from BENCHMARK.json: " + ", ".join(unknown), 6)
    metrics = {}
    for n, u in units.items():
        v = got.get(n)
        if v is None:
            if not args.trace:
                fail(f"end-to-end metric {n} was not measured", 6)
            v = 0.0  # a per-layer figure the workload has no events for
        metrics[n] = {"value": v, "unit": u}
    for k, v in sorted(res.get("notes", {}).items()):
        print(f"perfbench: {k} = {v}", file=sys.stderr)
    for e in res.get("errors", []):
        print(f"perfbench: {e}", file=sys.stderr)
    correct = res["failed"] == 0 and not res.get("errors")
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0 if correct else 1

if __name__ == "__main__":
    sys.exit(main())
