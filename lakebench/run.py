#!/usr/bin/env python3
"""Run one workload of the medallion lakehouse benchmark.

    python3 lakebench/run.py --workload live_ticks --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. The first run builds the program and
the benchmark harness from source with sbt (lakebench/build.sbt); later runs
reuse the build while the sources are unchanged. The first run after a build
also dumps a class-data-sharing archive of the classes it loaded, which later
runs map instead of loading the jars again (a few seconds of JVM start-up).
Everything the benchmark writes stays under `.bench_build/` in the checkout:
the build's classpath and class archive, the run's tables and checkpoints
(deleted when the run ends), and each run's result file, log and (traced)
spans.

Prints a human-readable report, then, as the last line of standard output,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# what the build reads: a change to any of these rebuilds
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "lakebench/build.sbt", "lakebench/project/build.properties", "lakebench/src/main"]


def fail(msg, code=1):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        top = os.path.join(ROOT, rel)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Build once per source state; return the run classpath."""
    for rel in ("build.sbt", "src/main/scala", "lakebench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"no {rel} under {ROOT}: run from the root of a source checkout", 2)
    stamp = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == digest:
            return cp.strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.server.forcestart=false",
                 f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}", "package",
                 "export Runtime/fullClasspathAsJars"],
                cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
                timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        out.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[") and ".jar" in l]
    if not lines:
        fail(f"build printed no classpath; see {log}")
    cp = lines[-1].strip()
    # the class-data archive belongs to the jars it was dumped from
    if os.path.exists(os.path.join(BUILD, "classes.jsa")):
        os.remove(os.path.join(BUILD, "classes.jsa"))
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


def run_jvm(cp, args, work, out, log):
    cds = os.path.join(BUILD, "classes.jsa")
    share = ([f"-XX:SharedArchiveFile={cds}"] if os.path.exists(cds)
             else [f"-XX:ArchiveClassesAtExit={cds}"])
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}"] + share + [
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", cp, "lakebench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out])
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=err, stderr=err,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def main():
    # a terminated driver still stops its JVM (see run_jvm's handler)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("no BENCHMARK.json at the checkout root", 2)
    with open(spec_path) as f:
        spec = json.load(f)

    cp = build()
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    results = os.path.join(BUILD, "results")
    work = os.path.join(BUILD, "work", f"{name}-{os.getpid()}")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(results, name + ".json")
    log = os.path.join(results, name + ".log")
    if os.path.exists(out):
        os.remove(out)
    try:
        code = run_jvm(cp, args, work, out, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run failed (exit {code}); see {log}")
    with open(out) as f:
        res = json.load(f)

    for line in res["lines"]:
        print(line)
    if args.trace:
        metrics = {m["name"]: {"value": res["layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        untraced = os.path.join(results, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]["latency_s"]
            traced = res["e2e"]["latency_s"]
            if base and traced:
                print(f"tracing overhead vs the untraced run: latency_s "
                      f"{base:.4f} -> {traced:.4f} s ({(traced / base - 1) * 100:+.1f}%)")
    else:
        metrics = {}
        for m in spec["end_to_end"]:
            v = res["e2e"].get(m["name"])
            if v is None:
                fail(f"run measured no {m['name']}")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for n, v in sorted(res["named"].items()):
        if n not in metrics:
            print(f"{args.workload} {n} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
