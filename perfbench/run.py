#!/usr/bin/env python3
"""Run one workload of the json2hbase benchmark and print its result.

    python3 perfbench/run.py --workload ingest|serve|olap --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the engine and
the harness from source with sbt (offline) into `.bench_build/`; later
runs reuse that build while the sources are unchanged. Each run starts
one JVM at local[<cores>], sets up, warms up, measures for S seconds,
checks every output, and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`. The metric names and
units are the ones BENCHMARK.json lists: `end_to_end` with --trace 0,
`per_layer` with --trace 1 (a layer the workload does not exercise
reads 0). Per-run files, including the traced run's spans, go to
`.bench_results/<time>-<workload>-s<seed>-t<trace>/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
RESULTS = os.path.join(ROOT, ".bench_results")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs the module openings
# spark-submit would add (the engine's build.sbt passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Hash of every build input, so an edited source forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine and harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("engine sources (build.sbt, src/main/scala) not found beside perfbench/")
    fp = fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint")
    if os.path.isfile(cp_file) and os.path.isfile(fp_file):
        with open(fp_file) as f:
            if f.read() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    try:
        p = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp


def contract():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        return json.load(f)


def run_jvm(cp, args, work, out, limit_s):
    java = shutil.which("java")
    if java is None:
        die("java not found on PATH")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: G1 does not resize it mid-run
    cmd = [java, *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out,
           "--expected", os.path.join(HERE, "expected", "olap.tsv")]
    if args.record_expected:
        cmd.append("--record-expected")
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {limit_s:.0f} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        die(f"benchmark JVM exited with {proc.returncode}", 3)
    lines = stdout.strip().splitlines()
    if not lines:
        die("benchmark JVM printed no result", 3)
    for line in lines[:-1]:
        print(line)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "serve", "olap"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="olap: write expected/olap.tsv from this run instead of checking it")
    args = ap.parse_args()

    spec = contract()
    cp = build()
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    out = os.path.join(RESULTS, f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(cp, args, work, out, RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = raw["metrics"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in got:
            value = got[name]["value"]
        elif args.trace:
            value = 0  # the workload does not exercise this layer
        else:
            die(f"metric {name} missing from the run", 3)
        if value is None:
            die(f"metric {name} has no value", 3)
        metrics[name] = {"value": value, "unit": m["unit"]}
    line = {"correct": bool(raw["correct"]), "attempted": int(raw["attempted"]),
            "failed": int(raw["failed"]), "metrics": metrics}
    with open(os.path.join(out, "line.json"), "w") as f:
        json.dump(line, f)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
