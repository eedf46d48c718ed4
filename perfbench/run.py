#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload doc_read --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from this checkout (sbt, once per source
change), generates the workload's inputs from the seed, runs one workload in
a fresh JVM on Spark local[N], checks every answer, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (see README.md).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
BUILD = os.path.join(BENCH, ".build")
WORKLOADS = ("doc_read", "corpus_build")
# the JVM's own limit, counted from its launch: the build and the input
# generation before it have their own time
JVM_TIMEOUT_S = 150

sys.dont_write_bytecode = True  # keep the checkout clean
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import checks  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no engine sources next to the benchmark")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g"]))
    log("building engine and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit(f"perfbench: sbt build failed ({proc.returncode})")
    classpath = lines[-1].strip()
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpu_ticks():
    """(steal, total) jiffies of the whole box, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            t = [int(x) for x in fh.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(classpath, args, run_dir):
    java = shutil.which("java") or "java"
    cmd = [java, "-Xmx3g", "-Xms3g", "-XX:+UseG1GC", *JVM_OPENS,
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dgraft.artifacts.dir={os.path.join(run_dir, 'artifacts')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main", *args]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # also on an interrupt or SIGTERM: the JVM never outlives the run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        raise SystemExit(f"perfbench: JVM exited with {code}")


def main():
    # SIGTERM unwinds like an exception, so the JVM is stopped and the run
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    # inputs are reused per seed only while the generator is unchanged
    with open(os.path.join(BENCH, "gen.py"), "rb") as fh:
        gen_id = hashlib.sha256(fh.read()).hexdigest()[:12]
    data_dir = os.path.join(WORK, "inputs", f"{a.workload}-{a.seed}-{gen_id}")
    gen.ensure(a.workload, a.seed, data_dir)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result_file = os.path.join(run_dir, "result.json")
        steal0, total0 = cpu_ticks()
        t0 = time.time()
        run_jvm(classpath, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                            data_dir, run_dir, result_file], run_dir)
        steal1, total1 = cpu_ticks()
        log(f"JVM ran {time.time() - t0:.1f} s")
        with open(result_file) as fh:
            rec = json.load(fh)
        # CPU time the hypervisor gave to other guests while this run ran
        rec["context"]["steal_pct"] = round(
            100.0 * (steal1 - steal0) / max(1, total1 - total0), 2)
        if a.workload == "corpus_build":
            t0 = time.time()
            checks.corpus_build(rec, data_dir, run_dir)
            log(f"oracles checked in {time.time() - t0:.1f} s")
        # the full record of the latest run, raw samples included
        with open(os.path.join(WORK, f"last-{a.workload}.json"), "w") as fh:
            json.dump(rec, fh)
        if a.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = checks.metric_names(os.path.join(ROOT, "BENCHMARK.json"), a.trace)
    missing = [m for m in wanted if m not in rec["metrics"]]
    if missing:
        raise SystemExit(f"perfbench: metrics missing from the run: {missing}")
    for e in rec["errors"]:
        log(f"wrong answer: {e}")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "context": rec["context"]}))
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m: rec["metrics"][m] for m in wanted},
    }))


if __name__ == "__main__":
    main()
