#!/usr/bin/env python3
"""Benchmark launcher: build the engine and the benchmark from source, run one
workload in a fresh JVM, print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 4 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the line before it holds the
run's provenance. See perfbench/README.md for workloads and metrics.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("lookup", "ann", "curate")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so an unchanged tree skips it."""
    h = hashlib.sha256()
    inputs = [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, fs in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(fs)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    return env


def jvm_cmd(classpath, scratch, workload, seed, seconds, trace, cds_flag):
    """The JVM launch of one workload; `scratch` holds everything it writes."""
    cores = len(os.sched_getaffinity(0))
    return (["java"] +
            [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
            [cds_flag, "-Xms3g", "-Xmx3g",
             "-Dgraft.derived.root=" + os.path.join(scratch, "derived"),
             "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
             "-Dspark.local.dir=" + os.path.join(scratch, "spark-local"),
             "-Dspark.ui.enabled=false",
             "-cp", classpath, "perfbench.Main",
             "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(trace),
             "--dir", os.path.join(scratch, "data"), "--cores", str(cores)])


def fresh_dir(name):
    d = os.path.join(BUILD, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def build():
    """Compile engine + benchmark once per source state, then archive the
    classes every workload loads (JVM class data sharing: without it, class
    loading is a third of a run). Returns (classpath, archive)."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    archive = os.path.join(BUILD, "classes.jsa")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp and os.path.exists(archive):
            return cached["classpath"], archive
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=600)
    lines = proc.stdout.splitlines()
    cp = [l.strip() for l in lines if ".jar" in l and os.pathsep in l
          and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    classpath = cp[-1]
    # one untimed run that sets up and warms up every workload; the JVM
    # writes the classes it loaded to the archive as it exits
    if os.path.exists(archive):
        os.remove(archive)
    scratch = fresh_dir("prime")
    cmd = jvm_cmd(classpath, scratch, "prime", 1, 0, 0,
                  "-XX:ArchiveClassesAtExit=" + archive)
    with open(os.path.join(BUILD, "prime.log"), "w") as log:
        prime = subprocess.run(cmd + ["--spawn-ms", "0"], cwd=scratch,
                               stdout=log, stderr=log, timeout=280)
    shutil.rmtree(scratch, ignore_errors=True)
    if prime.returncode != 0 or not os.path.exists(archive):
        die("priming run failed; log: " + os.path.join(BUILD, "prime.log"))
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath, archive


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no engine sources under src/main/scala/graft: "
            "run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    classpath, archive = build()

    scratch = fresh_dir(f"{args.workload}-{args.seed}")
    log_dir = os.path.join(BUILD, "logs")
    os.makedirs(log_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    log_path = os.path.join(log_dir, tag + ".log")
    trace_out = os.path.join(BUILD, "traces", tag + ".json")
    cmd = jvm_cmd(classpath, scratch, args.workload, args.seed, args.seconds,
                  args.trace, "-XX:SharedArchiveFile=" + archive)
    cmd += ["--trace-out", trace_out]

    load_before = os.getloadavg()
    spawn_ms = int(time.time() * 1000)
    cmd += ["--spawn-ms", str(spawn_ms)]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(scratch, ignore_errors=True)
            die("interrupted")

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            out = ""
    load_after = os.getloadavg()
    shutil.rmtree(scratch, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"{args.workload} run failed (exit {proc.returncode}); log: {log_path}")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])

    provenance = {
        "provenance": {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "git_commit": git_commit(), "nproc": os.cpu_count(),
            "cores_used": len(os.sched_getaffinity(0)),
            "jvm": res["info"]["jvm"],
            "spark": res["info"]["spark"],
            "loadavg_before": load_before, "loadavg_after": load_after,
            "timed_ops": res["timed_ops"], "session_s": res["session_s"],
            "setup_s": res["setup_s"],
            "failures": res["failures"], "kind_p50_ms": res["kind_p50_ms"],
            "trace_file": trace_out if args.trace else None,
        }
    }
    print(json.dumps(provenance))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
