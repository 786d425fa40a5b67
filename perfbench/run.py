#!/usr/bin/env python3
"""Outside-in benchmark of graft: builds the engine and the harness from
source, runs one workload in a fresh JVM with private directories, checks
the outputs and prints one JSON result as the last line of stdout.

    python3 perfbench/run.py --workload serve_search --seed 1 --seconds 10 --trace 0

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
RUNS = os.path.join(ROOT, ".bench_run")
OUT = os.path.join(ROOT, ".bench_out")
# Spark's distribution: $SPARK_HOME, else the one whose spark-submit is on PATH
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
    os.path.realpath(shutil.which("spark-submit") or "spark-submit")))
# the read-only sf0.1 tables the engine's own benches use
DATA = os.environ.get("GRAFTBENCH_DATA", os.path.expanduser("~/testdata/sf0.1"))
WORKLOADS = ("serve_search", "batch_suite")
CORES = 4
HEAP = "3g"
# a run ends within this
RUN_LIMIT_S = 170
# Files the runs themselves create; every other file of the checkout
# must be byte-identical after a run.
OWN_DIRS = {os.path.basename(BUILD), ".bench_run", ".bench_out", "__pycache__"}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Fixed heap, GC and compiler threads for every run. C1 only: Spark
# compiles new classes for every plan, and with C2 the timed window sat on
# the JIT's warm-up slope (see STEADINESS.md).
JVM_FLAGS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:ParallelGCThreads=2",
    "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2", "-XX:ReservedCodeCacheSize=256m",
    "-XX:+UseStringDeduplication", "-XX:TieredStopAtLevel=1",
] + [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    out = []
    for d, dirs, files in os.walk(root):
        dirs.sort()
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".scala")]
    return out


def spark_cp():
    jars = os.path.join(SPARK_HOME, "jars")
    if not os.path.isdir(jars):
        die(f"no Spark jars under {jars}")
    return os.path.join(jars, "*")


def compile_stage(name, srcs, classpath):
    """Compile `srcs` into BUILD/name unless its stamp already matches."""
    out = os.path.join(BUILD, name)
    h = hashlib.sha256(" ".join(classpath).encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, name + ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", spark_cp(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", os.pathsep.join(classpath)] + srcs
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        die(f"compiling {name} failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def build():
    engine_srcs = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_srcs = sources(os.path.join(BENCH, "src"))
    if not engine_srcs:
        die("no engine sources under src/main/scala: run from a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    engine = compile_stage("engine", engine_srcs, [spark_cp()])
    bench = compile_stage("harness", bench_srcs, [engine, spark_cp()])
    return [bench, engine, spark_cp()]


def tree_digest(root, skip=()):
    """sha256 over every regular file's path and content under root."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if not (d == root and x in skip))
        for f in sorted(files):
            p = os.path.join(d, f)
            if os.path.islink(p) or not os.path.isfile(p):
                continue
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def loadavg():
    try:
        return open("/proc/loadavg").read().split()[:3]
    except OSError:
        return None


def steal_ticks():
    """Clock ticks the hypervisor ran other guests on this VM's CPUs."""
    try:
        fields = open("/proc/stat").readline().split()
        return int(fields[8]) if fields[0] == "cpu" and len(fields) > 8 else None
    except (OSError, ValueError):
        return None


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def clean_stale_runs():
    """Remove the private dirs of runs whose process is gone (killed runs)."""
    if not os.path.isdir(RUNS):
        return
    for d in os.listdir(RUNS):
        pid = d.rsplit("-", 1)[-1]
        if not pid.isdigit() or not pid_alive(int(pid)):
            shutil.rmtree(os.path.join(RUNS, d), ignore_errors=True)


def tree_version():
    """The commit when the checkout is a git work tree, else a source digest."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, timeout=10)
        lines = r.stdout.decode().split()
        # a checkout that is not itself a work tree may sit inside one
        if r.returncode == 0 and os.path.realpath(lines[0]) == os.path.realpath(ROOT):
            return lines[1]
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha256()
    for f in sources(os.path.join(ROOT, "src", "main", "scala")) + sources(os.path.join(BENCH, "src")):
        h.update(open(f, "rb").read())
    return "src-" + h.hexdigest()[:16]


def keep_log(log_path, run_id):
    """Keep the JVM log of a failed run next to the other artifacts."""
    shutil.copy(log_path, os.path.join(OUT, run_id + ".jvm.log"))
    sys.stderr.write(open(log_path, errors="replace").read()[-4000:])


def run_jvm(args, classpath, run_id, launch_deadline):
    rdir = os.path.join(RUNS, run_id)
    dirs = {k: os.path.join(rdir, k) for k in ("tmp", "spark-local", "scratch", "work")}
    for d in dirs.values():
        os.makedirs(d)
    os.makedirs(OUT, exist_ok=True)
    out = os.path.join(rdir, "result.json")
    log_path = os.path.join(rdir, "jvm.log")
    launch_ms = int(time.time() * 1000)
    cmd = ["java"] + JVM_FLAGS + [
        f"-Djava.io.tmpdir={dirs['tmp']}", "-cp", os.pathsep.join(classpath), "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--cores", str(CORES), "--data", DATA,
        "--tmpdir", dirs["tmp"], "--spark-local", dirs["spark-local"],
        "--scratch", dirs["scratch"], "--workdir", dirs["work"],
        "--expected", os.path.join(BENCH, "expected"), "--record", "1" if args.record else "0",
        "--artifacts", os.path.join(OUT, run_id + "."), "--out", out,
        "--launch-ms", str(launch_ms)]
    env = dict(os.environ, TMPDIR=dirs["tmp"], SPARK_LOCAL_DIRS=dirs["spark-local"])
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=dirs["work"], stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            proc.wait(timeout=max(10, launch_deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            keep_log(log_path, run_id)
            die(f"{args.workload} did not finish in time")
        except BaseException:
            # interrupted or terminated: the JVM goes with this process
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if proc.returncode != 0 or not os.path.exists(out):
        keep_log(log_path, run_id)
        die(f"{args.workload} exited with {proc.returncode}")
    return json.load(open(out))


def on_term(signum, frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, on_term)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="rewrite perfbench/expected/<workload>.json from this run")
    p.add_argument("--self-test", action="store_true", help="run the benchmark's own tests")
    args = p.parse_args()
    if args.self_test:
        r = subprocess.run(["java", "-cp", os.pathsep.join(build()), "graftbench.SelfTest"], cwd=ROOT)
        sys.exit(r.returncode)
    if args.workload is None or args.seed is None or args.seconds is None:
        p.error("--workload, --seed and --seconds are required")
    t_start = time.time()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    if not os.path.isdir(DATA):
        die(f"data directory {DATA} not found (set GRAFTBENCH_DATA)")

    classpath = build()
    clean_stale_runs()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tree_before = tree_digest(ROOT, OWN_DIRS)
    data_before = tree_digest(DATA)
    load_before = loadavg()
    steal_before = steal_ticks()
    # a first run also builds; the limit covers the run itself
    deadline = time.time() + RUN_LIMIT_S
    try:
        res = run_jvm(args, classpath, run_id, deadline)
    finally:
        shutil.rmtree(os.path.join(RUNS, run_id), ignore_errors=True)
    load_after = loadavg()
    steal_after = steal_ticks()
    tree_same = tree_digest(ROOT, OWN_DIRS) == tree_before
    data_same = tree_digest(DATA) == data_before

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["layers"] if args.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            die(f"metric {m['name']} missing from the {args.workload} run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cores": CORES, "heap": HEAP,
        "data": DATA, "version": tree_version(), "loadavg_before": load_before,
        "loadavg_after": load_after, "repo_unchanged": tree_same, "data_unchanged": data_same,
        "steal_s": None if steal_before is None or steal_after is None
        else (steal_after - steal_before) / os.sysconf("SC_CLK_TCK"),
        "wall_s": round(time.time() - t_start, 3), **res["info"],
    }
    with open(os.path.join(OUT, run_id + ".env.json"), "w") as fh:
        json.dump(env, fh, indent=1, sort_keys=True)
    print(json.dumps({"env": env}, sort_keys=True))
    failed = int(res["failed"])
    print(json.dumps({
        "correct": failed == 0 and tree_same and data_same,
        "attempted": int(res["attempted"]),
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
