#!/usr/bin/env python3
"""graft's benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload retail_daily --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source (sbt, offline) into perfbench/target; later runs
reuse the build until a source file changes. Every run gets a fresh work
directory under .perfbench_work/ in the checkout (lake, Spark scratch,
JVM temp files), removed when the run ends.

The last line of stdout is the result:
    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {value, unit}}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md). The exit code is non-zero when
any output was wrong or any op failed.

    --artifact PATH   also write config, result and spans of the run to PATH
    --record          print the current code's expected outputs (see README)
"""
import argparse
import json
import multiprocessing
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected")
CLASSPATH = os.path.join(BENCH, "target", "perfbench-classpath.txt")
WORKLOADS = ("retail_daily", "query_mix")
HEAP = "3g"  # fixed: the main build's default -Xmx32g exceeds small hosts
JVM_LIMIT_S = 160  # the whole run must end within 180 s
BUILD_LIMIT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src", "main", "scala")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")


def build(work):
    """Compile with sbt (offline) when any source is newer than the cached
    classpath; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala: run from a checkout of the repository")
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if not os.path.isdir(os.path.join(env.get("SPARK_HOME", ""), "jars")):
        fail("no Spark installation: set SPARK_HOME")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                           stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
    lines = [l.strip() for l in open(log) if ".jar" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"build failed (exit {p.returncode})")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def _spin(seconds, out):
    end = time.perf_counter() + seconds
    n = 0
    while time.perf_counter() < end:
        n += 1
    out.put(n)


def effective_cores(n, seconds=0.25):
    """Work n spinning processes get done, in units of one process alone:
    the cores this host actually delivers right now."""
    q = multiprocessing.Queue()

    def spin(k):
        ps = [multiprocessing.Process(target=_spin, args=(seconds, q)) for _ in range(k)]
        for p in ps:
            p.start()
        total = sum(q.get() for _ in ps)
        for p in ps:
            p.join()
        return total

    single = spin(1)
    return round(spin(n) / single, 3) if single else -1.0


def host_state(n):
    return {"loadavg_1m": os.getloadavg()[0], "effective_cores": effective_cores(n)}


def cpu_jiffies():
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def jvm(cp, work, cores, args, limit):
    """Run perfbench.Main; return its stdout lines. Kills the JVM's whole
    process group if it outlives `limit`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed set of JIT compiler threads, whose CPU time perfbench.Cpu
    # leaves out of the ops'
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--data", DATA, "--work", work,
              "--cores", str(cores)] + args)
    err_path = os.path.join(work, "jvm.err")
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             cwd=work, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(10, limit))
        except subprocess.TimeoutExpired:
            fail(f"the JVM did not finish within {limit:.0f} s")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    problems = [l for l in open(err_path) if l.startswith("[perfbench]")]
    sys.stderr.write("".join(problems))
    if p.returncode != 0:
        sys.stderr.write("".join(open(err_path).readlines()[-30:]))
        fail(f"the JVM exited with {p.returncode}")
    return out.splitlines()


def record(cp, work, cores):
    """Print the expected values of the current code, computed at two core
    counts; a value that differs between them is left out."""
    for what in ("queries", "retail_daily"):
        runs = []
        for c in dict.fromkeys([cores, max(1, cores // 2)]):
            lines = jvm(cp, work, c, ["--record", what], 3600)
            runs.append({l.split("\t")[1]: l.split("\t")[2:] for l in lines if l.startswith("REC\t")})
        for key in sorted(runs[0]):
            vals = [r.get(key, ["missing"])[0] for r in runs]
            stable = len(set(vals)) == 1 and vals[0] != "ERROR"
            print("\t".join([what, key] + runs[0][key] + ([] if stable else ["UNSTABLE"])))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--artifact")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not a.record and not a.workload:
        ap.error("--workload is required")
    for need in (DATA, os.path.join(EXPECTED, "queries.tsv"), os.path.join(EXPECTED, "retail_daily.tsv")):
        if not a.record and not os.path.exists(need):
            fail(f"missing {need}")
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload or 'record'}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cp = build(work)
        if a.record:
            record(cp, work, cores)
            return 0
        t0 = time.perf_counter()
        before = host_state(cores)
        steal0, total0 = cpu_jiffies()
        lines = jvm(cp, work, cores, ["--workload", a.workload, "--seed", str(a.seed),
                                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                                      "--expected", EXPECTED], JVM_LIMIT_S)
        steal1, total1 = cpu_jiffies()
        after = host_state(cores)
        conf = next((json.loads(l.split(" ", 1)[1]) for l in lines if l.startswith("perfbench-config ")), {})
        conf.update({"data": os.path.relpath(DATA, ROOT), "nproc": cores, "heap": HEAP, "git_commit": git_commit(),
                     "host_before": before, "host_after": after,
                     "run_wall_s": round(time.perf_counter() - t0, 3),
                     "cpu_steal_frac": round((steal1 - steal0) / max(1, total1 - total0), 4)})
        result = json.loads(lines[-1])
        print("config " + json.dumps(conf, sort_keys=True))
        for name, m in result["metrics"].items():
            print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
        if a.artifact:
            spans = os.path.join(work, "spans.jsonl")
            with open(a.artifact, "w") as f:
                json.dump({"config": conf, "result": result}, f, indent=1, sort_keys=True)
                f.write("\n")
            if os.path.exists(spans):
                shutil.copyfile(spans, a.artifact + ".spans.jsonl")
        print(json.dumps(result))
        return 0 if result["correct"] and result["failed"] == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
