#!/usr/bin/env python3
"""Repository benchmark: the paper's ER pipeline and a library query mix.

Usage (from the repository root):

    python3 benchmark/run.py --workload er_exhaustive --seed 1 --seconds 10 --trace 0

Workloads: er_exhaustive, library_mix (see
benchmark/README.md). The script builds the library and the harness with
sbt when their sources changed, generates the inputs from the seed, runs
the workload in a fresh JVM whose session set-up it times, checks every
output, and prints each metric, the check verdict, and as its
last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Everything it writes stays under .bench_build/ in the
repository; the full record of a run, host state included, goes to
.bench_build/artifacts/.
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
WORKLOADS = ("er_exhaustive", "library_mix")
QUERIES = os.path.join(HERE, "library", "queries.tsv")
HEAP = "3g"
LIBRARY_SEED, LIBRARY_SF = "42", "0.02"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


# ----------------------------------------------------------------- build

def source_stamp():
    """Hash of everything the build reads from the repository."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, names in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            cp = fh.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, stamp
    log(f"building (source stamp {stamp})")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if l.startswith("/") and os.pathsep in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    return cps[-1], stamp


# ------------------------------------------------------------------- host

def cpu_times():
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return {"total": sum(f[:8]), "iowait": f[4], "steal": f[7] if len(f) > 7 else 0}


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def host_stamp(start, end, cores):
    total = max(1, end["cpu"]["total"] - start["cpu"]["total"])
    return {
        "cores": cores,
        "heap": HEAP,
        "loadavg_start": start["load"],
        "loadavg_end": end["load"],
        "iowait_share": (end["cpu"]["iowait"] - start["cpu"]["iowait"]) / total,
        "steal_share": (end["cpu"]["steal"] - start["cpu"]["steal"]) / total,
    }


# -------------------------------------------------------------------- jvm

class Jvm:
    def __init__(self, cp, tmp, cores):
        self.cp, self.tmp = cp, tmp
        os.makedirs(tmp, exist_ok=True)
        self.env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=tmp)

    def cmd(self, *args):
        opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        return (["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={self.tmp}",
                 "-Dspark.ui.enabled=false"] + opens + ["-cp", self.cp, "perf.Main"] + list(args))

    def run(self, log_path, *args, timeout=170):
        """Run to completion; return (seconds from spawn to READY or None, stdout)."""
        t0 = time.time_ns()
        with open(log_path, "ab") as err:
            proc = subprocess.Popen(self.cmd(*args), env=self.env, cwd=ROOT,
                                    stdout=subprocess.PIPE, stderr=err, text=True)
            try:
                out, _ = proc.communicate(timeout=timeout)
            except BaseException as e:
                proc.kill()
                proc.wait()
                if isinstance(e, subprocess.TimeoutExpired):
                    fail(f"{args[0]} timed out; see {log_path}")
                raise
        if proc.returncode != 0:
            with open(log_path, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-30:]))
            fail(f"{args[0]} exited with {proc.returncode}")
        ready = [int(l.split()[1]) for l in out.splitlines() if l.startswith("READY ")]
        return ((ready[0] - t0) / 1e9 if ready else None), out


# ---------------------------------------------------------------- metrics

def unit(name):
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb") or leaf.endswith("_mb_held"):
        return "MB"
    if leaf == "bytes":
        return "B"
    if leaf in ("precision", "recall", "yield", "refind_ratio", "task_skew", "core_idle_share"):
        return "ratio"
    return "count"


def main():
    # A terminated run still stops its JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no library sources next to the benchmark (looked in {ROOT})", 2)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required", 2)

    cores = len(os.sched_getaffinity(0))
    os.makedirs(BUILD, exist_ok=True)
    cp, stamp = build()

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", run_id)
    tmp = os.path.join(BUILD, "tmp", run_id)
    os.makedirs(work, exist_ok=True)
    jvm = Jvm(cp, tmp, cores)
    jlog = os.path.join(work, "jvm.log")
    start = {"cpu": cpu_times(), "load": loadavg()}
    try:
        # Inputs, outside every timed figure.
        g0 = time.time()
        if a.workload == "library_mix":
            data = os.path.join(BUILD, f"library-sf{LIBRARY_SF}-seed{LIBRARY_SEED}-{stamp}")
            if not os.path.isdir(data):
                part = data + f".part{os.getpid()}"
                jvm.run(jlog, "gen-library", "--seed", LIBRARY_SEED, "--sf", LIBRARY_SF, "--out", part)
                os.rename(part, data)
        else:
            data = os.path.join(work, "data")
            jvm.run(jlog, "gen-er", "--workload", a.workload, "--seed", str(a.seed), "--out", data)
        gen_s = time.time() - g0

        # Set-up: the workload JVM's process start to its ready session.
        out_file = os.path.join(work, "result.json")
        t0 = time.time()
        ready, _ = jvm.run(jlog, "run", "--workload", a.workload, "--seconds", str(a.seconds),
                           "--trace", str(a.trace), "--data", data, "--work", work,
                           "--queries", QUERIES, "--out", out_file)
        run_s = time.time() - t0
        with open(out_file) as fh:
            res = json.load(fh)
    finally:
        end = {"cpu": cpu_times(), "load": loadavg()}
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    metrics = dict(res["metrics"])
    if a.trace == 0:
        metrics = {"setup_s": ready, **metrics}
    report = {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}
    host = host_stamp(start, end, cores)
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "source_stamp": stamp, "input_s": gen_s, "run_s": run_s,
        "host": host, "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"], "metrics": report, "detail": res["detail"],
    }
    adir = os.path.join(BUILD, "artifacts")
    os.makedirs(adir, exist_ok=True)
    with open(os.path.join(adir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)

    for k, m in report.items():
        print(f"{k:40s} {m['value']!s:>24} {m['unit']}")
    share = res["failed"] / max(1, res["attempted"])
    print(f"check: {'PASS' if res['correct'] else 'FAIL'}  attempted={res['attempted']} "
          f"failed={res['failed']} failed_share={share:.4f}  host: load={host['loadavg_end'][0]} "
          f"steal={host['steal_share']:.4f} iowait={host['iowait_share']:.4f}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": report}))


if __name__ == "__main__":
    main()
