"""Benchmark entry point.

    python3 perfbench/run.py --workload <flagship_scan|query_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (see build.py), runs one workload in a fresh
JVM on local[nproc] with a run-private temp directory, prints host facts and
the workload's own figures, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. Exits non-zero on a build
failure, a run failure or an output mismatch.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
# the repository's seeded scale-factor-0.001 tables that query_mix reads
SF_DIR = HERE / "data" / "sf0.001"
JVM_TIMEOUT_S = 170
# fixed-size heap and generations under the throughput collector: the heap
# never resizes, so peak RSS tracks what the run touched rather than the
# collector's sizing decisions
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def loadavg():
    return [round(x, 2) for x in os.getloadavg()]


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (the steal column of /proc/stat), or None where it is not available."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (see the cleanup below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    steal0 = steal_s()
    host = {"nproc": nproc(), "loadavg_start": loadavg(), "git_sha": git_sha(), "seed": a.seed,
            "workload": a.workload, "seconds": a.seconds, "trace": a.trace}
    try:
        t0 = time.time()
        classes = build.build()
        host["build_s"] = round(time.time() - t0, 3)
        host["source_sha256"] = classes.name.split("-", 1)[1]
        java = build.java()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    run_dir = ROOT / ".bench_run" / str(os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    work = run_dir.relative_to(ROOT) / "work"
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-XX:-UsePerfData", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", f"{classes}{os.pathsep}{jars / '*'}",
        "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(host["nproc"]),
        # relative, so the scale factor parsed from the path is the table's own
        "--work", str(work), "--data", str(SF_DIR.relative_to(ROOT)),
        "--pinned", str(HERE / "query_counts.json"),
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] run exceeded {JVM_TIMEOUT_S} s and was stopped", file=sys.stderr)
        return 3
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            (ROOT / ".bench_run").rmdir()
        except OSError:
            pass

    result = None
    for line in out.splitlines():
        if line.startswith("REPORT "):
            print(line[len("REPORT "):])
        elif line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
    host["loadavg_end"] = loadavg()
    steal1 = steal_s()
    host["steal_s"] = None if steal0 is None or steal1 is None else round(steal1 - steal0, 2)
    print(json.dumps({"host": host}))
    if result is None:
        print(f"[perfbench] no result (exit code {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    print(json.dumps(result))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
