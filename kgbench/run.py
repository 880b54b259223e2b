#!/usr/bin/env python3
"""KG-build benchmark: builds the program from source, runs one workload
in its own JVM and prints the result as the last line of stdout.

Usage (from the repository root):
  python3 kgbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: bulk_build, incremental, scale_out, or `all`, which runs the
three in turn and ends with every metric they printed, by name (prefixed
with the workload) and unit.

The last line is one JSON object with `correct`, `attempted`, `failed`
and `metrics`. Lines before it: `report {...}` (every named metric the
workload measures), `record {...}` (machine state around the run) and,
for traced runs, `trace {...}` (where the spans were written).
Exit code: 0 on a correct run, 1 when a check or call failed, 2 when the
build failed, 3 on timeout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "kgbench")
# Class-data-sharing archive of the classes a run loads, dumped by a
# training run (one incremental run) after each compile and mapped by
# every run: it takes several seconds of class loading off each JVM
# start. A build without it is a failed build.
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORK = os.path.join(HERE, "work")
WORKLOADS = ["bulk_build", "incremental", "scale_out"]
JVM_TIMEOUT_S = 165

# Spark on JDK 17 outside spark-submit needs these (the module options
# spark-submit would inject).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            return None
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def other_jvms():
    n = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit() and int(pid) != os.getpid():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    n += f.read().strip() == "java"
            except OSError:
                pass
    return n


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies():
    """(total, steal) CPU jiffies so far; steal is time the host gave away."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def heap():
    """JVM heap: a quarter of memory, between 2 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return f"{max(2, min(4, kb // (4 * 1024 * 1024)))}g"


def build(jars):
    """Compiles (when the sources changed) and dumps the archive."""
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], cwd=ROOT,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        return False
    if not os.path.exists(ARCHIVE):
        code, _ = run_jvm("incremental", 0, 1, 0, jars, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
        if code != 0 or not os.path.exists(ARCHIVE):
            if os.path.exists(ARCHIVE):
                os.remove(ARCHIVE)
            print(f"build: the class-data-sharing training run failed (exit {code})",
                  file=sys.stderr)
            return False
    return True


def run_jvm(workload, seed, seconds, trace, jars, cds=None):
    """Runs one workload; returns (exit code, stdout lines)."""
    cds = cds or f"-XX:SharedArchiveFile={ARCHIVE}"
    work = os.path.join(WORK, f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{heap()}", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    cmd += ["-Xlog:disable", cds]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{BUILD}/kgbench.jar:{jars}/*", "kgbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--cores", str(nproc())]
    log = os.path.join(WORK, f"{workload}-s{seed}-t{trace}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            code = p.returncode
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            out, _ = p.communicate()
            code = 3
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if code != 0:
        with open(log) as f:
            tail = f.read().splitlines()[-40:]
        print("\n".join(["jvm stderr (tail):"] + tail), file=sys.stderr)
    return code, lines


def one(workload, seed, seconds, trace, jars):
    before = {"loadavg": loadavg(), "other_jvms": other_jvms()}
    t0, cpu0 = time.time(), cpu_jiffies()
    code, lines = run_jvm(workload, seed, seconds, trace, jars)
    cpu1 = cpu_jiffies()
    record = {"workload": workload, "seed": seed, "trace": trace, "nproc": nproc(),
              "wall_s": round(time.time() - t0, 3),
              "cpu_steal_pct": round(100 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]), 2),
              "loadavg_before": before["loadavg"], "loadavg_after": loadavg(),
              "other_jvms_before": before["other_jvms"], "other_jvms_after": other_jvms()}
    result = None
    for line in lines:
        if line.startswith('{"correct"'):
            result = json.loads(line)
        elif line.startswith("record "):
            record.update(json.loads(line[len("record "):]))
        else:
            print(line)
    print("record " + json.dumps(record))
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"record": record, "result": result}) + "\n")
    return code, result, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    jars = spark_jars()
    if jars is None or not os.path.isdir(jars) or not build(jars):
        print("build failed", file=sys.stderr)
        return 2
    if a.workload != "all":
        code, result, _ = one(a.workload, a.seed, a.seconds, a.trace, jars)
        if result is None:
            return code or 1
        print(json.dumps(result))
        return code

    summary, attempted, failed, correct, code = {}, 0, 0, True, 0
    for w in WORKLOADS:
        c, result, lines = one(w, a.seed, a.seconds, 0, jars)
        code = code or c
        if result is None:
            correct = False
            continue
        correct &= result["correct"]
        attempted += result["attempted"]
        failed += result["failed"]
        for k, v in result["metrics"].items():
            summary[f"{w}.{k}"] = v
        for line in lines:
            if line.startswith("report "):
                for k, v in json.loads(line[len("report "):]).items():
                    summary.setdefault(f"{w}.{k}", v)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": summary}))
    return code


if __name__ == "__main__":
    sys.exit(main())
