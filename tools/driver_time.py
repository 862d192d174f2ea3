"""Split each timed pipebench pass into time with a Spark job running and
driver time with no job running.

    python3 tools/driver_time.py --workload camera_export --seed 7 --seconds 8

Run from the repo root. It starts `pipebench.Main` with the arguments
`pipebench/run.py` gives it for an untraced run (same JVM flags, heap,
cores and workload params) plus a Spark event log
(`-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false
-Dspark.eventLog.dir=...`), and stamps each `pass i untraced S s` line as
it arrives: pass i is the S seconds that end there. From the event log it
then reports, per pass, the jobs that started in it, the time at least
one job was running (job-busy) and the rest (no job: planning, job
launch, result handling and the benchmark's own driver work). The event
log (one file, or a dir of rolling files) is left in --log-dir (default:
a fresh temp dir) for a closer look.
The last stdout line is the run's own result JSON.
"""
import argparse
import glob
import json
import os
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "pipebench"))
sys.dont_write_bytecode = True

import build  # noqa: E402
import run  # noqa: E402


def command(workload, seed, seconds, log_dir):
    """run.py's command for an untraced run, with an event log."""
    with open(os.path.join(run.HERE, "workloads.json")) as fh:
        cfg = json.load(fh)
    home = build.build_dir()
    tmp = os.path.join(home, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = cfg["jvm"]["heap"]
    cmd = [build.java()] + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{heap}", f"-Xmx{heap}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(run.HERE, 'log4j2.properties')}",
        "-Dspark.eventLog.enabled=true", "-Dspark.eventLog.compress=false",
        f"-Dspark.eventLog.dir={log_dir}",
        "-cp", build.ensure() + os.pathsep + os.path.join(build.spark_jars(), "*"),
        "pipebench.Main", "--home", home, "--cores", str(run.cores()),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    for k, v in sorted(cfg["workloads"][workload]["params"].items()):
        cmd += ["--param", f"{k}={v}"]
    return cmd


def events(event_log):
    """The log's events: one file, or a rolling log's dir of `events_<n>_*`
    files (Spark 4's default) read in order."""
    files = [event_log]
    if os.path.isdir(event_log):
        files = sorted(glob.glob(os.path.join(event_log, "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
    for f in files:
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


def job_spans(event_log):
    """(start, end) seconds of every job in the log."""
    start, end = {}, {}
    for e in events(event_log):
        if e["Event"] == "SparkListenerJobStart":
            start[e["Job ID"]] = e["Submission Time"] / 1e3
        elif e["Event"] == "SparkListenerJobEnd":
            end[e["Job ID"]] = e["Completion Time"] / 1e3
    return sorted((s, end[j]) for j, s in start.items() if j in end)


def split(window, jobs):
    """Jobs started in the window and the seconds of it some job covers."""
    lo, hi = window
    busy, cursor, started = 0.0, lo, 0
    for s, e in jobs:
        started += lo <= s < hi
        s, e = max(s, cursor), min(e, hi)
        if e > s:
            busy += e - s
            cursor = e
    return started, busy


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--log-dir")
    a = ap.parse_args()
    log_dir = a.log_dir or tempfile.mkdtemp(prefix="eventlog-")
    os.makedirs(log_dir, exist_ok=True)
    before = set(glob.glob(os.path.join(log_dir, "*")))
    proc = subprocess.Popen(command(a.workload, a.seed, a.seconds, log_dir),
                            stdout=subprocess.PIPE, text=True, cwd=build.ROOT)
    passes, result = [], None
    for line in proc.stdout:
        now = time.time()
        words = line.split()
        if words[1:2] == ["pass"] and words[3:4] == ["untraced"]:
            passes.append((now - float(words[4]), now))
        if line.startswith('{"correct"'):
            result = line.strip()
        else:
            print(line, end="", flush=True)
    if proc.wait() != 0 or result is None:
        print(f"[driver_time] run failed with exit code {proc.returncode}", file=sys.stderr)
        return 1
    logs = sorted(set(glob.glob(os.path.join(log_dir, "*"))) - before)
    if len(logs) != 1:
        print(f"[driver_time] expected one new event log in {log_dir}, found {logs}", file=sys.stderr)
        return 1
    jobs = job_spans(logs[0])
    print(f"[driver_time] event log {logs[0]}")
    for i, w in enumerate(passes):
        started, busy = split(w, jobs)
        wall = w[1] - w[0]
        print(f"[driver_time] pass {i}: {wall:.3f} s, {started} jobs, job-busy {busy:.3f} s, "
              f"no job {wall - busy:.3f} s ({(wall - busy) / wall:.0%})")
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
