"""Pipeline benchmark: runs one seeded workload against the library's public
functions on a local Spark session and prints its metrics.

    python3 pipebench/run.py --workload curate_batch --seed 1 --seconds 10 --trace 0
    python3 pipebench/run.py --self-test

Run from the repo root. The first run compiles the library and the harness
(see build.py); inputs are generated from the seed and cached under the
build dir. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). Workload sizes, the offered rate and the
pinned JVM settings live in workloads.json.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # nothing written beside the sources

import build  # noqa: E402

# Spark 4 on JDK 17 needs these outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A run must end within this many seconds once built.
RUN_TIMEOUT_S = 170


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfg = json.load(fh)
    if not a.self_test:
        if a.workload not in cfg["workloads"] or a.seed is None or a.seconds is None:
            ap.error("--workload (one of %s), --seed and --seconds are required"
                     % ", ".join(cfg["workloads"]))
    try:
        classes = build.ensure()
        jars = build.spark_jars()
        java = build.java()
    except build.BuildError as e:
        print(f"[pipebench] cannot build: {e}", file=sys.stderr)
        return 2
    home = build.build_dir()
    tmp = os.path.join(home, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = cfg["jvm"]
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{jvm['heap']}", f"-Xmx{jvm['heap']}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "pipebench.Main", "--home", home, "--cores", str(cores()),
    ]
    if a.self_test:
        cmd.append("--self-test")
        params = cfg["self_test"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
        params = cfg["workloads"][a.workload]["params"]
    for k, v in sorted(params.items()):
        cmd += ["--param", f"{k}={v}"]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=build.ROOT,
                            start_new_session=True)
    result = None

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, lambda *_: (kill(), sys.exit(1)))
    timer = threading.Timer(RUN_TIMEOUT_S, kill)
    timer.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith('{"correct"'):
                result = line
            else:
                print(line, flush=True)
        rc = proc.wait()
    finally:
        timer.cancel()
        kill()
        proc.wait()
    if rc != 0:
        print(f"[pipebench] run failed with exit code {rc}", file=sys.stderr)
        return rc if rc > 0 else 1
    if a.self_test:
        return 0
    if result is None:
        print("[pipebench] the run printed no result", file=sys.stderr)
        return 1
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
