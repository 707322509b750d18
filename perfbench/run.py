#!/usr/bin/env python3
"""Run one benchmark workload against the loader in this checkout.

    python3 perfbench/run.py --workload cron_hourly --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run builds the loader and the
harness with sbt (offline, from the local dependency caches) and stores the
runtime classpath under perfbench/.build/; later runs reuse it until a
source or build file changes. Each run then starts one JVM, whose last
stdout line is the result JSON. Extra options:

    --workload all       run cron_hourly, backfill and query_battery in one
                         process and session (metrics prefixed by workload)
    --record 1           battery: sweep all 172 queries and write their
                         expected hashes instead of checking them
                         (see README.md)
    --overhead 1         run untraced, then traced, and print the tracing
                         overhead of the wall cron_p50_s (cron_hourly) or
                         battery_wall_s (query_battery)

Exit status: 0 when every output was correct, non-zero otherwise or when
the loader's sources are missing.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
# a benchmark run ends within 180 s; recording (a full sweep) or all
# workloads take longer
RUN_TIMEOUT_S, LONG_TIMEOUT_S = 170, 1800
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def sources():
    """Every file the build reads: the loader's sources and the harness's."""
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            for f in fs:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(HERE, f)


def build():
    """Compile with sbt when the stored classpath is older than a source."""
    newest = max(os.path.getmtime(p) for p in sources())
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = env.get("SBT_OPTS", "")
    for flag in ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"] + (
            ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
            if os.path.exists(repos) else []):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.stdout.splitlines() if "scala-2.13" in l and ":" in l
             and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        sys.exit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def run_jvm(cp, args, trace):
    """One JVM run; returns (exit code, result dict or None, named metrics)."""
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dderby.stream.error.file=" + os.path.join(work, "derby.log")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace), "--work", work,
            "--fixture", os.path.join(HERE, "fixture", "sf0.01"),
            "--expected", os.path.join(HERE, "fixture", "expected_hashes.json"),
            "--record", str(args.record)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    last, named = [None], {}

    def read():
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last[0] = line
            else:
                print(line, flush=True)
                parts = line.split()
                if len(parts) >= 4 and parts[0] == "metric":
                    named[parts[2]] = float(parts[3])

    # the JVM writes stdout only at its end, so the deadline is enforced on
    # the process, not on its output
    reader = threading.Thread(target=read, daemon=True)
    reader.start()
    long_run = args.workload == "all" or args.record
    code = None
    try:
        code = proc.wait(timeout=LONG_TIMEOUT_S if long_run else RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.stderr.write("perfbench: run exceeded its time limit\n")
    finally:
        # never leave the JVM behind, whatever ended the wait
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        reader.join()
    if code is None:  # timed out: no result, whatever was printed
        code, last[0] = 3, None
    if trace:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return code, (json.loads(last[0]) if last[0] else None), named


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cron_hourly", "backfill", "query_battery", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", type=int, choices=[0, 1], default=0)
    ap.add_argument("--overhead", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the loader's sources (src/main/scala/graft) are missing")
    cp = build()
    if args.overhead:
        _, _, plain = run_jvm(cp, args, 0)
        code, traced, _ = run_jvm(cp, args, 1)
        # the traced battery pays its fixpoints before the sweep, so only
        # its whole wall compares with the untraced run's
        m, t = {"cron_hourly": ("cron_p50_s", "trace.request_p50_s"),
                "query_battery": ("battery_wall_s", "trace.timed_total_s")}.get(
                    args.workload, (None, None))
        if m in plain and traced:
            a, b = plain[m], traced["metrics"][t]["value"]
            print(f"overhead {args.workload} {m} {b - a:+.4f} s ({(b - a) / a:+.1%})")
    else:
        code, traced, _ = run_jvm(cp, args, args.trace)
    if traced is not None and code in (0, 1):
        print(json.dumps(traced))
    sys.exit(code)


if __name__ == "__main__":
    main()
