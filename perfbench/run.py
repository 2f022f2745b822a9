#!/usr/bin/env python3
"""graft feed-pipeline benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload feeds_wide --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-check

Builds the program and the harness (see build.py), then runs the
harness JVM on one workload. The harness generates seeded MapShare
feeds, serves them on a loopback HTTP server, times the program's
scheduled run (`graft.Pipeline.run`) and checks every committed
FeatureCollection against the generator's ground truth. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones; the
last stdout line is the JSON result. Spark's log goes to
`.bench_build/logs/`, span traces to `.bench_build/trace/`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("feeds_wide", "feeds_deep")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs the module opens that spark-submit normally adds.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-check", action="store_true")
    a = p.parse_args(argv)
    if not a.self_check and not a.workload:
        p.error("--workload is required")
    return a


def java_command(root, classpath, digest, scratch, args):
    bench = root / build.BUILD_DIR
    # no hsperfdata file under the system temp dir: write only in the
    # checkout. GC and JIT threads are capped so that, with the harness's
    # two task slots, the JVM runs no more busy threads than the host has
    # cores.
    cmd = [shutil.which("java") or "java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={scratch}",
        f"-Dspark.local.dir={scratch}",
        f"-Dgraftbench.traceDir={bench / 'trace'}",
        f"-Dgraftbench.source={digest}",
        "-cp", classpath, "graftbench.Main",
    ]
    if args.self_check:
        return cmd + ["--self-check"]
    return cmd + ["--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace)]


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1)


def main(argv):
    args = parse_args(argv)
    root = Path.cwd().resolve()
    try:
        classpath, digest = build.ensure(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    bench = root / build.BUILD_DIR
    (bench / "logs").mkdir(parents=True, exist_ok=True)
    scratch = bench / "tmp" / str(os.getpid())
    scratch.mkdir(parents=True, exist_ok=True)
    name = "self-check" if args.self_check else f"{args.workload}-seed{args.seed}-trace{args.trace}"
    log_path = bench / "logs" / f"{name}.log"
    cmd = java_command(root, classpath, digest, scratch, args)
    proc = None

    def stop_child(signum, _frame):
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s (log: {log_path})", file=sys.stderr)
                return 3
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    if args.self_check:
        print("\n".join(lines))
        return proc.returncode
    if proc.returncode != 0 or not lines or not valid_result(lines[-1]):
        print("\n".join(lines), file=sys.stderr)
        print(f"perfbench: harness failed with code {proc.returncode} (log: {log_path})",
              file=sys.stderr)
        return proc.returncode or 4
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
