"""Store-first benchmark runner (see perfbench/README.md).

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload asof_reads --seed 1 --seconds 20 --trace 1
    python3 perfbench/run.py --selftest --seed 1
    python3 perfbench/run.py --overhead --workload asof_reads --seed 1 --seconds 20

Run from the repository root. Builds the program and the benchmark from
source on first use (perfbench/build.py), then runs one JVM. Everything it
writes stays under .bench_build/ in the current directory; the per-run work
directory is removed at the end. The last stdout line is the result object.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest_serve", "asof_reads")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
TIMEOUT_S = 170


def run_jvm(classes, args, work):
    """Run one benchmark JVM; return (exit code, stdout lines)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Main", "--work", work] + args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(TIMEOUT_S, kill)
    watchdog.start()
    lines = []
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            lines.append(line)
            if not line.startswith("{"):
                print(line, flush=True)
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if timed_out.is_set():
        print(f"[perfbench] timed out after {TIMEOUT_S} s", file=sys.stderr)
        return 124, []
    return code, lines


def result_of(lines):
    for line in reversed(lines):
        if line.startswith("{"):
            return json.loads(line)
    return None


def once(classes, a, trace):
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work", f"{a.workload or 'selftest'}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(trace)]
        if a.selftest:
            args = ["--selftest", "1", "--seed", str(a.seed)]
        code, lines = run_jvm(classes, args, work)
        if trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            os.makedirs(os.path.join(build.BUILD_DIR, "traces"), exist_ok=True)
            shutil.copyfile(os.path.join(work, "spans.jsonl"), os.path.join(
                build.BUILD_DIR, "traces", f"{a.workload}-seed{a.seed}-{os.getpid()}.jsonl"))
        return code, lines
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", default="")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    p.add_argument("--overhead", action="store_true",
                   help="run untraced, then traced, and print the end-to-end difference")
    a = p.parse_args()
    if not a.selftest and a.workload not in WORKLOADS:
        p.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    classes = build.build()
    if a.selftest:
        code, _ = once(classes, a, 0)
        sys.exit(code)
    if a.overhead:
        code, lines = once(classes, a, 0)
        plain = result_of(lines)
        code2, lines2 = once(classes, a, 1)
        traced = next((json.loads(l.split("end-to-end under trace: ", 1)[1]) for l in lines2
                       if "end-to-end under trace: " in l), None)
        if code or code2 or plain is None or traced is None:
            sys.exit(code or code2 or 1)
        for k, m in sorted(plain["metrics"].items()):
            d = traced[k] - m["value"]
            print(f"[perfbench] tracing overhead {k}: {d:+.4f} {m['unit']} "
                  f"({100 * d / m['value']:+.1f}%)")
        sys.exit(0)
    code, lines = once(classes, a, a.trace)
    res = result_of(lines)
    if res is None:
        sys.exit(code or 1)
    print(json.dumps(res))
    sys.exit(code)


if __name__ == "__main__":
    main()
