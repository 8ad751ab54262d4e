"""Run one benchmark workload and print its result as the last stdout line.

    python3 ingestbench/run.py --workload audit_search --seed 1 --seconds 10 --trace 0

`--trace 0` reports the end-to-end metrics; `--trace 1` runs the same
workload with listeners attached, reports the per-layer metrics and
writes every span to ingestbench/out/traces/<workload>-seed<n>.jsonl.
`--selftest` runs the workload, then feeds each correctness check
deliberately corrupted output and fails unless every check rejects it.

The program is built from source first (see build.py). One JVM runs the
workload; every file it writes lives under one temp root in
ingestbench/out, which is deleted when the run ends, failed or not.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

JVM_TIMEOUT_S = 165
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
         "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
         "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def clear_stale_roots():
    """Temp roots of runs whose process is gone (killed before cleanup)."""
    if not os.path.isdir(build.OUT):
        return
    for name in os.listdir(build.OUT):
        if not name.startswith("run-"):
            continue
        pid = int(name.split("-")[1])
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(build.OUT, name), ignore_errors=True)
        except PermissionError:
            pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"[run] {e}", file=sys.stderr)
        return 2
    clear_stale_roots()
    root = os.path.join(build.OUT, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(root, "tmp"))
    cmd = ["java", "-Xmx2g", "-Xss4m"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={root}/tmp", f"-Dspark.local.dir={root}/tmp",
            f"-Dspark.sql.warehouse.dir={root}/warehouse", f"-Dderby.system.home={root}",
            "-Dspark.ui.enabled=false", "-Dspark.driver.host=127.0.0.1",
            "-Dspark.driver.bindAddress=127.0.0.1",
            f"-Dlog4j2.configurationFile={os.path.join(build.BENCH, 'log4j2.properties')}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "ingestbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", os.path.join(root, "data")]
    if a.trace:
        cmd += ["--trace-out", os.path.join(build.OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
    if a.selftest:
        cmd += ["--selftest", "1"]
    # set-up time counts from here: the JVM's start
    cmd += ["--launch-ms", repr(time.time() * 1000.0)]
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=sys.stderr,
                                text=True, start_new_session=True)
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[run] the JVM did not finish in {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        print(f"[run] the JVM exited with code {proc.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
        print(f"[run] malformed result line: {lines[-1]}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
