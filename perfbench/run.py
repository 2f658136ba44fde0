#!/usr/bin/env python3
"""The repo benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload spans_table --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source (perfbench/build.py), runs
the workload in one JVM at local[nproc] under a scratch root inside the
build directory, deletes that root at exit (also on failure), and prints
as its last line one JSON object: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1), each with
its unit. Exit code 0 only when every checked operation was correct.
Metric names, units and directions: BENCHMARK.json; what each metric means
and which end-to-end metric a layer moves: perfbench/metrics.json.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def benchmark() -> dict:
    return json.loads((HERE.parent / "BENCHMARK.json").read_text())


def workloads() -> list:
    extra = json.loads((HERE / "metrics.json").read_text())["extra_workloads"]
    return [w["name"] for w in benchmark()["workloads"]] + list(extra)


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_cmd(classes, main, args, scratch):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={scratch}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{build.spark_jars()}/*", main] + args)


def run_jvm(cmd, scratch, timeout):
    """Run the JVM in its own process group; echo its stdout; return
    (exit code, stdout lines). A timer kills the group at the deadline, and
    the group is killed and reaped on any exit.
    """
    log = open(scratch / "jvm-stderr.log", "w")
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                         start_new_session=True, cwd=scratch)

    def kill():
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    fired = threading.Event()

    def deadline():
        fired.set()
        kill()

    timer = threading.Timer(timeout, deadline)
    timer.start()
    lines = []
    try:
        for line in p.stdout:
            line = line.rstrip("\n")
            lines.append(line)
            if not line.startswith("PERFBENCH_RESULT "):
                print(line, flush=True)
        p.wait()
    finally:
        timer.cancel()
        if p.poll() is None:
            kill()
            p.wait()
        log.close()
    if fired.is_set():
        print(f"[perfbench] JVM killed after {timeout:.0f} s", file=sys.stderr)
        return 124, lines
    if p.returncode not in (0, 3):
        tail = (scratch / "jvm-stderr.log").read_text(errors="replace")
        sys.stderr.write("\n".join(tail.splitlines()[-40:]) + "\n")
    return p.returncode, lines


def result_of(lines):
    for line in reversed(lines):
        if line.startswith("PERFBENCH_RESULT "):
            return json.loads(line[len("PERFBENCH_RESULT "):])
    return None


def run_workload(a, classes, scratch_parent):
    if a.workload not in workloads():
        print(f"[perfbench] unknown workload {a.workload}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + JVM_TIMEOUT_S
    scratch = scratch_parent / f"run-{os.getpid()}-{int(time.time() * 1000)}"
    (scratch / "tmp").mkdir(parents=True)
    trace_out = build.build_root() / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scratch", str(scratch), "--nproc", str(nproc())]
    if a.trace:
        args += ["--trace-out", str(trace_out)]
    if a.inject_wrong_row:
        args.append("--inject-wrong-row")
    try:
        # inputs are written by a JVM of their own, so the measured one
        # starts cold and setup_s runs from its start
        code, _ = run_jvm(jvm_cmd(classes, "perfbench.Main", args + ["--gen"],
                                  scratch), scratch, deadline - time.monotonic())
        if code == 0:
            code, lines = run_jvm(
                jvm_cmd(classes, "perfbench.Main", args, scratch),
                scratch, deadline - time.monotonic())
        else:
            lines = []
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    res = result_of(lines)
    if res is None:
        print(f"[perfbench] no result (JVM exit code {code})", file=sys.stderr)
        return code or 2
    want = {m["name"]: m["unit"]
            for m in benchmark()["per_layer" if a.trace else "end_to_end"]}
    got = res["metrics"]
    missing = [m for m in want if m not in got]
    extra = [m for m in got if m not in want]
    if missing or extra:
        print(f"[perfbench] metric set mismatch: missing {missing} extra {extra}",
              file=sys.stderr)
        return 2
    metrics = {m: {"value": got[m], "unit": unit} for m, unit in want.items()}
    for m, unit in want.items():
        print(f"[perfbench] {a.workload} {m} = {got[m]} {unit}")
    print(json.dumps({"correct": bool(res["correct"]) and code == 0,
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0 if code == 0 and res["correct"] else (code or 3)


def selftest(classes, scratch_parent):
    """The benchmark's own checks: span and percentile arithmetic, and that
    an injected wrong row raises failed above 0 and fails the command.
    """
    ok = True
    scratch = scratch_parent / f"selftest-{os.getpid()}"
    (scratch / "tmp").mkdir(parents=True)
    try:
        code, _ = run_jvm(jvm_cmd(classes, "perfbench.SelfTest", [], scratch),
                          scratch, JVM_TIMEOUT_S)
        ok &= code == 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for w in ("spans_table", "raw_mixed", "serve_reads"):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", "7",
               "--seconds", "1", "--trace", "0", "--inject-wrong-row"]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=200)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
        try:
            res = json.loads(last)
        except ValueError:
            res = {}
        good = r.returncode != 0 and res.get("failed", 0) > 0 and not res.get("correct", True)
        print(f"[selftest] {'ok  ' if good else 'FAIL'} {w}: injected wrong row -> "
              f"exit {r.returncode}, failed {res.get('failed')} of {res.get('attempted')}")
        ok &= good
    print(f"[selftest] {'all passed' if ok else 'FAILED'}")
    return 0 if ok else 1


def main():
    # a terminated run still reaps its JVM and deletes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong-row", action="store_true",
                    help="append one wrong row to the output before checking")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    try:
        classes = build.ensure()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    scratch_parent = build.build_root() / "scratch"
    scratch_parent.mkdir(parents=True, exist_ok=True)
    try:
        return selftest(classes, scratch_parent) if a.selftest else \
            run_workload(a, classes, scratch_parent)
    finally:
        shutil.rmtree(scratch_parent, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
