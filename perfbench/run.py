"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py), runs
one workload in a fresh JVM on local[k] (k = min(4, cores)), and prints two
lines on stdout: the run record (host, inputs, set-up repetitions, sample
counts) and, last, the result object

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics, from a run whose traced units carry
a SparkListener and a QueryExecutionListener; such a run also times an
untraced unit before and one after the traced ones in the same JVM, and
reports the traced units' median operation latency over the later one's as
the tracing overhead. Everything the run writes stays
under .bench_work/ and .bench_build/ in the checkout; records of finished runs
are kept in .bench_work/records/.

    python3 perfbench/run.py --gen-only <dir> --workload <name> --seed <n>

runs only the workload's set-up and leaves its generated inputs in <dir>
(used by the benchmark's own tests).
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

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("star_ingest", "curate_corpus")
ROOT = build.ROOT
WORK = ROOT / ".bench_work"
RUN_LIMIT_S = 180
BUILD_RUN_LIMIT_S = 900
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm_command(classes, work, main_args):
    return (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
            ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
             "-Duser.timezone=UTC",
             "-cp", f"{classes}{os.pathsep}{build.classpath()}",
             "perfbench.Main"] + [str(a) for a in main_args])


def run_jvm(cmd, timeout_s):
    """Run the JVM in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, timeout_s))
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {timeout_s:.0f} s, stopping it", file=sys.stderr)
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def stop_on_signal(signum, frame):
    raise SystemExit(128 + signum)


def main():
    t_start = time.monotonic()
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, stop_on_signal)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gen-only", type=Path)
    args = ap.parse_args()

    stamp_before = (build.OUT / "stamp").read_text() if (build.OUT / "stamp").is_file() else None
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    built = (build.OUT / "stamp").read_text() != stamp_before
    limit = BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = WORK / f"run-{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        if args.gen_only is not None:
            code = run_jvm(jvm_command(classes, work, ["gen", args.workload, args.seed,
                                                       args.gen_only.resolve(), work / "data"]),
                           limit - (time.monotonic() - t_start) - 5)
            return 0 if code == 0 else 1
        records = WORK / "records"
        records.mkdir(parents=True, exist_ok=True)
        result_file = work / "result.json"
        record_file = records / f"{tag}.json"
        code = run_jvm(jvm_command(classes, work, [
            args.workload, args.seed, args.seconds, args.trace, work / "data",
            result_file, record_file]), limit - (time.monotonic() - t_start) - 5)
        if code != 0 or not result_file.is_file():
            print(f"perfbench: run failed (exit {code})", file=sys.stderr)
            return 1
        result = json.loads(result_file.read_text())
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            print("perfbench: malformed result", file=sys.stderr)
            return 1
        record = json.loads(record_file.read_text())
        print(json.dumps({"record": record}))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
