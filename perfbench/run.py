#!/usr/bin/env python3
"""The repo benchmark: one workload, one JVM, one closed-loop client.

    python3 perfbench/run.py --workload <lake_ingest|corpus_sync> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from source
(perfbench/build.py), runs the workload in a fresh JVM with Spark
local[nproc], and prints the JVM's report line followed by the result line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 the per-layer metrics of a traced run.
Everything it writes stays under .bench_build/: the run's work directory is
removed at exit, and a traced run's spans stay in .bench_build/spans/. Exits non-zero, without a result line, when the build or
the run fails; exits 1 after the result line when an output check failed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("lake_ingest", "corpus_sync")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    os.makedirs(build.BUILD, exist_ok=True)
    classes, tree = build.build()

    work = os.path.join(build.BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(build.BUILD, "spans")
    os.makedirs(spans, exist_ok=True)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--spans", spans, "--rev", tree[:16]]
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        # never leave the JVM behind: kill it, wait for it, then go
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: {args.workload} exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("{")]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out)
        print(f"perfbench: no result from the JVM (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0 if result["correct"] and proc.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
