"""Lambda pipeline benchmark.

    python3 lambdabench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: lambda_live, batch_daily,
store_commits, or `all` to run each in turn. Builds the program from
source on first use (see build.py), runs one JVM per workload, and prints
as its last line one JSON object: correct, attempted, failed and metrics
(the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1). The line before it carries the workload's metrics under their
descriptive names, the session settings and the seed. A traced run also
writes its spans to lambdabench/traces/<workload>-seed<n>.json.
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

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["lambda_live", "batch_daily", "store_commits"]
JVM_TIMEOUT_S = 170

# The JVM settings build.sbt gives forked runs: the JDK 17 module opens
# Spark needs outside spark-submit, the checksum-free local filesystem
# and file-output committer v2.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_PROPS = [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.hadoop.fs.file.impl=graft.sources.FastLocalFileSystem",
    "-Dspark.hadoop.mapreduce.fileoutputcommitter.algorithm.version=2",
]
HEAP = "-Xmx3g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_one(workload, seed, seconds, trace, classes):
    work = os.path.join(HERE, ".work", "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += JVM_PROPS + ["-cp", build.classpath(classes), "graftbench.Main",
                        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace), "--cores", str(cores()), "--work", work]
    if trace:
        cmd += ["--trace-out", os.path.join(HERE, "traces", "%s-seed%d.json" % (workload, seed))]
    log_path = os.path.join(HERE, ".work", "%s-seed%d.log" % (workload, seed))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError("%s timed out after %d s; log: %s" % (workload, JVM_TIMEOUT_S, log_path))
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError("%s exited with %d" % (workload, proc.returncode))
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    # a TERM ends the run like an interrupt, so run_one stops the JVM
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        classes = build.build()
        names = WORKLOADS if a.workload == "all" else [a.workload]
        results = []
        for w in names:
            info, result = run_one(w, a.seed, a.seconds, a.trace, classes)
            print(json.dumps(info))
            results.append((w, result))
    except KeyboardInterrupt:
        return 130
    except (build.BuildError, RuntimeError, OSError) as e:
        print("lambdabench: %s" % e, file=sys.stderr)
        return 2
    if len(results) == 1:
        print(json.dumps(results[0][1]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for _, r in results),
            "attempted": sum(r["attempted"] for _, r in results),
            "failed": sum(r["failed"] for _, r in results),
            "metrics": {"%s.%s" % (w, k): v for w, r in results for k, v in r["metrics"].items()},
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
