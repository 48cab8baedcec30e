#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload kv_read --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source on first use (build.py),
starts one benchmark JVM, and prints a few human-readable lines followed by
one JSON object as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list; with
--trace 1 they are its per_layer list, and the spans and the full layer
report are written to perfbench/out/trace-<workload>.json. Every file the
run writes besides that report lives in a private work directory that is
deleted on every exit path. Exit status: 0 = correct result printed,
1 = a wrong answer (result printed with "correct": false), 2 = no result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("kv_read", "cdc_drain")
HEAP = "3g"
JVM_TIMEOUT_S = 170
# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def fail(msg):
    print("perfbench: %s" % msg, file=sys.stderr)
    sys.exit(2)


def run_jvm(classes, args, work, out):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed heap size: no run-to-run differences in heap resizing
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + jars, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--cores", str(nproc())]
    # Spark and the JDK honour these over their configuration: keep them
    # inside the work directory too
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), TMPDIR=tmp)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work, env=env,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return rc


def sweep_stale_work():
    """Delete work directories left by a run that was killed outright (the
    directory name carries the owning run.py's pid)."""
    root = os.path.join(HERE, ".work")
    for name in os.listdir(root) if os.path.isdir(root) else []:
        try:
            pid = int(name.split("-")[-2])
            os.kill(pid, 0)
        except (ValueError, IndexError):
            continue
        except ProcessLookupError:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        except PermissionError:
            pass


def main():
    ap = argparse.ArgumentParser(description="graft benchmark: one workload, one run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    try:
        with open(spec_path) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail("cannot read %s: %s" % (spec_path, e))
    try:
        classes = build.build()
    except build.BuildError as e:
        fail("build failed: %s" % e)

    # SIGTERM/SIGHUP unwind like Ctrl-C, so the finally below always runs
    def stop(signum, frame):
        raise KeyboardInterrupt("signal %d" % signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGHUP, stop)

    sweep_stale_work()
    work = os.path.join(HERE, ".work", "%s-%d-%d" % (args.workload, os.getpid(), int(time.time())))
    os.makedirs(work)
    try:
        out = os.path.join(work, "record.json")
        rc = run_jvm(classes, args, work, out)
        if rc != 0 or not os.path.exists(out):
            fail("benchmark JVM exited with %d" % rc)
        with open(out) as fh:
            record = json.load(fh)
        record["context"]["commit"] = commit()
        record["context"]["sources_sha256"] = build.digest(build.sources() + build.resources()[1])
        if args.trace:
            report_dir = os.path.join(HERE, "out")
            os.makedirs(report_dir, exist_ok=True)
            with open(record["spans_file"]) as fh:
                spans = json.load(fh)
            report = dict(record, spans=spans, end_to_end=stats.end_to_end(record))
            report.pop("spans_file")
            path = os.path.join(report_dir, "trace-%s.json" % args.workload)
            with open(path, "w") as fh:
                json.dump(report, fh)
            print("trace: %d spans and the layer report written to %s"
                  % (len(spans), os.path.relpath(path, ROOT)))
        try:
            res = stats.result(record, spec, bool(args.trace))
        except KeyError as e:
            fail(str(e))
    except KeyboardInterrupt as e:
        fail("interrupted (%s)" % e)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".work"))
        except OSError:
            pass

    ctx = record["context"]
    print("run: workload=%s seed=%d seconds=%d trace=%d nproc=%d master=%s heap_max_mb=%d "
          "loadavg=%.2f->%.2f calib_ms=%.1f commit=%s"
          % (args.workload, args.seed, args.seconds, args.trace, ctx["nproc"], ctx["master"],
             ctx["heap_max_mb"], ctx["loadavg_start"], ctx["loadavg_end"], ctx["calib_ms"],
             ctx["commit"] or "sources:" + ctx["sources_sha256"][:12]))
    print("setup: jvm_to_session_s=%.2f reps_s=%s warmup_s=%.2f steady=%s windows_ms=%s"
          % (ctx["jvm_to_session_s"], ["%.2f" % x for x in record["setup_rep_s"]],
             record["warmup_s"], record["warmup_steady"],
             ["%.1f" % x for x in record["warmup_windows_ms"]]))
    for c in record["checks"]:
        print("check %s: %s (%s)" % (c["name"], "ok" if c["ok"] else "FAILED", c["detail"]))
    for kind, o in sorted(record["ops"].items()):
        for e in o["errors"]:
            print("error %s: %s" % (kind, e))
    for name, value, unit, note in stats.op_lines(record):
        print("%s %.6g %s (%s)" % (name, value, unit, note))
    for name, value in sorted(record["extras"].items()):
        print("%s %s" % (name, value))
    for name, m in sorted(res["metrics"].items()):
        print("metric %s %.6g %s" % (name, m["value"], m["unit"]))
    print(json.dumps(res))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
