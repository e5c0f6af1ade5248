"""Benchmark entry point.

    python3 perfbench/run.py --workload {sweep,walkforward,query_mix} \
        --seed N --seconds S --trace {0,1}

Builds the program from source (perfbench/build.py), runs one workload in
a closed loop with a single client on local[nproc] Spark for S seconds,
checks every operation's output, and prints one JSON object as the last
line of stdout: end-to-end metrics with --trace 0, per-layer metrics from
spans and Spark listener counters with --trace 1. Exits nonzero when the
build fails, any operation or check fails, or the run does not finish.
Everything it writes lives under the build directory (CARGO_TARGET_DIR if
set, else .bench_build) and each run's scratch directory is removed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import build  # noqa: E402

WORKLOADS = ("sweep", "walkforward", "query_mix")
DIGESTS = os.path.join(HERE, "digests", "query_mix.json")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_command(classes, args, tmp, out):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed, pre-touched heap: peak RSS then varies with native memory
    # (metaspace, code cache, network and off-heap buffers), not with when
    # the collector chose to grow the heap
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens
            + ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}", "graft.perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--cores", str(cores()), "--tmp", tmp, "--out", out]
            + (["--record-digests", DIGESTS] if args.record_digests else ["--digests", DIGESTS]))


def run_jvm(cmd, log_path):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="rewrite digests/query_mix.json from this commit's results")
    args = ap.parse_args(argv)
    # a terminated benchmark still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    try:
        classes = build.build(build_dir)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    tmp = tempfile.mkdtemp(prefix="run-", dir=build_dir)
    try:
        out = os.path.join(tmp, "record.json")
        log = os.path.join(tmp, "jvm.log")
        try:
            code = run_jvm(jvm_command(classes, args, tmp, out), log)
        except subprocess.TimeoutExpired:
            code = "timeout"
        if args.record_digests and code == 0:
            with open(log) as fh:
                sys.stdout.writelines(l for l in fh if l.startswith("[perfbench]"))
            print(f"perfbench: recorded {DIGESTS}")
            return 0
        if code != 0 or not os.path.exists(out):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-6000:])
            print(f"perfbench: JVM exited with {code}", file=sys.stderr)
            return 3
        with open(out) as fh:
            record = json.load(fh)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    res = analysis.result(record, traced=args.trace == 1)
    for o in record["ops"]:
        if not o["ok"]:
            print(f"# failed op {o['i']}: {o['error']}")
    for c in record["checks"]:
        print(f"# check {c['name']}: {'ok' if c['ok'] else 'FAILED'} {c['detail']}")
    if args.trace == 0:
        _, info = analysis.end_to_end(record)
        print(f"# {args.workload}: {info['samples']} operations; tail latency "
              f"{info['tail_s']:.3f} s is percentile {info['tail_percentile']:g} of "
              f"{info['samples']} samples; "
              f"setup runs {['%.3f' % s for s in record['setup_s']]} s; "
              f"warm-up {record['warmup_s']:.3f} s")
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
