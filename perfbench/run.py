"""graft benchmark: one seeded workload, timed end to end (or traced layer by layer).

    python3 perfbench/run.py --workload discover --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. Workloads: discover, delta_curate
(see perfbench/WORKLOADS.md). The first run compiles
graft and the benchmark (perfbench/build.py) into .bench_build/; every run
then starts one JVM with Spark on local[nproc], generates its inputs from
--seed, measures for --seconds, checks every output and prints, as its last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
(it runs the timed ops untraced, then the same ops traced on fresh inputs,
and prints the tracing overhead) and writes the spans to
.bench_build/results/. --scale shrinks the inputs
(the self-test uses 0.01).

Everything the run writes stays under .bench_build/ in the checkout; the
inputs and the data they become are deleted when the run ends. Files are
written through Hadoop's raw local file system with no fsync, the same on
both sides of any comparison.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["discover", "delta_curate"]
# the run must end within 180 s of its start, builds excepted
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def driver_mem():
    """$SPARK_DRIVER_MEM, else 2 GiB: the inputs are a few MB, and the host is shared."""
    return os.environ.get("SPARK_DRIVER_MEM", "2g")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()

    build.build()
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap, so peak RSS does not depend on when G1 grows it
    heap = driver_mem()
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xss8m", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.classpath(), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--scale", str(a.scale),
           "--work", work, "--results", os.path.join(build.BUILD, "results")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    killed = threading.Event()

    def kill():
        killed.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            last = line.strip()
        code = proc.wait()
    except KeyboardInterrupt:
        kill()
        code = proc.wait()
    finally:
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
    if killed.is_set():
        print(f"run: stopped after {RUN_TIMEOUT_S} s", file=sys.stderr)
        code = 3
    if code == 0 and not (last or "").startswith("{"):
        print("run: the benchmark printed no result line", file=sys.stderr)
        code = 4
    sys.exit(code)


if __name__ == "__main__":
    main()
