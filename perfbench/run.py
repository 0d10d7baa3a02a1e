"""geocode_spark benchmark: one workload per process, one JSON result line.

    python3 perfbench/run.py --workload points|pages --seed N \\
        --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed``; the
library runs at ``local[<cpus>]`` (``nproc``) with a 2g driver heap and
a C1-only JIT (see ``configure_env``), and every file the run writes
lives under ``.perfbench_work/`` in the root.

``--trace 0`` measures the end-to-end metrics with tracing off:

* ``setup_s``: the process's one cold set-up: Spark session start (which
  launches the JVM), reference-data load and warm pass, input generation
  excluded. A restart inside a running process would reuse a warm JVM,
  which no user's process has, so a run sets up once and its spread comes
  from runs on several seeds;
* ``throughput_per_s``: points/s of the bulk reverse geocode (points),
  docs/s of the full page job (pages);
* ``latency_p50_s``: median of the workload's repeated request: a 1k-point
  lookup (points), a resume (pages);
* ``peak_rss_mb``: peak resident memory of the driver JVM and its Python
  workers over the measured phase, the JVM heap counted by its live data
  at the end of the phase (see ``trace.RssSampler``).

``--trace 1`` makes one traced layer-by-layer pass instead and reports the
per-layer metrics; the spans and their Spark statistics are written to
``.perfbench_work/trace-<workload>-<seed>.json``. Both modes check every
operation's output against the generator's truth; ``failed`` counts the
operations that raised or failed a check. The last stdout line is the
result JSON; a human-readable summary goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["points", "pages"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input-size multiplier (the benchmark uses 1)")
    return p.parse_args(argv)


def check_checkout() -> None:
    """Fail before any work when the library or its fixtures are absent."""
    missing = [p for p in ("geocode_spark/__init__.py",
                           "fixtures/cpo_raw.parquet",
                           "fixtures/prepared/complex/meta.json")
               if not (ROOT / p).is_file()]
    if missing:
        sys.exit(f"perfbench: not a geocode_spark checkout, missing {missing}")


def configure_env(work: Path) -> None:
    """Keep Spark's scratch space, the JVM's and Python's temp files and
    the SQL warehouse inside the run's work directory."""
    for d in ("spark-local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # Python workers import the library from the checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # A fully committed, pre-touched heap: the JVM's resident size is then
    # the heap plus what varies with the work (off-heap Arrow buffers,
    # metaspace, threads), not the collector's sizing decisions; the
    # memory metric counts the heap by its live data instead.
    # C1-only compilation: with C2 the timed passes still ran 10-15% apart
    # after an untimed first pass, and a warm-up long enough for C2 to
    # settle does not fit a run; the figures are those of C1-compiled code.
    java_opts = (f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
                 f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                 "-XX:TieredStopAtLevel=1 -Djava.net.preferIPv4Stack=true")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.sql.ui.retainedExecutions=100000",
        "--conf spark.ui.showConsoleProgress=false",
        f'--driver-java-options "{java_opts}"',
        "pyspark-shell"])


def start_session(cpus: int):
    from geocode_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM and the Python workers it
    forked, and wait until every one of them has exited."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in tree[1:]):
        time.sleep(0.1)
    for p in tree[1:]:
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except OSError:
                pass


def set_up(wl, cpus: int):
    """The cold set-up: start the session, load reference data, warm pass.
    Returns (spark, set-up seconds, session-start seconds)."""
    t0 = time.perf_counter()
    spark = start_session(cpus)
    started = time.perf_counter() - t0
    wl.setup(spark)
    return spark, time.perf_counter() - t0, started


def main(argv=None) -> int:
    args = parse_args(argv)
    check_checkout()
    sys.path.insert(0, str(ROOT))
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    configure_env(work)

    from perfbench import layers
    from perfbench.trace import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    t_start = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, work, cpus, args.scale)
    spark = None
    rss = None
    result = None
    try:
        wl.generate()
        os.sync()  # no write-back of the inputs during the timed work
        gen_s = time.perf_counter() - t_start
        spark, setup_s, start_s = set_up(wl, cpus)
        from pyspark import SparkContext

        rss = RssSampler(spark, SparkContext._gateway.proc.pid).start()
        if args.trace:
            tracer = Tracer(spark)
            extra = wl.trace(tracer)
            tracer.collect_spark_stats()
            metrics = layers.per_layer_metrics(tracer, extra, start_s,
                                               wl.load_s)
            tracer.dump(str(ROOT / ".perfbench_work" /
                            f"trace-{args.workload}-{args.seed}.json"),
                        {"workload": args.workload, "seed": args.seed,
                         "cpus": cpus, "shares": wl.shares,
                         "metrics": metrics})
        else:
            t_measure = time.perf_counter()
            e2e = wl.measure(args.seconds)
            measure_s = time.perf_counter() - t_measure
            rss.stop()
            peak_mb = rss.peak_mb()
            metrics = {
                "setup_s": setup_s,
                "throughput_per_s": e2e["throughput_per_s"],
                "latency_p50_s": e2e["latency_p50_s"],
                "peak_rss_mb": peak_mb,
            }
            print(json.dumps({"workload": args.workload, "seed": args.seed,
                              "cpus": cpus, "unit": wl.unit,
                              "latency_op": wl.latency_op,
                              "setup_s": setup_s, "session_start_s": start_s,
                              "load_s": wl.load_s, "generate_s": gen_s,
                              "measure_s": measure_s,
                              "rss_jvm_mb": rss.peak_jvm / 2**20,
                              "heap_live_mb": rss.heap_live / 2**20,
                              "heap_committed_mb": rss.heap_committed / 2**20,
                              "jvm_gc_s": rss.gc_s,
                              "rss_workers_mb": rss.peak_workers / 2**20,
                              "elapsed_s": time.perf_counter() - t_start,
                              "shares": wl.shares,
                              "failed_frac": wl.failed / max(wl.attempted, 1),
                              **e2e["detail"]}), file=sys.stderr)
        result = {"correct": wl.failed == 0, "attempted": wl.attempted,
                  "failed": wl.failed,
                  "metrics": {k: {"value": v, "unit": layers.UNITS[k]}
                              for k, v in metrics.items()}}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if rss is not None:
            rss.stop()
        if spark is not None or "pyspark" in sys.modules:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    for msg in wl.failures[:20]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
