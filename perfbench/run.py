"""Benchmark entry point.

    python3 perfbench/run.py --workload {fanout,stores} --seed N \
        --seconds S --trace {0,1}

Builds its inputs from the seed, starts a ``local[nproc]`` Spark
session, runs the workload through the program's public functions,
checks the outputs against ``reference.py`` and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones and
writes every span to ``perfbench/.results/``.  The exit code is 0 only
when every check passed.
"""

from __future__ import annotations

import os
import time


def _process_start() -> float:
    """Wall-clock time this process started (set-up is timed from it)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time()


PROCESS_START = _process_start()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("fanout", "stores")


def start_spark(run_dir: str, cores: int):
    from eventstream_fanout_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.driver.memory": "3g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM is going away either way
                pass
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def remove_run_dir(path: str) -> None:
    """Remove a run directory; retried, because the JVM's exit hooks may
    still be deleting their own temporary directories inside it."""
    for _ in range(20):
        shutil.rmtree(path, ignore_errors=True)
        if not os.path.exists(path):
            return
        time.sleep(0.25)
    print(f"could not remove {path}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    import eventstream_fanout_spark  # noqa: F401 - fail early outside a checkout

    from perfbench.checks import CheckError
    from perfbench.spans import Tracer
    from perfbench.workloads import Context, run_workload

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    run_dir = os.path.join(HERE, ".runs", f"{a.workload}-{os.getpid()}")
    results_dir = os.path.join(HERE, ".results")
    os.makedirs(results_dir, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        spark = start_spark(run_dir, cores)
        ctx = Context(spark=spark, tracer=Tracer(spark, bool(a.trace)), seed=a.seed,
                      seconds=a.seconds, run_dir=run_dir, cores=cores,
                      process_start=PROCESS_START)
        try:
            res = run_workload(a.workload, ctx)
            correct, error = True, None
        except CheckError as e:
            res, correct, error = ctx.result, False, str(e)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        ctx.tracer.dump(os.path.join(results_dir, f"{tag}-spans.json"))
        with open(os.path.join(results_dir, f"{tag}.json"), "w") as fh:
            json.dump({"correct": correct, "error": error, **res.detail}, fh, indent=1)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            remove_run_dir(run_dir)
    if error:
        print(f"CHECK FAILED: {error}", file=sys.stderr)
    metrics = res.per_layer if a.trace else res.end_to_end
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
