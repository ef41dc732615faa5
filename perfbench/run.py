"""The CDC engine's benchmark: one command, seeded workloads, verified
outputs.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one report

Run it from the root of a source checkout: it imports the engine from
there and keeps everything it writes under ``perfbench/.work``. Each
workload prints a readable report, then, as its last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics named in ``BENCHMARK.json``; ``--trace 1``
repeats the timed phase with spans and the Spark event log on and reports
the per-layer metrics instead. ``WORKLOADS.md`` says why each workload
exists and which layers it exercises.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

sys.path[:0] = [HERE, ROOT]


class Ctx:
    """Everything one run needs: arguments, directories, the session."""

    def __init__(self, args, run_dir: str | None = None):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        # local[N] with N from the CPU affinity mask, like `nproc` without
        # OMP_NUM_THREADS — the same sizing the repository's tests use
        self.cores = len(os.sched_getaffinity(0))
        self.cache = os.path.join(WORK, "inputs")
        self.run_dir = run_dir or os.path.join(WORK, f"run-{os.getpid()}")
        self.event_log = os.path.join(self.run_dir, "eventlog")
        self.spans_dir = WORK
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(self.event_log, exist_ok=True)
        self.spark = None

    def start_session(self, cores: int | None = None):
        """Start the engine's SparkSession through ``session.get_spark``;
        returns the seconds it took."""
        from etl_pipeline_spark.session import get_spark

        cores = cores or self.cores
        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata file, which the JVM would write to /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
        }
        if self.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_log
            # one plain JSON-lines file, readable without a codec
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{os.getpid()}",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=conf,
        )
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        """Stop the SparkContext (which completes the event log)."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM
        (and with it the Python workers) to exit. The JVM is stopped even
        when stopping the session fails, as it may after an interrupt."""
        from pyspark import SparkContext

        try:
            self.stop_session()
        finally:
            gateway = SparkContext._gateway
            SparkContext._gateway = None
            SparkContext._jvm = None
            if gateway is not None:
                with contextlib.suppress(Exception):
                    gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the gateway JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()


def _adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so
    that descendants whose parent exits first (the Python workers the JVM
    forks) are re-parented here and ``_reap_children`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # a TERM runs the same clean-up as a normal exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))


REAP_GRACE_S = 30.0


def _reap_children() -> None:
    """Wait until every child (orphaned descendants included) has exited;
    kill the whole tree still running after ``REAP_GRACE_S`` seconds."""
    from measure import tree_pids

    deadline = time.monotonic() + REAP_GRACE_S
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in tree_pids()[1:]:
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _fit_environment() -> None:
    """Keep every file the run writes inside the checkout and size the
    driver for a small machine unless the caller chose otherwise."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    import tempfile

    tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1536m")
    # Python workers import the engine (pandas UDFs) from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata file in /tmp from the launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p
    )


def machine() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True
    ).stderr.splitlines()
    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        "python": platform.python_version(),
        "java": java[0] if java else "",
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
    }


def _workloads() -> dict:
    import serving
    import workloads

    return {**workloads.WORKLOADS, **serving.WORKLOADS}


def _run_all(args) -> int:
    """Run every workload in its own process and print their reports."""
    failed = 0
    for name in _workloads():
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"[{name}] exited with code {proc.returncode}")
            failed += 1
            continue
        res = json.loads(lines[-1])
        print(
            f"[{name}] correct={res['correct']} attempted={res['attempted']} "
            f"failed={res['failed']}"
        )
        failed += not res["correct"]
    return 1 if failed else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _adopt_orphans()
    try:
        return _main(args)
    finally:
        _reap_children()


def _main(args) -> int:
    _fit_environment()
    try:
        import etl_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)
    known = _workloads()
    if args.workload not in known:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(known)} or all", file=sys.stderr)
        return 2

    ctx = Ctx(args)
    try:
        res = known[args.workload](ctx)
    finally:
        try:
            ctx.shutdown()
        finally:
            shutil.rmtree(ctx.run_dir, ignore_errors=True)
    res.report(args.workload, machine())
    print(json.dumps(res.result_line(ctx.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
