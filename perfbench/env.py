"""Run environment: paths inside the checkout, the Spark session, and
teardown that waits for every process the run started.

Everything the benchmark writes goes under ``.bench_build/perfbench`` in
the checkout: the input cache, the stores, Spark's scratch space and the
JVM's temporary files.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import tempfile
import time

from spans import descendants


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(root: str) -> dict:
    """Create the work directories and point every temporary path at them.
    Must run before pyspark launches the JVM."""
    work = os.path.join(root, ".bench_build", "perfbench")
    paths = {
        "work": work,
        "cache": os.path.join(work, "cache"),
        "tmp": os.path.join(work, "tmp"),
        "out": os.path.join(work, "out"),
        "run": os.path.join(work, "run"),
    }
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    os.environ["TMPDIR"] = paths["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = paths["tmp"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    tempfile.tempdir = paths["tmp"]
    if root not in sys.path:
        sys.path.insert(0, root)
    return paths


def start_session(paths: dict, app: str):
    from sprintz_spark.session import get_spark

    spark = get_spark(
        app=app,
        master=f"local[{cores()}]",
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": paths["tmp"],
            "spark.sql.warehouse.dir": os.path.join(paths["work"], "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={paths['tmp']}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """One task per core that imports the engine's kernels, so the first
    timed request does not pay Python worker start-up."""
    n = cores()

    def _warm(batches):
        import sprintz_spark.codecs.sprintz  # noqa: F401
        import sprintz_spark.operators.encode  # noqa: F401

        yield from batches

    spark.range(0, 64 * n, 1, n).mapInPandas(_warm, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def stop_session(spark, timeout_s: float = 60) -> None:
    """Stop Spark, close the gateway and wait until the JVM and every
    Python worker it started have exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap_descendants(timeout_s)


def reap_descendants(timeout_s: float) -> None:
    """Wait for leftover child processes; terminate them past the timeout."""
    deadline = time.monotonic() + timeout_s
    sig = None
    while True:
        try:  # collect exited direct children
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)
