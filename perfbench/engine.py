"""Process hygiene around the engine: environment for the JVM and the
Python workers, cold session start, peak memory and a clean stop."""

from __future__ import annotations

import os
import resource
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_DIR = os.path.join(ROOT, "flinkecuserbehavioranalysis_spark")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work: str) -> None:
    """Must run before pyspark starts a JVM.  Keeps every temporary
    file inside *work*, gives Python workers the engine on their path
    and turns off the console progress bar."""
    if not os.path.isdir(PACKAGE_DIR):
        raise SystemExit(f"engine package not found next to the benchmark: {PACKAGE_DIR}")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.log.level=ERROR "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(tracer):
    """Cold engine start: import the engine and build its session.
    Returns ``(spark, session_start_s)``."""
    t0 = time.perf_counter()
    from flinkecuserbehavioranalysis_spark.session import get_spark

    if tracer is None:
        spark = get_spark("perfbench")
    else:
        tracer.instrument_engine()
        with tracer.span("session.start"):
            spark = get_spark("perfbench")
    return spark, time.perf_counter() - t0


def _jvm_proc():
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return getattr(gateway, "proc", None) if gateway is not None else None


def peak_rss_mb() -> float:
    """Peak resident memory of this driver process plus the JVM."""
    kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = _jvm_proc()
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
        except OSError:
            pass
    return kib / 1024.0


def stop_engine() -> None:
    """Stop the active session, then the JVM, and wait for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = _jvm_proc()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
