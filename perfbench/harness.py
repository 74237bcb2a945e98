"""Process, session and statistics plumbing shared by every workload.

Everything a run writes lives under one scratch directory inside the
checkout (``.perfbench_run/<pid>``), which is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

#: how often one run repeats its set-up; ``setup_s`` is the median
SETUP_REPS = 3

#: The driver JVM compiles with C1 only. With the default tiered JIT the
#: per-operation time keeps falling for more than 45 s of load (C2 is still
#: compiling Spark's planner), longer than a run can afford, so short runs
#: would sample the warm-up curve. C1 needs more code cache than the 48 MB it
#: gets by default. Its compile thresholds are a tenth of the defaults, so
#: query shapes seen a few times are compiled during the warm-up and not
#: during the timed window.
JIT_OPTS = (
    "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m "
    "-XX:Tier3InvocationThreshold=20 -XX:Tier3MinInvocationThreshold=10 "
    "-XX:Tier3CompileThreshold=200 -XX:Tier3BackEdgeThreshold=6000"
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, run_dir: str) -> None:
    """Environment the JVM and its Python workers inherit. Must run before
    the first SparkSession is built: local-mode workers are forked from the
    JVM, which copies this process's environment at launch."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # an operator-chosen spill location wins; otherwise stay in the checkout
    if not os.environ.get("SPARK_LOCAL_DIRS"):
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def start_session(run_dir: str):
    """The program's own session factory at local[nproc], plus settings
    that keep the run's stdout parseable and its files in ``run_dir``."""
    from gbif_data_validator_spark.session import build_session

    tmp = os.path.join(run_dir, "tmp")
    n = nproc()
    spark = build_session(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} {JIT_OPTS}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process(spark):
    """The Popen of the JVM PySpark launched (None when attached to an
    existing gateway)."""
    return getattr(spark.sparkContext._gateway, "proc", None)


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway's stdin (the JVM exits on EOF)
    and wait for the JVM and with it the Python worker daemon."""
    proc = jvm_process(spark)
    try:
        spark.stop()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB (10^6 bytes)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> dict:
    """VmHWM of the JVM and of the driver's Python process, and their sum."""
    proc = jvm_process(spark)
    jvm = vm_hwm_mb(proc.pid) if proc is not None else 0.0
    driver = vm_hwm_mb("self")
    return {"total": jvm + driver, "jvm": jvm, "driver": driver}


def jvm_busy_s(spark) -> dict:
    """Cumulative JVM garbage-collection and JIT-compilation time."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {"gc_s": gc / 1e3, "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3}


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3 if values else []
    return statistics.quantiles(values, n=4)


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, with the
    sample count; ``value`` is None when a run has too few samples."""
    n = len(values)
    if n < 11:
        return {"value": None, "percentile": None, "n": n}
    rank = n - 11  # 0-based: ten samples sort above this one
    pct = 100.0 * (rank + 1) / n
    return {"value": sorted(values)[rank], "percentile": round(pct, 1), "n": n}


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def tree_files(path: str) -> dict[str, int]:
    """relative path → size for every regular file under ``path``."""
    out: dict[str, int] = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out
