"""Shared plumbing for the benchmark: the run's work directory, the Spark
session, host context, driver-JVM memory and the result line.

Everything a run writes lives under ``<checkout>/.perfbench/`` so the
benchmark reads and writes only inside the checkout it runs from.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from pathlib import Path

#: the checkout root (the directory holding ``perfbench/``)
ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "assignment3_qachatapplication_vectorembeddings_spark"
#: run outputs (work dirs, span files); listed in the root .gitignore
OUT_DIR = ROOT / ".perfbench"

#: Spark task slots: the 4-CPU host's core count, never more
MAX_SLOTS = 4


def package_present() -> bool:
    return (ROOT / PACKAGE / "__init__.py").is_file()


class Workdir:
    """A fresh per-run directory for index state, Spark scratch, the
    JVM's temp files and the event log; removed when the run ends."""

    def __init__(self, workload: str, seed: int):
        self.path = OUT_DIR / f"work-{workload}-{seed}-{os.getpid()}"
        if self.path.exists():
            shutil.rmtree(self.path)
        for sub in ("spark-local", "jvm-tmp", "py-tmp", "events"):
            (self.path / sub).mkdir(parents=True)
        # Python-side temp dirs (the package's mkdtemp calls) and the
        # pandas-UDF workers inherit this through the environment
        os.environ["TMPDIR"] = str(self.path / "py-tmp")
        tempfile.tempdir = str(self.path / "py-tmp")

    def __truediv__(self, name: str) -> Path:
        return self.path / name

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def spark_session(work: Workdir, app: str, *, trace: bool):
    """``get_spark`` on ``local[min(nproc, 4)]`` with every scratch path
    inside the run's work dir. The traced run also writes a Spark event
    log, which the untraced run never pays for."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    from assignment3_qachatapplication_vectorembeddings_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'jvm-tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the host is shared; the workloads need well under this
        "spark.driver.memory": "2g",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    slots = min(os.cpu_count() or 1, MAX_SLOTS)
    spark = get_spark(app, master=f"local[{slots}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the driver JVM, and the Python workers
    it started, have exited."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    # the gateway JVM exits when its stdin closes
    proc.stdin.close()
    proc.wait(timeout=60)


def jvm_live_mb(spark) -> float:
    """Memory the Spark driver JVM still holds after a full collection:
    heap in use (cached blocks, plan and metadata caches) plus non-heap
    in use (metaspace, code cache). Peak RSS measured the same state
    plus however far the collector had let the heap grow, which swung
    by a quarter between runs."""
    jvm = spark._jvm
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


def speed_canary() -> float:
    """bench.py's single-thread DuckDB canary (hash of 20M ints), kept
    as run context: it does not track the workloads' speed well enough
    to normalize by."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        t0 = time.perf_counter()
        con.execute(
            "SELECT sum(h) FROM (SELECT hash(range) AS h FROM range(20000000))"
        ).fetchone()
        return time.perf_counter() - t0
    finally:
        con.close()


def host_context() -> dict:
    """nproc and loadavg at the start of a run; cheap, unlike the
    canary, which a run takes after its timed work."""
    one, five, fifteen = os.getloadavg()
    return {"nproc": os.cpu_count(), "loadavg": [one, five, fifteen]}
