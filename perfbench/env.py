"""Spark session and scratch space for one benchmark run.

Everything the run writes (parquet inputs, indexes, stream checkpoints,
Spark's local and warehouse dirs, Python and JVM temp files) goes under
``<checkout>/.perfbench_tmp/run-<pid>``, which is removed when the run ends.
"""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import sys

# The driver heap a 15 GB, shared host can give one run; get_spark's
# default (16g) is sized for a dedicated machine.
DRIVER_MEMORY = "4g"


class Env:
    def __init__(self, root: str):
        self.tmp = os.path.join(root, ".perfbench_tmp", f"run-{os.getpid()}")
        os.makedirs(self.tmp)
        # Python temp files, pyspark's gateway handshake among them
        os.environ["TMPDIR"] = self.tmp
        # every JVM started from here (launcher included): temp files in
        # the scratch dir, no perf-data file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        # Python workers must import bm25_spark whatever directory the
        # run starts from
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.spark_version = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def start_spark(self):
        from bm25_spark.session import get_spark

        local = self.path("spark-local")
        os.makedirs(local)
        self.spark = get_spark(
            app="perfbench",
            cores=self.cores,
            driver_memory=DRIVER_MEMORY,
            extra={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
                # the traced run reads every stage of the run back from the
                # status store; keep them all
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedJobs": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark_version = self.spark.version
        return self.spark

    def info(self) -> dict:
        return {
            "cores": self.cores,
            "driver_memory": DRIVER_MEMORY,
            "spark_version": self.spark_version,
            "python": sys.version.split()[0],
        }

    def close(self) -> None:
        """Stop Spark, wait for the JVM to exit, remove the scratch dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                # the JVM exits when its stdin pipe closes
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            self.spark = None
        shutil.rmtree(self.tmp, ignore_errors=True)
        parent = os.path.dirname(self.tmp)
        try:
            os.rmdir(parent)  # only if no other run is using it
        except OSError:
            pass


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def peak_rss_mb() -> float:
    """Peak resident set of this (driver) Python process."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
