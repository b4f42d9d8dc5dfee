"""SparkSession lifecycle for one benchmark run.

Opens sessions through the package's own ``session.get_spark`` (so the
benchmark measures the program's configuration), keeps every file Spark
writes inside the run's work directory, and on shutdown stops the JVM
and waits until it and every Python worker have exited.
"""

from __future__ import annotations

import os
import signal
import time

from perfbench.probes import descendants


def preload_workers(spark) -> None:
    """Start the worker daemon and fork one worker per core."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(
        lambda it: it, "id long").collect()


class Sessions:
    def __init__(self, work: str, cores: int):
        self.work, self.cores = work, cores
        self.evlog_dir = os.path.join(work, "evlog")
        self.spark = None
        self._gateway_proc = None

    def open(self, cores: int | None = None, event_log: bool = False):
        from bigdata_event_stream_detection_spark.session import get_spark

        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(self.evlog_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": "file://" + self.evlog_dir})
        self.spark = get_spark("perfbench", cores=cores or self.cores,
                               extra_conf=conf)
        gw = self.spark.sparkContext._gateway
        self._gateway_proc = getattr(gw, "proc", None) or self._gateway_proc
        preload_workers(self.spark)
        return self.spark

    def close_context(self) -> None:
        """Stop the SparkContext; the JVM stays up for the next one."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self, timeout_s: float = 30.0) -> None:
        """Stop Spark and the JVM, and wait for every child to exit."""
        from pyspark import SparkContext

        kids = descendants(os.getpid())
        try:
            self.close_context()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            proc = self._gateway_proc
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()   # the JVM exits when its stdin closes
            end = time.time() + timeout_s
            while time.time() < end and _alive(kids):
                if proc is not None:
                    proc.poll()
                time.sleep(0.1)
            for pid in _alive(kids):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            if proc is not None:
                proc.wait(timeout=10)
            end = time.time() + 10
            while time.time() < end and _alive(kids):
                time.sleep(0.1)


def _alive(pids: list[int]) -> list[int]:
    out = []
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                # a zombie (state Z) has exited and only awaits its reaper
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    out.append(p)
        except OSError:
            pass
    return out
