"""Run context: the temp directory every run writes under, the Spark session
it drives through ``makinage_spark.get_spark``, and the driver JVM's peak RSS.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import tempfile
import time


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


class RunContext:
    """Owns ``<checkout>/.perfbench_tmp/run-*`` (tables, broker, checkpoints,
    event logs, warehouse, Spark local dirs) and removes it on close."""

    def __init__(self, root: str):
        self.root = root
        base = os.path.join(root, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="run-", dir=base)
        self.cpus = cpu_count()
        self.spark = None
        for d in ("local", "jtmp", "pytmp", "events", "warehouse"):
            os.makedirs(self.path(d))
        # Python workers are forked from the JVM, which inherits this
        # environment: they import makinage_spark from the checkout root.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = self.path("pytmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        # every JVM (the launcher's too) keeps its temp files inside the run
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('jtmp')}"
        )
        # a small driver heap: the machine is shared and the inputs are small
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def start_spark(self, event_log: bool = False):
        """(Re)start the session; returns the seconds ``get_spark`` took."""
        import makinage_spark as mk

        if self.spark is not None:
            self.spark.stop()
        confs = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # enough history for every micro-batch of a drain
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            confs.update(
                {
                    "spark.eventLog.dir": "file://" + self.path("events"),
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = mk.get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_confs=confs,
        )
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    def stop_spark(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def event_log_path(self) -> str:
        """The newest finished event log (call after ``stop_spark``)."""
        logs = [
            p for p in glob.glob(self.path("events", "*")) if not p.endswith(".inprogress")
        ]
        if not logs:
            raise RuntimeError("no finished Spark event log")
        return max(logs, key=os.path.getmtime)

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM, a child of this process."""
        me = str(os.getpid())
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if fields[1] != me:
                    continue
                status = os.path.join(os.path.dirname(stat), "status")
                with open(status) as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            return int(line.split()[1]) / 1024.0
            except (OSError, IndexError):
                continue
        raise RuntimeError("driver JVM process not found")

    def close(self):
        try:
            self.stop_spark()
            # stop the py4j gateway so the JVM exits before the files go
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    # the JVM exits when its stdin closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
        finally:
            shutil.rmtree(self.tmp, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.tmp))
            except OSError:
                pass
