"""Shared pieces of a benchmark run: the work directory, the Spark session
fitted to this host, and small statistics helpers."""

from __future__ import annotations

import os
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")


def cores() -> int:
    """Half the CPUs this process may run on. The benchmark's host is a VM
    on a shared machine: with as many busy threads as vCPUs, a fixed CPU
    loop per thread took up to 1.8x its CPU time, and its wall time varied
    2x from one second to the next; with half as many it ran at its CPU
    time. The other half is left to the JVM's compiler and GC threads and
    the Python driver, which are busy through the first minutes of a run."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-quantile (0..1) of ``values``."""
    s = sorted(values)
    if len(s) == 1:
        return float(s[0])
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


class Bench:
    """Per-run context: work directory, the Spark session and its JVM."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores()
        self.dir = os.path.join(WORK, workload)
        self.event_log = os.path.join(self.dir, "eventlog")
        self.spark = None
        self._jvm = None

    def path(self, *parts) -> str:
        return os.path.join(self.dir, *parts)

    def start_session(self, event_log: bool = False):
        """build_session on this host. JVM temp files, Spark scratch space
        and the event log (when asked for) all stay under the work
        directory."""
        from pyspark import SparkContext

        from pipe_segment_spark.session import build_session

        tmp = self.path("tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData",
        }
        if event_log:
            os.makedirs(self.event_log, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_log
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        self.spark = build_session(
            app_name=f"tokseg-bench-{self.workload}",
            cores=self.cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def stop_session(self):
        """Stop Spark and wait for the driver JVM (and with it the Python
        worker daemon) to exit."""
        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._jvm is not None:
            if self._jvm.stdin:
                self._jvm.stdin.close()
            try:
                self._jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self._jvm.kill()
                self._jvm.wait(timeout=30)

    def tasks(self, group: str) -> tuple[int, int]:
        """(tasks run, tasks failed) by the jobs of one Spark job group."""
        tracker = self.spark.sparkContext.statusTracker()
        done = failed = 0
        for job_id in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else ():
                st = tracker.getStageInfo(stage_id)
                if st:
                    done += st.numCompletedTasks + st.numFailedTasks
                    failed += st.numFailedTasks
        return done, failed
