"""The Spark session the benchmark runs on, and what it reads back from
Spark's status store.

The session comes from the program's own factory
(``olympia_spark.session.get_spark``), sized for the host: two task
threads, a driver heap that fits, and every scratch directory inside the
benchmark's work directory.
"""

from __future__ import annotations

import os
import subprocess

from py4j.protocol import Py4JJavaError

DRIVER_MEM = "1g"
# Half of a 4-CPU host: the statements here run 1-4 tasks each, and the
# Python driver, the JVM's driver thread, GC and JIT need CPUs too. With
# four task threads, runs on a shared host drew more CPU steal and spread
# wider (measured side by side: same speed when the host was idle, ~10%
# slower under steal).
MAX_THREADS = 2


def task_threads() -> int:
    return max(1, min(MAX_THREADS, len(os.sched_getaffinity(0))))


def configure_env(work: str) -> None:
    """Before the JVM starts: heap, threads, scratch dirs."""
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(task_threads())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts first: no /tmp files
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/jvm-tmp")
    os.environ.pop("SPARK_MASTER", None)


def start_spark(work: str):
    from olympia_spark.session import get_spark
    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    # a fixed young generation keeps the JVM's peak RSS from following
    # G1's adaptive sizing from run to run
    spark = get_spark(
        "layerbench", shuffle_partitions=task_threads(), extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-wh"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData -Xmn256m",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()       # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class SparkProbe:
    """Job group per statement, py4j round-trip counting at the gateway
    client, and job / stage / task figures from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.calls = 0
        self.counting = False
        self._seq = 0
        client = self.sc._gateway._gateway_client
        orig = client.send_command

        def counted(*a, **kw):
            if self.counting:
                self.calls += 1
            return orig(*a, **kw)
        client.send_command = counted

    def begin(self) -> str:
        self._seq += 1
        group = f"layerbench-{self._seq}"
        self.sc.setJobGroup(group, group)
        self.calls = 0
        self.counting = True
        return group

    def end(self, group: str) -> dict:
        """Stop counting, then read the group's jobs once the listener bus
        has drained. ``intervals`` are the jobs' (submitted, completed)
        wall-clock times in seconds."""
        self.counting = False
        py4j = self.calls
        self.bus.waitUntilEmpty()
        jobs = stages = tasks = 0
        shuffle = 0
        intervals = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self.store.job(int(jid))
            jobs += 1
            stages += jd.stageIds().size() - jd.numSkippedStages()
            tasks += jd.numTasks() - jd.numSkippedTasks()
            ids = jd.stageIds()
            for sid in (ids.apply(i) for i in range(ids.size())):
                try:
                    shuffle += self.store.lastStageAttempt(sid) \
                        .shuffleWriteBytes()
                except Py4JJavaError:
                    pass                # a skipped stage has no attempt
            if jd.submissionTime().isDefined() and \
                    jd.completionTime().isDefined():
                intervals.append(
                    (jd.submissionTime().get().getTime() / 1000.0,
                     jd.completionTime().get().getTime() / 1000.0))
        self.sc.setJobGroup("layerbench-idle", "idle")
        return {"py4j": py4j, "jobs": jobs, "stages": stages,
                "tasks": tasks, "shuffle_write_bytes": shuffle,
                "intervals": intervals}

