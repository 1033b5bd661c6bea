"""The Spark session one benchmark run owns: start, process metrics, stop.

Everything the session writes (shuffle and spill files, temp files,
the event log) stays under the run's work directory inside the
checkout.
"""

from __future__ import annotations

import os
import subprocess
import tempfile

_CLK_TCK = os.sysconf("SC_CLK_TCK")

# the driver JVM heap: the inputs are small, and a larger heap only
# grows the resident memory
DRIVER_MEMORY = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


class BenchSession:
    def __init__(self, work: str, event_log: bool):
        from comparador_de_registros_spark.conf import build_spark

        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        # read when the JVM and its Python workers start
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        # the gateway's connection file; tempfile caches its directory
        tempfile.tempdir = tmp
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            # no hsperfdata file, which the JVM would write under /tmp;
            # and the JIT compiles hot methods after a tenth of its usual
            # invocation counts, so that it reaches the steady state a
            # long job runs in within the warm-up, not during the timed
            # iteration
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:CompileThresholdScaling=0.1"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        self.event_log_dir = None
        if event_log:
            self.event_log_dir = os.path.join(work, "eventlog")
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        n = cores()
        self.spark = build_spark(
            app_name="dedupbench",
            master=f"local[{n}]",
            # the engine's sizing rule for local runs: shuffle
            # partitions a small multiple of the cores
            shuffle_partitions=2 * n,
            extra_conf=conf,
        )
        self.stopped = False
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def python_worker_cpu_s(self) -> float:
        """Cumulative CPU seconds of every process below the JVM (the
        PySpark daemon and its workers, reaped children included)."""
        stats = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields[0] is the state; ppid, utime, stime, cutime, cstime
            # are fields 4 and 14-17 of proc(5)
            stats[int(entry)] = (
                int(fields[1]),
                sum(int(x) for x in fields[11:15]),
            )
        below, frontier = set(), {self.jvm_pid}
        while frontier:
            frontier = {
                p for p, (pp, _) in stats.items() if pp in frontier
            } - below
            below |= frontier
        return sum(stats[p][1] for p in below) / _CLK_TCK

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        if self.stopped:
            return
        self.stopped = True
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
