"""Process set-up shared by the workloads: paths, environment, session.

Everything the benchmark writes lives under ``.perfbench_work/`` in the
checkout (inputs, checkpoints, warehouse, Spark scratch, event logs) and
is deleted when the run ends.
"""

from __future__ import annotations

import os
import shutil
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = os.cpu_count() or 4


class Run:
    """One benchmark process: its work directory and its Spark session."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, t_start: float):
        self.t_start = t_start
        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace,
        )
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        self.tmp = self.path("tmp")
        os.makedirs(self.tmp)
        self.spark = None
        self.layers: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def elapsed(self) -> float:
        return time.monotonic() - self.t_start

    def start_session(self):
        """Start Spark on local[nproc] with the package importable by
        Python workers and every scratch path inside the work dir."""
        # Python workers are forked by the JVM and inherit its
        # environment as captured at launch: the package must be on
        # their path before the JVM starts, or UDF queries fail with
        # ModuleNotFoundError.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = self.tmp
        os.environ["TZ"] = "UTC"
        time.tzset()
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
        from flight_events_flink_job_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.tmp}"
            ),
        }
        t0 = time.monotonic()
        self.spark = get_spark(f"perfbench-{self.workload}", cpus=CPUS, extra_conf=conf)
        self.layers["session.start_s"] = time.monotonic() - t0
        return self.spark

    def stop_session(self) -> None:
        """Stop Spark and wait until the JVM (and with it every Python
        worker it forked) has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # The JVM exits when its stdin closes.
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


class EventLog:
    """Spark's event-log listener, attached to the running session for
    the traced window only, writing one uncompressed, non-rolling log.

    Attaching it late (instead of ``spark.eventLog.enabled`` at start)
    lets one process time an untraced window and then a traced one, so
    the tracing overhead is measured in the same warm session.
    """

    def __init__(self, run: Run):
        self.spark = run.spark
        self.dir = run.path("eventlog")
        self.listener = None

    def __enter__(self) -> "EventLog":
        sc = self.spark.sparkContext
        jvm, jsc = sc._jvm, sc._jsc.sc()
        conf = jsc.conf().clone()
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.rolling.enabled", "false")
        os.makedirs(self.dir)
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            sc.applicationId,
            jvm.scala.Option.empty(),
            jvm.java.net.URI("file://" + self.dir),
            conf,
            sc._jsc.hadoopConfiguration(),
        )
        self.listener.start()
        jsc.addSparkListener(self.listener)
        return self

    def __exit__(self, *exc) -> None:
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)  # deliver queued events first
        jsc.removeSparkListener(self.listener)
        self.listener.stop()  # flushes and renames the in-progress file

    def path(self) -> str:
        (name,) = [n for n in os.listdir(self.dir) if not n.startswith(".")]
        return os.path.join(self.dir, name)
