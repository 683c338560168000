"""One benchmark run's engine session: start and stop, the pinned engine
mode, the noise calibration, and the span helpers the workloads use
around every call into the engine."""

from __future__ import annotations

import os
import time

from stats import median
from spans import Tracer, read_event_logs

#: driver heap of every run. At least 8 GiB puts the engine on the side
#: of its heap fork that the engine's own bench measures (registry
#: ``SMALL_HEAP_BYTES``, ``caching._big_heap``).
DRIVER_MEM = "10g"

#: fixed work of the calibration probe
CALIB_ROWS = 20_000_000


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_env(tmp_dir: str) -> dict[str, str]:
    """Pin the engine mode for this process: every core, a fixed driver
    heap, and scratch space inside the run directory."""
    os.makedirs(tmp_dir, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": tmp_dir,
        "TMPDIR": tmp_dir,
    }
    os.environ.update(env)
    return env


class Harness:
    """The Spark session of one run, plus its tracer."""

    def __init__(self, out_dir: str, traced: bool) -> None:
        self.out_dir = out_dir
        self.traced = traced
        self.tmp_dir = os.path.join(out_dir, "tmp")
        self.env = pin_env(self.tmp_dir)
        self.event_dir = os.path.join(out_dir, "eventlog")
        self.spark = None
        self.sc = None
        self._gateway = None
        self.tracer = Tracer(enabled=traced)
        self.calibration: list[tuple[str, float]] = []
        self.t_start = time.time()

    # -- session -----------------------------------------------------
    def start(self) -> float:
        """Start the engine's session through its public factory; returns
        the seconds it took."""
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.out_dir, "warehouse"),
            # scratch inside the run directory; no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp_dir} -XX:-UsePerfData",
        }
        if self.traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(self.event_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.tracer.span("session.start") as sp:
            from apl_commissions_etl_spark.session import get_spark

            self.spark = get_spark(app_name="perfbench", extra_conf=conf)
            self.sc = self.spark.sparkContext
        self.tracer.sc = self.sc
        from pyspark import SparkContext

        self._gateway = SparkContext._gateway
        return sp.dur

    def mode(self) -> dict:
        """The engine mode this run measured, recorded with every result."""
        from apl_commissions_etl_spark import caching, registry

        jvm = self.sc._jvm
        heap = jvm.java.lang.Runtime.getRuntime().maxMemory()
        return {
            "cores": self.sc.defaultParallelism,
            "master": self.sc.master,
            "jvm_max_heap_gib": round(heap / (1 << 30), 2),
            "driver_mem": self.env["SPARK_DRIVER_MEM"],
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "registry_small_heap": heap < registry.SMALL_HEAP_BYTES,
            "caching_big_heap": caching._big_heap(self.spark.range(1)),
            "spark": self.spark.version,
        }

    def calibrate(self, label: str, reps: int = 3) -> float:
        """Time a fixed ``spark.range`` aggregate (median of ``reps``);
        the drift between probes is host noise, recorded with the result."""
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            self.spark.range(0, CALIB_ROWS, 1, self.sc.defaultParallelism).selectExpr(
                "sum(id * 7 % 13) AS s"
            ).collect()
            times.append(time.perf_counter() - t0)
        val = median(times)
        self.calibration.append((label, val))
        return val

    def calibration_report(self) -> dict:
        """Probe times by label, and the drift from the probe before the
        timed region (``pre``) to the one after it (``end``)."""
        d = {label: round(v, 4) for label, v in self.calibration}
        if "pre" in d and "end" in d:
            d["drift"] = round(d["end"] / d["pre"] - 1.0, 4)
        return d

    def storage_mb(self) -> tuple[float, int]:
        """(MB held in memory plus disk, frame count) of the session's
        persisted frames, from the block manager's storage info."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        held = sum(i.memSize() + i.diskSize() for i in infos)
        return held / (1 << 20), len(infos)

    # -- spans around the engine -------------------------------------
    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def execute(self, layer: str, df, action):
        """Run ``action(df)`` as the execution of ``layer``: in a traced
        run, plan it first (``<layer>.plan``) and tag its jobs with the
        layer's job group (``<layer>.exec``)."""
        if self.traced:
            with self.tracer.span(f"{layer}.plan"):
                df._jdf.queryExecution().executedPlan()
        with self.tracer.span(f"{layer}.exec", job_group=True):
            return action(df)

    def write(self, layer: str, df, path: str) -> None:
        self.execute(layer, df, lambda d: d.write.mode("overwrite").parquet(path))

    # -- shutdown ----------------------------------------------------
    def close(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = self._gateway
        if gw is not None:
            self._gateway = None
            from pyspark import SparkContext

            SparkContext._gateway = None
            SparkContext._jvm = None
            try:
                gw.shutdown()
            finally:
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    if proc.stdin is not None:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:
                        proc.kill()
                        proc.wait()

    def jobs(self):
        """Jobs of the event log; call after ``close`` (the log is
        complete only once the session has stopped)."""
        return read_event_logs(self.event_dir) if self.traced else []
