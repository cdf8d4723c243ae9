"""Run context, the Spark session, and small statistics helpers shared by
the workloads."""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field

import numpy as np

from metrics import UNBOUNDED
from tracing import RssSampler, Tracer


@dataclass
class Ctx:
    """Everything a workload needs; it returns a :class:`Result`."""

    root: str  # checkout root (holds pyfads/)
    work: str  # this run's scratch dir inside the checkout
    seed: int
    seconds: float
    trace: bool
    t_start: float  # perf_counter at process start
    rss: RssSampler
    cores: int  # Spark runs on local[cores]

    def tracer(self, enabled: bool) -> Tracer:
        return Tracer(enabled, f"{os.getpid()}-{time.perf_counter_ns()}")


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    # metric name -> value; units come from BENCHMARK.json
    metrics: dict = field(default_factory=dict)
    tracer: "Tracer | None" = None
    # printed in the summary lines, not in the result JSON
    summary: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)

    def fail(self, msg: str, n: int = 1) -> None:
        self.correct = False
        self.failed += n
        self.notes.append(msg)


def add_overhead(metrics: dict, untraced: dict, traced: dict) -> None:
    """Tracing overhead = traced minus untraced, per timed-phase metric; the
    untraced values of the unbounded metrics are kept as ``bench.<name>``."""
    for k, v in untraced.items():
        if k != "setup_s":
            metrics[f"bench.overhead.{k}"] = traced[k] - v
    for k, _unit in UNBOUNDED:
        metrics[f"bench.{k}"] = untraced[k]


def median(xs) -> float:
    return float(statistics.median(xs))


def pct(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=np.float64), q))


def start_spark(ctx: Ctx, cores: "int | None" = None, app: str = "perfbench"):
    from pyspark.sql import SparkSession

    n = cores or ctx.cores
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", os.path.join(ctx.work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(ctx.work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM the session started and wait for it.  The gateway exits
    when its stdin closes; its Python workers exit with it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:  # the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def force_noop(df) -> None:
    """Execute the full plan without returning rows to the driver."""
    df.write.format("noop").mode("overwrite").save()
