"""Shared pieces of the workloads: the setup clock, the deployed
session's start and stop, and percentiles."""

from __future__ import annotations

import os
import subprocess
import time

import numpy as np


def process_age_s() -> float:
    """Seconds since this process was exec'd (the setup_s clock)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def start_spark():
    """The deployed session; returns (spark, seconds to start it)."""
    from de_realtime_voting_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def state_store(spark) -> str:
    """The streaming state-store provider the session runs with."""
    return spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )


def pct(values, q: float) -> float:
    """q-th percentile (linear interpolation) of a non-empty sample."""
    return float(np.percentile(np.asarray(values, dtype=float), q))
