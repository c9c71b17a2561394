"""Starting and stopping the program's Spark session from the benchmark.

The session comes from `lakekeeper_spark.session.get_session`, so its
defaults are what gets measured. The benchmark only adds, through
PYSPARK_SUBMIT_ARGS, settings that keep the JVM's files inside the run
directory and, for traced runs, Spark's event log.
"""

from __future__ import annotations

import os
import time
from pathlib import Path


def configure(run_dir: Path, tmp_dir: Path, event_log_dir: Path | None) -> None:
    args = [
        f"--driver-java-options -Djava.io.tmpdir={tmp_dir}",
        f"--conf spark.sql.warehouse.dir={run_dir / 'spark-warehouse'}",
    ]
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_log_dir}",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")


def start(app: str):
    """Returns (spark, seconds to start it)."""
    from lakekeeper_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session(app)
    spark.range(1).collect()  # first job: executor threads and codegen up
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: never leave it behind
            proc.kill()
            proc.wait(timeout=30)
