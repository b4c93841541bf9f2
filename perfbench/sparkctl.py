"""SparkSession lifetime for the benchmark: start through the program's own
``session.get_spark``, keep every file Spark writes inside the work
directory, and stop the JVM and its Python workers completely, so nothing
outlives a run.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import procfs


def configure_env(repo_root: str, work_dir: str) -> None:
    """Point every temp and scratch location of the driver, the JVM and
    the Python workers into ``work_dir``; make the package importable by
    the workers. Call before the first session starts."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM (the spark-submit launcher too): temp files here, and no
    # hsperfdata file, which the JVM always writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell"
    )
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + path if path else "")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start(cpus: int, app: str):
    from grobid_clinical_report_spark.session import get_spark

    spark = get_spark(app=app, cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the context, end the JVM and wait for every process it
    started (pyspark daemon, workers) to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    pids = set(procfs.descendants())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Py4JError:  # the JVM may already be gone
            pass
        proc = gateway.proc
        # the JVM exits when its stdin pipe closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    procfs.wait_gone(pids)
