"""Process set-up for the benchmark and its tests: keep every file
Spark, the JVM, Python and DuckDB write inside the checkout, and open
the engine's session with its query registry."""

from __future__ import annotations

import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
TMP = os.path.join(WORK, "tmp")
SPARK_LOCAL = os.path.join(WORK, "spark-local")


def prepare_env() -> None:
    """Point temp and scratch directories into the checkout. Must run
    before the JVM starts: child processes inherit the environment."""
    for d in (TMP, SPARK_LOCAL):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    tempfile.tempdir = TMP
    os.environ["SPARK_LOCAL_DIRS"] = SPARK_LOCAL
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the short-lived JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = _java_opts()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _java_opts() -> str:
    # -XX:-UsePerfData: a JVM would otherwise write /tmp/hsperfdata_*
    return f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}"


def spark_conf() -> dict[str, str]:
    java_opts = _java_opts()
    return {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.local.dir": SPARK_LOCAL,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def open_session(cpus: int):
    """``session.get_spark(cpus=...)`` plus the loaded registry: the
    state ``setup_s`` measures. Both are looked up on their modules at
    call time so a traced run's wrappers see the calls."""
    from mapreducewordcounting_spark import registry, session

    spark = session.get_spark(cpus=cpus, extra_conf=spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark, registry.all_queries()
