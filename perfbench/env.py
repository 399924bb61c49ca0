"""Process environment for the benchmark: core count, and every scratch
location (Spark local dirs, JVM and Python temp files, warehouse) kept
under the checkout's build directory."""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def build_dir() -> str:
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(REPO, d, "perfbench")


def tmp_root() -> str:
    return os.path.join(build_dir(), "tmp")


def make_tmp() -> str:
    """A fresh scratch dir for one process; the caller removes it."""
    os.makedirs(tmp_root(), exist_ok=True)
    return tempfile.mkdtemp(prefix="run-", dir=tmp_root())


def configure(tmp: str) -> None:
    """Point Spark, the JVM and Python's tempfile at ``tmp`` and pin
    the session to ``local[cores]``. Call before the first JVM
    starts."""
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # -XX:-UsePerfData: HotSpot writes its perf counters under /tmp
    # whatever java.io.tmpdir says; spark-submit's launcher is a JVM too
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp}'",
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            # keep every job and stage of a batch for the REST pull
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "pyspark-shell",
        ]
    )
