"""Arrow-vectorized fold kernels in functions/vectors.py."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

_RESTART = """
from pyspark.sql import functions as F

from data_lake_medallion_architecture_project_spark.functions.vectors import dot_arrow
from data_lake_medallion_architecture_project_spark.session import get_spark


def one_session():
    spark = get_spark("dot_arrow_restart", master="local[2]", shuffle_partitions=2)
    df = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0])] * 4, "a array<double>, b array<double>"
    ).repartition(2)
    rows = df.select(dot_arrow(F.col("a"), F.col("b")).alias("d")).collect()
    spark.stop()
    return [r.d for r in rows]


assert one_session() == [11.0] * 4
assert one_session() == [11.0] * 4
"""


def test_dot_arrow_after_a_session_restart_logs_no_accumulator_error():
    """A udf reused from a stopped SparkContext still computes, but its JVM
    side updates the dead context's accumulator and logs an ERROR per
    task. Runs in its own process so the shared test session stays up."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(REPO), env.get("PYTHONPATH")]))
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "Failed to update accumulator" not in proc.stderr
