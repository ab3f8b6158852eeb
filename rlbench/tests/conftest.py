import os
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path[:0] = [str(ROOT), str(BENCH)]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # Python workers unpickle functions from the package and the benchmark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(BENCH), os.environ.get("PYTHONPATH")) if p)
    from pyspark.sql import SparkSession

    local = tmp_path_factory.mktemp("spark-local")
    session = (SparkSession.builder.master("local[2]")
               .config("spark.ui.enabled", "false")
               .config("spark.ui.showConsoleProgress", "false")
               .config("spark.sql.shuffle.partitions", "4")
               .config("spark.sql.execution.arrow.pyspark.enabled", "true")
               .config("spark.local.dir", str(local))
               .getOrCreate())
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()
