import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquetranger_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("parquetranger-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(autouse=True)
def _spark_jvm_alive():
    """Stop the run as soon as the session's JVM has died: every later
    test would otherwise wait out a py4j connection timeout and fail.
    The test during which it died has already failed on its own."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if SparkContext._active_spark_context else None
    code = proc.poll() if proc is not None else None
    if code is not None:
        pytest.exit(f"the Spark session's JVM exited with code {code}", returncode=1)


@pytest.fixture()
def tmp_root(tmp_path):
    return str(tmp_path)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
