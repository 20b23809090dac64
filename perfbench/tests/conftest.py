import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    from professional_services_data_validator_spark import get_spark

    local = str(tmp_path_factory.mktemp("spark-local"))
    os.environ.setdefault("SPARK_LOCAL_DIRS", local)
    s = get_spark(
        "perfbench-tests", master="local[2]",
        extra_conf={"spark.local.dir": local,
                    "spark.ui.showConsoleProgress": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
