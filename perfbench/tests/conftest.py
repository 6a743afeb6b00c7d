import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def traced_spark(tmp_path_factory):
    """A small local[2] session writing an uncompressed event log."""
    from perfbench.spans import event_log_conf

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from opennre_spark.session import get_spark

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = get_spark(
        "perfbench_tests", cores=2, shuffle_partitions=4,
        extra={
            **event_log_conf(log_dir),
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, log_dir
    spark.stop()
