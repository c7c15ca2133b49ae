from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("OTX_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MID = os.environ.get("OTX_TEST_SF_DIR_MID", "/root/testdata/sf0.01")

# Long-running batteries (VERDICT r13 #1: streaming, MVCC, random-DML
# fuzz, txn/DDL state machines) — marked slow HERE so no test file needs
# editing, and deselected by default via pytest.ini. The oracle battery
# (test_workload_oracle) still exercises every streaming/MVCC/txn GATE on
# each default run; these modules add the deep per-feature batteries.
_SLOW_MODULES = {
    "test_sql_dml",
    "test_generated_columns",
    "test_streaming",
    "test_constraints_sql",
    "test_txn_state_r13",
    "test_txn_type_ddl",
    "test_domains",
    "test_dml",
    "test_mvcc",
    "test_temp_tables",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = getattr(item, "module", None)
        name = getattr(mod, "__name__", "").rsplit(".", 1)[-1]
        if name in _SLOW_MODULES:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from otterbrix_spark.session import get_spark

    # default driver heap (1g) OOMs on the heaviest graph shapes when the
    # battery is pointed at sf0.1 (OTX_TEST_SF_DIR) — and one OOM poisons
    # the shared JVM for every later test. 8g covers the full battery at
    # sf0.1; override with OTX_TEST_DRIVER_MEM.
    #
    # The TEST session runs 12 cores, not machine width: at sf0.001 every
    # task is tiny and the suite is scheduler-bound, so full width is pure
    # launch overhead — measured on a fixed 56-gate oracle subset:
    # local[32] 106s vs local[12] 85s vs local[8] 89s. Test-harness only
    # (bench.py and the driver read SPARK_GRAFT_CPUS themselves); override
    # with OTX_TEST_CPUS.
    cores = int(os.environ.get("OTX_TEST_CPUS", 0)) or min(
        12, os.cpu_count() or 12
    )
    spark = get_spark(
        app_name="otterbrix-tests",
        master=f"local[{cores}]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": os.environ.get("OTX_TEST_DRIVER_MEM", "8g")
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_mid():
    return SF_DIR_MID
