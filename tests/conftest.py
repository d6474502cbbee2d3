from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from onetable_spark.formats.hudi import HudiTimeline  # noqa: E402
from onetable_spark.model import Table, TableFormat  # noqa: E402
from onetable_spark.session import get_spark  # noqa: E402
from onetable_spark.sources.parquet_inventory import inventory_from_directory  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


import os
import shutil


@pytest.fixture(scope="session")
def spark():
    s = get_spark("onetable-tests", cpus=int(os.environ.get("OTB_TEST_CPUS", "8")))
    shuf = os.environ.get("OTB_TEST_SHUF")
    if shuf:
        s.conf.set("spark.sql.shuffle.partitions", shuf)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture()
def seeded_hudi(spark, sf_dir, tmp_path):
    """A Hudi COW table with one committed parquet file."""
    table_path = str(tmp_path / "h")
    os.makedirs(table_path)
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), os.path.join(table_path, "f1.parquet"))
    schema = spark.read.parquet(table_path).schema
    tl = HudiTimeline(spark, table_path)
    tl.init_table(
        Table(name="h", base_path=table_path, table_format=TableFormat.HUDI, read_schema=schema)
    )
    tl.commit(adds=inventory_from_directory(spark, table_path), schema=schema)
    return table_path
