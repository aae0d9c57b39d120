import os
import shutil
import sys
import uuid

import pytest

# this checkout first, whichever directory it lives in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from iceberg_rust_spark.session import get_spark
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def warehouse(tmp_path):
    from iceberg_rust_spark import FileSystemCatalog
    wh = tmp_path / f"wh_{uuid.uuid4().hex[:6]}"
    yield FileSystemCatalog(str(wh))
    shutil.rmtree(wh, ignore_errors=True)
