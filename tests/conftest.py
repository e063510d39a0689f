import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_solr_8_7_0_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, shuffle_partitions=8, app_name="pytest")
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="lucene_ps_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
