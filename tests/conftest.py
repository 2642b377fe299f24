from __future__ import annotations

import shutil
import tempfile

import pytest

from crawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_():
    d = tempfile.mkdtemp(prefix="crawltest_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def session_tmpdir():
    d = tempfile.mkdtemp(prefix="crawlsess_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
