import os
import sys

import pytest

# the checkout root, so the package imports whatever pytest's cwd is
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from vectordb_agentic_rag_spark.session import get_spark

    s = get_spark("pytest")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
