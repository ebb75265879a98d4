from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ingestr_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ingestr-tests", master="local[4]", shuffle_partitions=8,
                  extra_conf={"spark.ui.enabled": "false"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def tok(spark, sf_dir):
    from ingestr_spark.datagen import tokens_from_documents

    df = tokens_from_documents(spark, sf_dir)
    df.persist().count()
    return df
