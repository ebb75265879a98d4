from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the session prewarm (session._prewarm) amortizes over a long bench/pipeline
# session; the suite builds many short-lived sessions, so skip it here
os.environ.setdefault("SPARK_GRAFT_PREWARM", "0")

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
