from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# The engine's default driver heap (EngineConfig: 48g, or 40% of host
# memory if less) is sized for the bench host; the suite's sf0.001
# inputs need a few GB at most, so one session-long JVM is kept smaller.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


def _corpus_dir() -> str:
    """One built corpus per (format, sf): a run at another sf must not
    reuse a corpus another sf built."""
    from distributed_crawler_spark.corpus import CORPUS_FORMAT

    sf = os.path.basename(os.path.normpath(SF_DIR))
    return f"/tmp/dcs_test_corpus_v{CORPUS_FORMAT}_{sf}"


CORPUS_DIR = _corpus_dir()


@pytest.fixture(scope="session")
def spark():
    from distributed_crawler_spark.session import get_spark

    s = get_spark(cores=8, app_name="dcs-tests")
    yield s


@pytest.fixture(scope="session")
def corpus_dir(spark):
    from distributed_crawler_spark.corpus import build_html_corpus

    if not os.path.exists(os.path.join(CORPUS_DIR, "pages.parquet", "_SUCCESS")):
        build_html_corpus(spark, SF_DIR, CORPUS_DIR, buckets=8)
    return CORPUS_DIR


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
