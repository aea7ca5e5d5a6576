import pytest


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: long-running end-to-end test")


@pytest.fixture(scope="module")
def cc_docs(spark):
    from smoldocling_ocr_spark.sources.documents import read_cc_documents

    docs = read_cc_documents(spark, "/root/testdata/sf0.001").cache()
    docs.count()  # the tests' own cache: built here, not inside a guarded test
    return docs


@pytest.fixture(scope="session")
def spark():
    from smoldocling_ocr_spark.session import get_spark

    spark = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield spark
    spark.stop()


def _cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


@pytest.fixture
def no_leaked_blocks(spark):
    """Fail a test that returns with a persisted RDD or a CacheManager entry
    it did not start with: whoever runs the action frees what it made."""
    from smoldocling_ocr_spark.session import persisted_rdd_ids

    rdds, entries = persisted_rdd_ids(spark), _cache_entries(spark)
    yield
    leaked = persisted_rdd_ids(spark) - rdds
    assert not leaked, f"persisted RDDs leaked: {sorted(leaked)}"
    assert _cache_entries(spark) == entries, "CacheManager entries changed"
