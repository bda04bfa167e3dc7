import pytest

from datashare_extension_neo4j_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def last_sql_execution(spark):
    """Callable: the id of the newest SQL execution, read after the
    listener bus drains. The difference of two readings counts the
    executions between them, also once the status store has started
    dropping old ones (``spark.sql.ui.retainedExecutions``), where a
    difference of ``executionsCount()`` would not."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_id() -> int:
        bus.waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).head().executionId() if n else -1

    return last_id
