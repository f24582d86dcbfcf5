import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from spark_schema_guard.session import build_session

    spark = build_session(app_name="schema-guard-tests", cores=4, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# Differential testing: the reference implementation, imported read-only,
# drives behavior-parity assertions.  It is used ONLY in tests — the engine
# itself never touches it.
@pytest.fixture(scope="session")
def reference():
    sys.path.insert(0, "/root/reference")
    import fastjsonschema

    return fastjsonschema


@pytest.fixture
def scans_of(spark):
    """``scans_of(location, fn)`` calls ``fn`` and returns ``(result,
    scans, files)``: how many file-scan nodes over ``location`` the SQL
    executions started by ``fn`` ran, and how many files they read
    (Spark's own "number of files read" scan metric)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def execution_ids():
        bus.waitUntilEmpty()
        ex = store.executionsList()
        return {ex.apply(i).executionId() for i in range(ex.size())}

    def count(location, fn):
        before = execution_ids()
        # scan descriptions cut file locations at this length (default 100)
        key = "spark.sql.maxMetadataStringLength"
        old = spark.conf.get(key)
        spark.conf.set(key, "100000")
        try:
            result = fn()
        finally:
            spark.conf.set(key, old)
        scans = files = 0
        for eid in execution_ids() - before:
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                if not (node.name().startswith("Scan")
                        and location in node.desc()):
                    continue
                scans += 1
                metrics = node.metrics()
                for j in range(metrics.size()):
                    metric = metrics.apply(j)
                    value = values.get(metric.accumulatorId())
                    if (metric.name() == "number of files read"
                            and value.isDefined()):
                        files += int(value.get().replace(",", ""))
        return result, scans, files

    return count
