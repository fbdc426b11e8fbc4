from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from gelos_spark.session import get_spark

    s = get_spark("gelos_spark_tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def force_ring(monkeypatch):
    """Send every driver-carrier ``knn_join`` call in the test down the
    ring path: no tiles x queries product fits under a zero
    ``BRUTE_FORCE_PAIRS``."""
    from gelos_spark.operators import knn_join

    monkeypatch.setattr(knn_join, "BRUTE_FORCE_PAIRS", 0)


@pytest.fixture
def jobs_launched(spark):
    """``jobs_launched(group, fn)``: the number of Spark jobs ``fn``
    launches, counted through a job group once the listener bus has
    delivered every job event."""
    sc = spark.sparkContext

    def count(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def collect_sizes(monkeypatch):
    """Row counts of every ``DataFrame.toPandas()`` and
    ``DataFrame.toArrow()`` collect made while the test runs. The spies
    sit on the class that defines both in PySpark 4.1
    (``pyspark.sql.classic.dataframe.DataFrame``): a patch on
    ``pyspark.sql.DataFrame`` is bypassed, and one on the caller's
    instance misses the frames an operator derives from it."""
    from pyspark.sql.classic.dataframe import DataFrame

    sizes: list[int] = []
    real_pandas, real_arrow = DataFrame.toPandas, DataFrame.toArrow

    def spy_pandas(self, *args, **kwargs):
        pdf = real_pandas(self, *args, **kwargs)
        sizes.append(len(pdf))
        return pdf

    def spy_arrow(self, *args, **kwargs):
        tbl = real_arrow(self, *args, **kwargs)
        sizes.append(tbl.num_rows)
        return tbl

    monkeypatch.setattr(DataFrame, "toPandas", spy_pandas)
    monkeypatch.setattr(DataFrame, "toArrow", spy_arrow)
    return sizes


@pytest.fixture
def py4j_commands(spark, monkeypatch):
    """``py4j_commands(fn)``: the number of py4j commands the driver
    sends the JVM while ``fn`` runs — the round trips of a plan build.
    Memory-delete commands are left out and ``gc`` is off while
    counting: when Python frees its Java references is collector
    timing, not the cost of the build."""
    import gc

    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    delete = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
    real = ClientServerConnection.send_command
    sent: list[str] = []

    def spy(self, command):
        if not command.startswith(delete):
            sent.append(command)
        return real(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", spy)

    def count(fn):
        enabled = gc.isenabled()
        gc.disable()
        start = len(sent)
        try:
            fn()
        finally:
            if enabled:
                gc.enable()
        return len(sent) - start

    return count
