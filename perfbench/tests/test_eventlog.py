"""Attribution of Spark's event log to benchmark spans, on a real session."""

import pytest

import eventlog
from spans import Tracer


@pytest.fixture(scope="module")
def labelled_log(tmp_path_factory):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    ev = str(tmp_path_factory.mktemp("events"))
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", ev)
        .config("spark.eventLog.compress", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    tr = Tracer()
    try:
        with tr.span("alpha", spark_label=True):
            spark.range(100).repartition(4).write.format("noop").mode("overwrite").save()
        with tr.span("beta", spark_label=True):
            spark.range(100).groupBy((F.col("id") % 3).alias("k")).count().collect()
        with tr.span("gamma"):  # unlabelled: attributed by time window
            spark.range(10).collect()
        spark.range(5).collect()  # outside every span
    finally:
        spark.stop()
    return eventlog.parse(eventlog.log_files(ev)), tr


def test_log_is_parsed(labelled_log):
    log, _ = labelled_log
    assert len(log.jobs) >= 4
    # every finished task belongs to a job of the log
    assert len(log.tasks) == sum(j.totals["tasks"] for j in log.jobs)


def test_attribution_by_label_and_window(labelled_log):
    log, tr = labelled_log
    per = eventlog.attribute(log, tr.spans)
    assert set(per) == {"alpha", "beta", "gamma"}
    assert per["alpha"]["jobs"] >= 1 and per["beta"]["jobs"] >= 1
    # alpha repartitions into a shuffle; beta aggregates through one
    assert per["alpha"]["shuffle_write_bytes"] > 0
    assert per["beta"]["shuffle_write_bytes"] > 0
    assert per["alpha"]["tasks"] >= 4
    total_jobs = sum(v["jobs"] for v in per.values())
    assert total_jobs == len(log.jobs) - 1  # only the job outside every span is left out
    assert all(v["exec_run_ms"] >= 0 for v in per.values())
