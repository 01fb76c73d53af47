"""The event-log reader on a tiny real Spark run.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench.spans import PY_SENT, PY_TIME, EventLog, Tracer


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    logdir = str(tmp_path_factory.mktemp("eventlog"))
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-eventlog")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", logdir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    tracer = Tracer(spark)

    def double(it):
        for pdf in it:
            yield pdf.assign(x=pdf.id * 2)

    with tracer.span("op"):
        with tracer.span("rollup.agg"):
            spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
        with tracer.span("profile.udf"):
            spark.range(0, 100, 1, 2).mapInPandas(double, "id long, x long").collect()
    tracer.spark = None
    spark.stop()
    return tracer, EventLog.read_dir(logdir)


def test_tasks_attribute_to_their_span(traced):
    tracer, log = traced
    agg = [s["id"] for s in tracer.spans if s["name"] == "rollup.agg"]
    udf = [s["id"] for s in tracer.spans if s["name"] == "profile.udf"]
    a, u = log.select(agg), log.select(udf)
    assert a.summary()["jobs"] >= 1 and a.summary()["tasks"] >= 4
    assert a.total("shuffle_write_bytes") > 0 and a.exchanges()[0] >= 1
    assert u.total(PY_SENT) > 0 and u.total(PY_TIME) > 0
    assert u.total("shuffle_write_bytes") == 0
    assert all(t["span"] in agg + udf for t in a.tasks + u.tasks)
