"""The Spark-metrics reader on tiny jobs with known shapes."""

import pyarrow as pa

from perfbench.spans import EventLog, Tracer


def test_two_stage_job_is_attributed_to_its_span(traced_spark):
    spark, log_dir = traced_spark
    elog = EventLog(spark, log_dir)
    tr = Tracer(spark)
    with tr.span("two_stage"):
        rows = (
            spark.range(0, 10_000, numPartitions=4)
            .selectExpr("id % 7 AS k")
            .groupBy("k").count()
            .collect()
        )
    with tr.span("other"):
        spark.range(0, 100, numPartitions=2).count()
    elog.sync()
    assert len(rows) == 7
    m = elog.groups[tr.spans[0].group]
    assert m["jobs"] >= 1
    assert m["failed_tasks"] == 0
    assert m["shuffle_write_mb"] > 0
    assert m["executor_cpu_s"] > 0
    assert m["python_s"] == 0
    assert elog.groups[tr.spans[1].group]["jobs"] >= 1
    # jobs run outside any span are not attributed
    spark.range(0, 10, numPartitions=1).count()
    elog.sync()
    assert set(elog.groups) == {s.group for s in tr.spans}


def test_arrow_udf_time_and_bytes(traced_spark):
    spark, log_dir = traced_spark
    elog = EventLog(spark, log_dir)
    tr = Tracer(spark)

    def double(batches):
        for rb in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.compute.multiply(rb.column(0), 2)], names=["id"]
            )

    with tr.span("arrow"):
        n = spark.range(0, 50_000, numPartitions=2).mapInArrow(double, "id long").count()
    elog.sync()
    assert n == 50_000
    m = elog.groups[tr.spans[0].group]
    assert m["python_s"] >= 0
    assert m["arrow_mb"] > 0.5  # 50k longs each way
