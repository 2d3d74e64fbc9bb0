"""Pins what the Spark metrics the traced run reports actually count.

A sleep kernel of known duration and a shuffle of known row count run
through the same reader the benchmark uses.  What this pins:

- ``time to run Python workers`` holds the kernel's own time; on a cold
  worker it also holds ``time to start Python workers``;
- ``time to start`` is paid only by a query that has to fork workers;
  with warm (reused) workers it reads zero;
- ``time to initialize Python workers`` is paid by every task, warm or
  cold, does not grow with kernel time, and is not part of run time: on
  warm workers it can exceed run time minus kernel time, so summed init
  time is no measure of the kernel;
- all of them are per-task sums (tasks run in parallel), shown with
  0.1 s resolution above one second, in seconds after parsing;
- ``shuffle write time`` (accumulated in ns) parses on the same
  millisecond-based display scale as the other timings;
- values are read only after the execution's completion time is set.
"""

import time

import pytest

from sparkmetrics import ExecutionReader, parse_value

SLEEP_S = 0.3
PARTS = 2


def test_parse_display_strings():
    head = "total (min, med, max (stageId: taskId))\n"
    assert parse_value(head + "2.6 s (522 ms, 990 ms, 1.0 s (stage 2.0: "
                       "task 2))") == pytest.approx(2.6)
    assert parse_value(head + "30 ms (11 ms, 19 ms, 19 ms)") == \
        pytest.approx(0.030)
    assert parse_value("0 ms") == 0.0
    assert parse_value(head + "1.5 m (1.5 m, 1.5 m, 1.5 m)") == 90.0
    assert parse_value("1.25 h") == 4500.0
    assert parse_value(head + "8.2 KiB (2.7 KiB, 2.7 KiB, 2.8 KiB)") == \
        pytest.approx(8.2 * 1024)
    assert parse_value("0.0 B") == 0.0
    assert parse_value("3.0 MiB") == 3 * 2 ** 20
    assert parse_value("1,000") == 1000
    with pytest.raises(ValueError):
        parse_value("12 parsecs")


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master(f"local[{PARTS}]")
         .appName("perfbench-calibration")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.sql.shuffle.partitions", "3")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _sleep_query(spark, rows_per_task: int):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def sleepy(v: pd.Series) -> pd.Series:
        time.sleep(SLEEP_S)
        return v * 2.0

    return (spark.range(0, rows_per_task * PARTS, 1, PARTS)
            .selectExpr("CAST(id AS DOUBLE) AS v")
            .select(sleepy("v").alias("w")))


def _run(spark, reader, rows_per_task: int):
    t0 = time.perf_counter()
    _sleep_query(spark, rows_per_task).write.format("noop") \
        .mode("overwrite").save()
    wall = time.perf_counter() - t0
    m = reader.read_new()
    assert m["executions"] == 1 and m["arrow_eval_nodes"] == 1
    assert m["s"] <= wall
    # per-task sums over PARTS parallel tasks
    assert m["python_run_s"] <= PARTS * wall + TOL
    return m


# display resolution of a per-node total: 0.1 s
TOL = 0.1 * PARTS


def test_python_worker_timings(spark):
    reader = ExecutionReader(spark)
    batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    one, many = 1000, 10 * int(batch)
    kernel_one, kernel_many = PARTS * SLEEP_S, 10 * PARTS * SLEEP_S

    cold = _run(spark, reader, one)
    assert cold["python_start_s"] > 0
    assert cold["python_run_s"] >= \
        cold["python_start_s"] + kernel_one - TOL, cold

    warm = _run(spark, reader, one)
    assert warm["python_start_s"] == 0
    assert warm["python_init_s"] > 0
    assert warm["python_run_s"] >= kernel_one - TOL, warm
    assert warm["bytes_to_python"] >= 8 * one * PARTS
    assert warm["bytes_from_python"] >= 8 * one * PARTS

    heavy = _run(spark, reader, many)
    assert heavy["python_start_s"] == 0
    assert heavy["python_run_s"] >= kernel_many - TOL, heavy
    # the kernel dominates run time once it outweighs the per-task cost
    assert heavy["python_run_s"] <= kernel_many + 2 * TOL + \
        warm["python_run_s"], heavy
    # init does not grow with the kernel
    assert heavy["python_init_s"] < kernel_many / 2, heavy


def test_shuffle_metrics(spark):
    reader = ExecutionReader(spark)
    n = 200_000
    t0 = time.perf_counter()
    spark.range(0, n, 1, 4).repartition(3) \
        .write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    m = reader.read_new()
    assert m["exchanges"] == 1 and m["shuffle_records"] == n
    # a long per row, compressed: well under the unsafe-row size
    assert 0 < m["shuffle_write_bytes"] <= n * 24
    # ns accumulator, shown and parsed on the ms scale: a write that
    # took real time reads as a fraction of the wall time, never 1e6x
    assert 0 <= m["shuffle_write_s"] <= wall
