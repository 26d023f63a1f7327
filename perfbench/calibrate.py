"""Machine-speed calibration for the gated timings.

On a virtual machine shared with other guests, how fast the same work runs
swings with the host's load, over minutes: one correct registry pass took
7 s in one run and 21 s in another, and within each run the cold check
pass slowed in step with the timed pass.  So each run also times a fixed
reference job, right after its measured section, and divides the gated
timings of Spark work (the registry's query and pass times, the epochs'
part of census freshness) by

    speed = median(reference job times) / REFERENCE_S

A timing so divided reads in seconds of a machine on which the reference
job takes ``REFERENCE_S``, a fixed constant: only the ratio between runs
matters.  The job calls no code of the engine, so a
change to the engine cannot move it, but it runs on the same JVM, threads
and cores as the work it calibrates, and it does the three kinds of work
the workloads spend their time on: one ``range`` aggregate over many rows
on every core (four tasks per core, so the tasks finish together); a run of
small jobs, whose time is planning, scheduling and the Python-JVM round
trip; and a Python UDF, which runs in Python workers.  When the machine
slowed about twofold, the aggregate alone slowed less than the workloads'
timings did, the most in queries with Python UDFs.  One untimed run
first lets the JIT compile the job and starts the Python workers.  The raw
timings stay in the run's record.

Set-up (the JVM's start, the pipeline's first epoch) and the dashboard
refresh (listing and reading many small files) are not divided: the
reference job did not follow them.  In two sets of ten runs, dividing
widened the refresh's spread across runs (from 0.20-0.21 to 0.19-0.30)
and did not narrow set-up's, where it narrowed that of the Spark work
(registry pass from 0.16-0.25 to 0.10, census freshness p50 from
0.14-0.25 to 0.11).
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from stats import median

REFERENCE_S = 1.0
ROWS = 30_000_000
SMALL_JOBS = 3
SMALL_ROWS = 100_000
UDF_ROWS = 100_000
SAMPLES = 3


def _aggregate(spark, rows: int, partitions: int) -> None:
    spark.range(0, rows, 1, partitions).selectExpr("sum(hash(id, id * 7))").collect()


def _job(spark, cores: int) -> None:
    _aggregate(spark, ROWS, 4 * cores)
    for _ in range(SMALL_JOBS):
        _aggregate(spark, SMALL_ROWS, cores)
    mix = F.udf(lambda x: x * 7 % 13, LongType())
    spark.range(0, UDF_ROWS, 1, cores).select(F.sum(mix("id"))).collect()


def calibrate(spark, cores: int, tracer) -> tuple[float, list[float]]:
    """Time the reference job; return the speed (how many times slower
    than the reference machine this run was) and the job's times."""
    samples = []
    with tracer.span("calibration.job", trace="calibration"):
        _job(spark, cores)
        for _ in range(SAMPLES):
            t0 = time.perf_counter()
            _job(spark, cores)
            samples.append(time.perf_counter() - t0)
    return median(samples) / REFERENCE_S, samples
