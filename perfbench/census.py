"""census_stream: the paper's live architecture as an open loop.

A generator thread drops census CSV files on a fixed schedule that does not
slow when the pipeline does; ``streaming.pipeline.start_pipeline`` ingests
them on the program's default 10 s trigger.  Freshness is measured per file,
from its scheduled drop to the end of the epoch that committed it.  Once
the files are committed, one dashboard reader refreshes the reference panel
set over the result tables on a fixed interval, each refresh timed from its
due time.
"""

from __future__ import annotations

import math
import os
import random
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from fractions import Fraction

from pyspark.sql import functions as F

from apache_spark_streaming_project_spark.operators import readside
from apache_spark_streaming_project_spark.schemas import CENSUS_SCHEMA
from apache_spark_streaming_project_spark.streaming import pipeline, simulator

import freshness as fr
from probes import JobSampler, ProgressListener, wait_for
from stats import Outcomes, median, supported_percentile, tail
from calibrate import calibrate
from startup import start_session

# The trigger is the program's default and the reference's, 10 s
# (PipelineConfig.trigger_seconds; BASELINE.md).  An epoch of this load
# took 2.5-7 s on four vCPUs, depending on the machine's load, so a slower
# machine lengthens epochs without tipping the stream into a backlog.  Triggers
# fire on wall-clock multiples of TRIGGER_S; a window of whole trigger
# intervals (the benchmark's is one) spreads the files' waits for their
# trigger evenly over the cycle, whatever phase the window starts at.
TRIGGER_S = 10
# Files hold 3-10 rows, as the reference simulator writes them.  The
# reference drops one file every 10 s, which gives 1 freshness sample in a
# 10 s window.  The rate is instead set by the samples a p90 needs: 100
# files in the window (a p90 needs at least 92 to have 10 samples beyond
# it; stats.supported_percentile).
FILES_PER_S = 10.0
# Dashboard timer interval: 3 refreshes in a 10 s window, the most that a
# refresh on a slow machine did not outlast (at 2.5 s they queued).  The
# reader runs once the window's files are committed, on an idle pipeline:
# a refresh that overlaps an epoch takes two to three times as long as one
# that does not, and how many of a run's refreshes met an epoch, and how
# much the two shared the CPU, was decided by the run's start and the
# machine's load more than by the program.
REFRESH_EVERY_S = TRIGGER_S / 3
WARM_FILES = 4  # before the window; their epoch is not sampled
DRAIN_DEADLINE_S = 30.0  # after the window, for the last files to commit
ANOMALY_THRESHOLD = 3.0
REPLAY_EPOCHS = 3  # traced static replays of recorded epochs
AGE_ORDER = ["Under 18", "18-29", "30-44", "45-64", "65+"]
PANEL_TABLES = {  # panel -> the result table it reads
    "summary_latest": "summary_statistics",
    "age_distribution": "age_group_distribution",
    "education_top8": "education_income",
    "gender_percent": "gender_income",
    "occupation_latest": "occupation_stats",
    "trend": "raw_data",
}


def panels(spark, out_dir: str) -> dict:
    """The dashboard's reference panel set, one callable per panel, each
    built from ``operators.readside`` over the pipeline's result tables."""

    def table(name):
        return pipeline.read_result_table(spark, out_dir, name)

    latest = [F.col("timestamp").desc(), F.col("epoch_id").desc()]

    def summary_latest():  # D10
        return readside.top_k(table("summary_statistics"), latest, 1).collect()

    def age_distribution():  # D1, D5, D15
        df = table("age_group_distribution").withColumn(
            "ts", F.col("timestamp").cast("timestamp")
        )
        recent = readside.trailing_window(df, "ts", "10 MINUTES")
        totals = readside.reaggregate_snapshots(recent, ["age_group"])
        return totals.orderBy(readside.categorical_rank(AGE_ORDER, "age_group")).collect()

    def education_top8():  # D5, D6, D13, D2
        ei = table("education_income")
        top = readside.top_k(
            readside.reaggregate_snapshots(ei, ["education"]),
            [F.col("total").desc(), F.col("education")],
            8,
        )
        split = readside.reaggregate_snapshots(ei, ["education", "income_category"])
        return split.join(top.select("education"), "education", "left_semi").collect()

    def gender_percent():  # D7
        totals = readside.reaggregate_snapshots(
            table("gender_income"), ["gender", "income_category"]
        )
        return readside.percent_of_group(totals, "gender", count_col="total").collect()

    def occupation_latest():  # D8, D14
        newest = readside.latest_per_group(table("occupation_stats"), ["occupation"], latest)
        return readside.top_k(newest, [F.col("count").desc(), F.col("occupation")], 10).collect()

    def trend():  # D1, D11
        recent = readside.trailing_window(table("raw_data"), "timestamp", "5 MINUTES")
        return (
            recent.groupBy(F.window("timestamp", "10 seconds"))
            .count()
            .orderBy("window")
            .collect()
        )

    return {
        "summary_latest": summary_latest,
        "age_distribution": age_distribution,
        "education_top8": education_top8,
        "gender_percent": gender_percent,
        "occupation_latest": occupation_latest,
        "trend": trend,
    }


def _count_files(root: str) -> int:
    return sum(
        1
        for _, _, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    )


def expected_anomalies(rows: list[tuple[int, int]], threshold: float) -> Counter:
    """Recompute the anomaly detector from an epoch's raw rows: the
    ``(epoch_id, hours)`` multiset of rows whose |z| of hours_per_week,
    against the epoch's mean and sample standard deviation, exceeds
    ``threshold``."""
    by_epoch: dict[int, list[int]] = {}
    for epoch, hours in rows:
        by_epoch.setdefault(epoch, []).append(hours)
    out: Counter = Counter()
    for epoch, hs in by_epoch.items():
        n = len(hs)
        if n < 2:
            continue
        s, s2 = sum(hs), sum(h * h for h in hs)
        sd = math.sqrt(float(Fraction(n * s2 - s * s, n * (n - 1))))
        if sd <= 0:
            continue
        mu = s / n
        for h in hs:
            if abs((h - mu) / sd) > threshold:
                out[(epoch, h)] += 1
    return out


class Generator(threading.Thread):
    """Open-loop file drops: file ``i`` is due at ``t0 + (i + 0.5) / rate``;
    the schedule never waits for the pipeline."""

    def __init__(self, in_dir, rng, t0, seconds, tracer):
        super().__init__(daemon=True)
        self.in_dir, self.rng, self.t0, self.tracer = in_dir, rng, t0, tracer
        self.count = int(round(seconds * FILES_PER_S))
        self.due: dict[str, float] = {}
        self.rows: dict[str, int] = {}
        self.late_max = 0.0
        self.error: BaseException | None = None

    def run(self):
        try:
            for i in range(self.count):
                due = self.t0 + (i + 0.5) / FILES_PER_S
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                self.late_max = max(self.late_max, time.time() - due)
                k = self.rng.randint(3, 10)
                with self.tracer.span("simulator.write_batch_file", trace=f"file-{i}"):
                    rows = simulator.make_census_rows(k, self.rng)
                    path = simulator.write_batch_file(self.in_dir, rows, i)
                name = os.path.basename(path)
                self.due[name] = due
                self.rows[name] = k
        except BaseException as exc:  # noqa: BLE001 - reported as a failed run
            self.error = exc


class Reader(threading.Thread):
    """One dashboard client: a refresh of the whole panel set is due every
    ``REFRESH_EVERY_S``.  As with a dashboard timer, the panel callbacks of
    a refresh run concurrently, on ``threads`` threads, and the refresh
    ends with its last panel.  A late refresh starts at once and is timed
    from its due time."""

    def __init__(self, spark, out_dir, t0, seconds, tracer, traced, threads):
        super().__init__(daemon=True)
        self.spark, self.out_dir, self.t0, self.tracer = spark, out_dir, t0, tracer
        self.threads = threads
        self.count = round(seconds / REFRESH_EVERY_S)
        self.traced = traced
        self.latency: list[float] = []
        self.panel_s: dict[str, list[float]] = {k: [] for k in PANEL_TABLES}
        self.files_listed: list[int] = []
        self.errors: list[str] = []
        self.groups: list[str] = []

    def run(self):
        views = panels(self.spark, self.out_dir)
        with ThreadPoolExecutor(max_workers=self.threads) as pool:
            for i in range(self.count):
                due = self.t0 + i * REFRESH_EVERY_S
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                group = None
                if self.traced:
                    group = f"perfbench-refresh-{i}"
                    self.groups.append(group)
                    self.files_listed.append(sum(
                        _count_files(os.path.join(self.out_dir, t))
                        for t in PANEL_TABLES.values()
                    ))
                try:
                    with self.tracer.span("dashboard.refresh", trace=f"refresh-{i}") as sid:
                        for f in [
                            pool.submit(self._panel, name, view, sid, group)
                            for name, view in views.items()
                        ]:
                            f.result()
                    self.latency.append(time.time() - due)
                except Exception as exc:  # noqa: BLE001 - a failed refresh is counted
                    self.errors.append(f"refresh {i}: {type(exc).__name__}: {exc}")

    def _panel(self, name, view, parent, group):
        # callbacks run on pool threads, and a job group is per thread
        if group is not None:
            self.spark.sparkContext.setJobGroup(group, "dashboard refresh")
        start = time.time()
        try:
            view()
        finally:
            end = time.time()
            self.panel_s[name].append(end - start)
            if parent is not None:
                self.tracer.add(f"readside.{name}", start, end, parent,
                                self.tracer.spans[parent]["trace"])


def run(ctx) -> dict:
    """Run the workload; return metrics, outcomes and trace extras."""
    rng = random.Random(ctx.seed)
    work = ctx.work_dir
    in_dir, out_dir, ckpt = (os.path.join(work, d) for d in ("in", "out", "ckpt"))
    os.makedirs(in_dir)
    tracer = ctx.tracer
    outcomes = Outcomes()
    listener = ProgressListener()
    live: dict = {"rows": 0}

    def warmup(spark):
        # The warm-up files wait in the input directory, so the first epoch,
        # several times slower than later ones, runs as soon as the
        # pipeline starts; then one refresh of every panel.  Neither is
        # sampled.  Set-up is the wall time of both: from the start to the
        # end of that epoch, and the refresh; none of it waits for a
        # trigger.
        spark.streams.addListener(listener)
        for j in range(WARM_FILES):
            k = rng.randint(3, 10)
            simulator.write_batch_file(in_dir, simulator.make_census_rows(k, rng), 100_000 + j)
            live["rows"] += k
        live["start"] = time.time()
        q = live["query"] = pipeline.start_pipeline(
            spark,
            pipeline.PipelineConfig(
                input_dir=in_dir,
                output_dir=out_dir,
                checkpoint_dir=ckpt,
                trigger_seconds=TRIGGER_S,
                anomaly_threshold=ANOMALY_THRESHOLD,
            ),
        )
        run_id = str(q.runId)
        if not wait_for(lambda: 0 in fr.executed_batches(listener.for_run(run_id)), 120):
            raise RuntimeError("the warm-up epoch never ran")
        for view in panels(spark, out_dir).values():
            view()

    spark, setup = start_session(ctx.cpus, tracer, warmup, ctx.rss)
    q, q_start = live["query"], live["start"]
    run_id = str(q.runId)
    generated_rows = live["rows"]
    jobs = JobSampler(spark).start() if ctx.traced else None
    undo = [
        tracer.wrap(pipeline, "write_batch", "pipeline.write_batch"),
        tracer.wrap(pipeline, "compute_result_tables", "pipeline.compute_result_tables"),
        tracer.wrap(pipeline, "enrich_census", "operators.enrich_census"),
    ]
    try:
        t0 = time.time() + 0.2
        gen = Generator(in_dir, rng, t0, ctx.seconds, tracer)
        gen.start()
        gen.join()
        if gen.error is not None:
            raise gen.error
        generated_rows += sum(gen.rows.values())

        def committed():
            return all(
                n in fr.read_source_log(os.path.join(ckpt, "sources", "0"))
                for n in gen.due
            )

        wait_for(committed, DRAIN_DEADLINE_S)
        # the epoch that committed the last file reports progress after
        # its commit; give it a moment to arrive
        file_epoch = fr.read_source_log(os.path.join(ckpt, "sources", "0"))
        last = max((file_epoch.get(n, -1) for n in gen.due), default=-1)
        wait_for(
            lambda: last in fr.executed_batches(listener.for_run(run_id)), 10
        )
        reader = Reader(spark, out_dir, time.time() + 0.1, ctx.seconds, tracer,
                        ctx.traced, ctx.cpus)
        reader.start()
        reader.join()
    finally:
        q.stop()
        for u in undo:
            u()
    q_end = time.time()
    speed, calibration_s = calibrate(spark, ctx.cpus, tracer)
    progress = listener.for_run(run_id)
    file_epoch = fr.read_source_log(os.path.join(ckpt, "sources", "0"))
    fresh, missing = fr.freshness(gen.due, file_epoch, progress, speed)
    raw_fresh = list(fr.freshness(gen.due, file_epoch, progress)[0].values())
    for name in gen.due:
        outcomes.record(name not in missing, f"file {name} not committed by the deadline")
    for _ in reader.latency:
        outcomes.record(True)
    for err in reader.errors:
        outcomes.record(False, err)

    checks = _check_outputs(spark, out_dir, generated_rows)

    # Only the epochs' part of freshness is divided by the speed: set-up
    # and refreshes, mostly JVM start, file listing and small reads, did not
    # follow the reference job (see calibrate.py).
    samples = list(fresh.values())
    metrics = {
        "setup_s": setup["setup_s"],
        "latency_typical_s": median(samples),
        "latency_tail_s": tail(samples),
        "pass_s": median(reader.latency),
    }
    on_time = fr.on_time(gen.due, file_epoch, progress, TRIGGER_S)
    extras = {
        "freshness_p50_s": metrics["latency_typical_s"],
        f"freshness_p{supported_percentile(len(samples))}_s": metrics["latency_tail_s"],
        "freshness_samples": len(samples),
        "refresh_p50_s": metrics["pass_s"],
        "refresh_max_s": max(reader.latency, default=None),
        "refresh_samples": len(reader.latency),
        "refresh_s": reader.latency,
        "ingest_rows_per_s": sum(gen.rows[n] for n in on_time) / ctx.seconds,
        "offered_rows_per_s": sum(gen.rows.values()) / ctx.seconds,
        "error_rate": outcomes.error_rate,
        "speed": speed,
        "calibration_s": calibration_s,
        "raw": {
            "freshness_p50_s": median(raw_fresh),
            "freshness_tail_s": tail(raw_fresh),
        },
    }

    layer = {}
    if ctx.traced:
        jobs.stop()
        layer = _layers(
            spark, tracer, jobs, gen, reader, progress, file_epoch, run_id,
            out_dir, in_dir, work, setup, (q_start, q_end),
        )
    return {
        "metrics": metrics,
        "extras": extras,
        "layers": layer,
        "outcomes": outcomes,
        "checks": checks,
    }


def _check_outputs(spark, out_dir: str, generated_rows: int) -> dict[str, str | None]:
    """Exactly-once and anomaly checks over all epochs; each value is None
    when the check passed, else what was wrong."""
    raw = [
        (r["epoch_id"], r["hours_per_week"])
        for r in pipeline.read_result_table(spark, out_dir, "raw_data")
        .select("epoch_id", "hours_per_week")
        .collect()
    ]
    ages = (
        pipeline.read_result_table(spark, out_dir, "age_group_distribution")
        .agg(F.sum("count").alias("n"))
        .collect()[0]["n"]
    )
    got = Counter(
        (r["epoch_id"], r["hours_per_week"])
        for r in pipeline.read_result_table(spark, out_dir, "anomalies")
        .select("epoch_id", "hours_per_week")
        .collect()
    )
    want = expected_anomalies(raw, ANOMALY_THRESHOLD)
    return {
        "raw_data_rows": None if len(raw) == generated_rows
        else f"raw_data has {len(raw)} rows, {generated_rows} generated",
        "age_group_counts": None if ages == generated_rows
        else f"age_group_distribution sums to {ages}, {generated_rows} generated",
        "anomalies": None if got == want
        else f"anomalies differ: {sorted((got - want).items())[:5]} extra, "
        f"{sorted((want - got).items())[:5]} missing",
    }


def _layers(spark, tracer, jobs, gen, reader, progress, file_epoch, run_id,
            out_dir, in_dir, work, setup, q_window) -> dict:
    batches = fr.executed_batches(progress)
    measured = sorted({file_epoch[n] for n in gen.due if n in file_epoch} & set(batches))
    mp = [batches[b] for b in measured]

    def dur(key):
        return median([p["durationMs"].get(key, 0) for p in mp]) or 0

    q_span = tracer.add("streaming.query", q_window[0], q_window[1], trace=run_id)
    per_epoch_jobs, per_epoch_tasks, grouped = [], [], []
    for b in measured:
        start, end = fr.epoch_window(batches[b])
        tracer.add("streaming.batch", start, end, q_span, run_id, batch_id=b,
                   rows=batches[b]["numInputRows"])
        # the stream's own jobs carry its runId as job group; write_batch's
        # sink writes run on pool threads that lose it, so the ungrouped
        # jobs inside the epoch window are counted too (the dashboard's
        # jobs carry their own refresh group)
        inside = [
            j for j in jobs.between(start, end) if j["group"] in (run_id, None)
        ]
        per_epoch_jobs.append(len(inside))
        per_epoch_tasks.append(sum(j["tasks"] for j in inside))
        grouped.append(sum(j["group"] == run_id for j in inside))
    tracer.adopt({"pipeline.write_batch"}, {"streaming.batch"})
    tracer.adopt({"pipeline.compute_result_tables", "operators.enrich_census"},
                 {"pipeline.write_batch"})

    sink_files = [
        sum(
            _count_files(os.path.join(out_dir, t, f"epoch_id={b}"))
            for t in os.listdir(out_dir)
        )
        for b in measured
    ]
    refresh_jobs = [len(jobs.in_group(g)) for g in reader.groups]

    enrich_s, tables_s, sink_s = _replay(spark, tracer, file_epoch, measured, in_dir, work)
    return {
        "session.start_s": setup["session.start_s"],
        "session.warmup_s": setup["session.warmup_s"],
        "simulator.files": len(gen.due),
        "simulator.rows": sum(gen.rows.values()),
        "simulator.late_s_max": gen.late_max,
        "sources.latest_offset_ms_p50": dur("latestOffset"),
        "sources.get_batch_ms_p50": dur("getBatch"),
        "sources.backlog_files_max": fr.backlog_max(gen.due, file_epoch, progress),
        "pipeline.epochs": len(measured),
        "pipeline.rows_per_epoch_p50": median([p["numInputRows"] for p in mp]) or 0,
        "pipeline.trigger_ms_p50": dur("triggerExecution"),
        "pipeline.add_batch_ms_p50": dur("addBatch"),
        "pipeline.query_planning_ms_p50": dur("queryPlanning"),
        "pipeline.wal_commit_ms_p50": dur("walCommit"),
        "pipeline.commit_offsets_ms_p50": dur("commitOffsets"),
        "pipeline.jobs_per_epoch": median(per_epoch_jobs) or 0,
        "pipeline.grouped_jobs_per_epoch": median(grouped) or 0,
        "pipeline.tasks_per_epoch": median(per_epoch_tasks) or 0,
        "pipeline.sink_files_per_epoch": median(sink_files) or 0,
        "operators.enrich_s_p50": median(enrich_s) or 0,
        "operators.result_tables_s_p50": median(tables_s) or 0,
        "pipeline.sink_write_s_p50": median(sink_s) or 0,
        **{f"readside.{k}_s": median(v) or 0 for k, v in reader.panel_s.items()},
        "readside.files_listed": median(reader.files_listed) or 0,
        "readside.jobs_per_refresh": median(refresh_jobs) or 0,
    }


def _replay(spark, tracer, file_epoch, measured, in_dir, work):
    """Re-run recorded epochs as static batches through the layers of
    ``write_batch``: the enrich step with its persist and emptiness guard,
    the 8 result tables (executed, not written), and the whole
    ``write_batch`` with its 8 sink writes."""
    enrich_s, tables_s, sink_s = [], [], []
    for b in measured[:REPLAY_EPOCHS]:
        paths = [os.path.join(in_dir, n) for n, e in file_epoch.items() if e == b]
        df = spark.read.schema(CENSUS_SCHEMA).csv(paths)
        with tracer.span("replay.epoch", trace=f"replay-{b}"):
            t0 = time.perf_counter()
            with tracer.span("operators.enrich"):
                enriched = pipeline.enrich_census(df).persist()
                enriched.isEmpty()
            t1 = time.perf_counter()
            with tracer.span("pipeline.compute_result_tables"):
                for t in pipeline.compute_result_tables(enriched, ANOMALY_THRESHOLD).values():
                    t.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            enriched.unpersist()
            with tracer.span("pipeline.write_batch"):
                pipeline.write_batch(df, b, os.path.join(work, "replay_out"))
            t3 = time.perf_counter()
        enrich_s.append(t1 - t0)
        tables_s.append(t2 - t1)
        sink_s.append(t3 - t2)
    return enrich_s, tables_s, sink_s
