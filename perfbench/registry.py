"""registry_pass: a closed loop with one client over the frozen query list.

Each query is ``entry_queries.QUERIES[name].fn`` run to completion through
the ``noop`` sink, one after the other.  Before the timed passes, a check
pass runs every query once, collects its rows and compares them with the
query's DuckDB ``oracle_sql`` over the same generated tables, using the
order-insensitive hash of ``tools/oracle_check.py``.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
from pyspark.sql import SparkSession

from apache_spark_streaming_project_spark.entry_queries import QUERIES

import freshness as fr
import testdata
from probes import JobSampler, ProgressListener
from querylists import QUERY_LIST, family
from stats import Outcomes, Pass, median, pass_seconds, tail
from oracle_check import TABLES, value_hash
from calibrate import calibrate
from startup import start_session

FAMILIES = ("s", "d", "j", "sql", "x", "m")


def _stop_streams(spark) -> None:
    for q in spark.streams.active:
        q.stop()


def check(spark, con, name: str, data_dir: str) -> str | None:
    """Run one query and compare it with its oracle; None when it agrees."""
    try:
        df = QUERIES[name].fn(spark, data_dir)
        rows = [tuple(r) for r in df.collect()]
        cols = df.columns
    except Exception as exc:  # noqa: BLE001 - a failing query is an outcome
        _stop_streams(spark)
        return f"{name}: spark error {type(exc).__name__}: {exc}"
    finally:
        spark.catalog.clearCache()
    sql = QUERIES[name].sql
    if sql is None:
        return None  # rows-only check: the query ran and returned rows
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    if len(rows) != len(orows):
        return f"{name}: {len(rows)} rows, oracle {len(orows)}"
    if sorted(cols) != sorted(ocols):
        return f"{name}: columns {sorted(cols)}, oracle {sorted(ocols)}"
    if value_hash(cols, rows) != value_hash(ocols, orows):
        return f"{name}: value hash differs from the oracle"
    return None


def _listen_on_new_sessions(listener):
    """Streaming listeners belong to one session, and some registrations
    run their streams in ``spark.newSession()``; attach ``listener`` to
    every session created until the returned undo is called."""
    original = SparkSession.newSession

    def new_session(self):
        session = original(self)
        session.streams.addListener(listener)
        return session

    SparkSession.newSession = new_session
    return lambda: setattr(SparkSession, "newSession", original)


def run(ctx) -> dict:
    tracer = ctx.tracer
    data_dir = os.path.join(ctx.work_dir, "data")
    with tracer.span("testdata.generate"):
        testdata.generate(data_dir, ctx.seed)

    # no separate warm-up: the check pass below runs every query once
    # before the timed passes
    spark, setup = start_session(ctx.cpus, tracer, lambda spark: None, ctx.rss)
    outcomes = Outcomes()
    checks: dict[str, str | None] = {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t + '.parquet')}'"
        )
    t_check = time.perf_counter()
    for name in QUERY_LIST:
        with tracer.span("check.query", trace=f"check-{name}"):
            checks[name] = check(spark, con, name, data_dir)
        outcomes.record(checks[name] is None, checks[name] or "")
    con.close()
    check_s = time.perf_counter() - t_check

    listener = jobs = None
    undo = lambda: None  # noqa: E731
    if ctx.traced:
        listener = ProgressListener()
        spark.streams.addListener(listener)
        undo = _listen_on_new_sessions(listener)
        jobs = JobSampler(spark).start()
    sc = spark.sparkContext
    passes: list[Pass] = []
    records: list[dict] = []
    t_start = time.perf_counter()
    # as many passes as fit in the measured window, and at least one
    while not passes or (
        time.perf_counter() - t_start + passes[-1].wall_s <= ctx.seconds
    ):
        p = Pass()
        p0 = time.perf_counter()
        for name in QUERY_LIST:
            rec = {"name": name, "pass": len(passes), "start": time.time()}
            if ctx.traced:
                sc.setJobGroup(f"perfbench-{name}", name)
            t0 = time.perf_counter()
            error = None
            try:
                with tracer.span("entry_queries.query", trace=f"{name}-{len(passes)}"):
                    with tracer.span("entry_queries.fn"):
                        df = QUERIES[name].fn(spark, data_dir)
                    t1 = time.perf_counter()
                    if ctx.traced:
                        with tracer.span("catalyst.plan"):
                            df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    with tracer.span("execution.noop_write"):
                        df.write.format("noop").mode("overwrite").save()
                    t3 = time.perf_counter()
                rec.update(fn_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
            except Exception as exc:  # noqa: BLE001 - counted as a failed operation
                error = f"{name}: {type(exc).__name__}: {exc}"
                _stop_streams(spark)
            finally:
                spark.catalog.clearCache()
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = time.time()
            if error is not None:
                p.failures[name] = error
            outcomes.record(error is None, error or "")
            records.append(rec)
        p.wall_s = time.perf_counter() - p0
        passes.append(p)
    if ctx.traced:
        undo()
        sc.setJobGroup("", "")
        jobs.stop()
    speed, calibration_s = calibrate(spark, ctx.cpus, tracer)

    per_query = {
        n: median([r["seconds"] for r in records if r["name"] == n and "fn_s" in r])
        for n in QUERY_LIST
    }
    lat = [v for v in per_query.values() if v is not None]
    raw_pass = pass_seconds(passes)
    # Set-up, the JVM's start, is not divided by the speed (calibrate.py).
    # The typical query time is the geometric mean over the queries, as in
    # TPC-H's power metric: the queries' costs differ by up to tenfold, and
    # their median jumped between runs whenever one of the middle queries
    # ran slow; in the geometric mean each query counts alike.
    metrics = {
        "setup_s": setup["setup_s"],
        "latency_typical_s": statistics.geometric_mean(lat) / speed if lat else None,
        "latency_tail_s": tail(lat) / speed if lat else None,
        "pass_s": raw_pass / speed if raw_pass is not None else None,
    }
    extras = {
        "pass_s": metrics["pass_s"],
        "passes": len(passes),
        "query_geomean_s": metrics["latency_typical_s"],
        "query_tail_s": metrics["latency_tail_s"],
        "query_samples": len(lat),
        "error_rate": outcomes.error_rate,
        "speed": speed,
        "calibration_s": calibration_s,
        "raw": {
            "pass_s": raw_pass,
            "query_geomean_s": statistics.geometric_mean(lat) if lat else None,
            "query_tail_s": tail(lat),
            "check_pass_s": check_s,
        },
    }
    layers = {}
    if ctx.traced:
        layers = _layers(records, jobs, listener, setup, tracer)
    return {
        "metrics": metrics,
        "extras": extras,
        "layers": layers,
        "outcomes": outcomes,
        "checks": checks,
        "queries": {n: round(v, 4) if v is not None else None for n, v in per_query.items()},
    }


def _layers(records, jobs, listener, setup, tracer) -> dict:
    """Per-pass medians of the registry and lifecycle layers."""
    n_pass = max(r["pass"] for r in records) + 1
    per_pass: list[dict] = []
    for i in range(n_pass):
        recs = [r for r in records if r["pass"] == i and "fn_s" in r]
        acc = {k: 0.0 for k in ("fn_s", "plan_s", "exec_s", "jobs", "stages", "tasks")}
        fam = {f: 0.0 for f in FAMILIES}
        life = {k: 0.0 for k in (
            "queries", "batches", "batch_jobs", "query_planning_ms_sum",
            "add_batch_ms_sum", "wal_commit_ms_sum", "commit_offsets_ms_sum",
            "latest_offset_ms_sum", "state_commit_ms_sum", "state_rows_max",
            "between_batches_s")}
        for r in recs:
            for k in ("fn_s", "plan_s", "exec_s"):
                acc[k] += r[k]
            js = jobs.between(r["start"], r["end"])
            acc["jobs"] += len(js)
            acc["stages"] += sum(j["stages"] for j in js)
            acc["tasks"] += sum(j["tasks"] for j in js)
            fam[family(r["name"])] += r["seconds"]
            if family(r["name"]) == "m":
                _lifecycle(r, listener, jobs, tracer, life)
        per_pass.append({**acc, **{f"family_s.{f}": v for f, v in fam.items()}, **life})
    tracer.adopt({"streaming.query"}, {"entry_queries.fn"})

    def med(key):
        return median([p[key] for p in per_pass]) or 0

    batches = med("batches")
    out = {
        "session.start_s": setup["session.start_s"],
        "session.warmup_s": setup["session.warmup_s"],
        **{f"registry.{k}": med(k) for k in ("fn_s", "plan_s", "exec_s", "jobs", "stages", "tasks")},
        **{f"registry.family_s.{f}": med(f"family_s.{f}") for f in FAMILIES},
        "lifecycle.queries": med("queries"),
        "lifecycle.batches": batches,
        "lifecycle.jobs_per_batch": med("batch_jobs") / batches if batches else 0,
    }
    for k in ("query_planning_ms_sum", "add_batch_ms_sum", "wal_commit_ms_sum",
              "commit_offsets_ms_sum", "latest_offset_ms_sum", "state_commit_ms_sum",
              "state_rows_max", "between_batches_s"):
        out[f"lifecycle.{k}"] = med(k)
    return out


def _lifecycle(rec, listener, jobs, tracer, life) -> None:
    """Fold the streaming queries one m* registration ran into ``life``."""
    runs: dict[str, list[dict]] = {}
    for p in listener.snapshot():
        if "addBatch" in p.get("durationMs", {}) and rec["start"] <= fr.parse_ts(p["timestamp"]) <= rec["end"]:
            runs.setdefault(p["runId"], []).append(p)
    in_batches = 0.0
    for run_id, ps in runs.items():
        life["queries"] += 1
        q_span = tracer.add("streaming.query", min(fr.epoch_window(p)[0] for p in ps),
                            max(fr.epoch_window(p)[1] for p in ps), trace=run_id,
                            registration=rec["name"])
        for p in ps:
            start, end = fr.epoch_window(p)
            tracer.add("streaming.batch", start, end, q_span, run_id, batch_id=p["batchId"])
            d = p["durationMs"]
            life["batches"] += 1
            life["batch_jobs"] += len(jobs.between(start, end))
            life["query_planning_ms_sum"] += d.get("queryPlanning", 0)
            life["add_batch_ms_sum"] += d.get("addBatch", 0)
            life["wal_commit_ms_sum"] += d.get("walCommit", 0)
            life["commit_offsets_ms_sum"] += d.get("commitOffsets", 0)
            life["latest_offset_ms_sum"] += d.get("latestOffset", 0)
            for op in p.get("stateOperators", []):
                life["state_commit_ms_sum"] += op.get("commitTimeMs", 0)
                life["state_rows_max"] = max(life["state_rows_max"], op.get("numRowsTotal", 0))
            in_batches += d.get("triggerExecution", 0) / 1000.0
    life["between_batches_s"] += max(0.0, rec["fn_s"] - in_batches)
