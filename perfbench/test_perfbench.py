"""Self-tests of the benchmark's own accounting; no Spark session starts.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import random

import pytest

import freshness as fr
import run
from stats import (
    Outcomes,
    Pass,
    pass_seconds,
    percentile,
    samples_beyond,
    supported_percentile,
    tail,
    verdict,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- the percentile rule ---------------------------------------------------


@pytest.mark.parametrize("n", [19, 20, 37, 99, 100, 101, 250])
def test_supported_percentile_is_highest_with_ten_beyond(n):
    values = random.Random(n).sample(range(10_000), n)  # distinct values
    q = supported_percentile(n)

    def above(q):
        return sum(v > percentile(values, q) for v in values)

    if n < 20:
        assert q is None
        return
    assert above(q) >= 10
    assert above(q) == samples_beyond(n, q)
    if q < 90:
        assert above(q + 1) < 10


def test_supported_percentile_values():
    assert supported_percentile(100) == 90
    assert supported_percentile(20) == 52
    assert supported_percentile(1000) == 90  # capped
    assert supported_percentile(19) is None


def test_tail_falls_back_to_maximum():
    assert tail([3.0, 1.0, 2.0]) == 3.0
    xs = [float(i) for i in range(100)]
    assert tail(xs) == pytest.approx(percentile(xs, 90))
    assert tail([]) is None


# --- mapping files to epochs for freshness ---------------------------------


def _source_log(tmp_path, batches: dict[int, list[str]], compact_at: int | None = None):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    for b, names in batches.items():
        entries = [
            {"path": f"file:///data/in/{n}", "timestamp": 1, "batchId": b} for n in names
        ]
        if compact_at is not None and b == compact_at:
            # a compact file repeats every earlier entry
            entries = [
                {"path": f"file:///data/in/{n}", "timestamp": 1, "batchId": bb}
                for bb, ns in batches.items() if bb <= b for n in ns
            ]
            fname = f"{b}.compact"
        else:
            fname = str(b)
        (src / fname).write_text("v1\n" + "\n".join(json.dumps(e) for e in entries) + "\n")
    (src / f".{max(batches)}.crc").write_text("ignored")
    return str(src)


def _progress(batch_id, ts, trigger_ms, executed=True):
    d = {"triggerExecution": trigger_ms, "latestOffset": 5}
    if executed:
        d["addBatch"] = trigger_ms - 10
    return {"batchId": batch_id, "timestamp": ts, "durationMs": d, "numInputRows": 3}


def test_file_epoch_mapping_and_freshness(tmp_path):
    src = _source_log(tmp_path, {0: ["a.csv"], 1: ["b.csv", "c.csv"], 2: ["d.csv"]}, compact_at=2)
    file_epoch = fr.read_source_log(src)
    assert file_epoch == {"a.csv": 0, "b.csv": 1, "c.csv": 1, "d.csv": 2}

    t0 = fr.parse_ts("2026-01-01T00:00:10.000Z")
    progress = [
        _progress(0, "2026-01-01T00:00:10.000Z", 1500),
        _progress(1, "2026-01-01T00:00:11.500Z", 2000),
        _progress(2, "2026-01-01T00:00:13.500Z", 500, executed=False),  # idle
    ]
    due = {"a.csv": t0 - 1.0, "b.csv": t0 + 0.5, "c.csv": t0 + 1.0, "d.csv": t0 + 2.0,
           "e.csv": t0 + 3.0}
    samples, missing = fr.freshness(due, file_epoch, progress)
    # epoch 0 ends at t0 + 1.5, epoch 1 at t0 + 3.5; epoch 2 never executed
    assert samples == pytest.approx({"a.csv": 2.5, "b.csv": 3.0, "c.csv": 2.5})
    assert sorted(missing) == ["d.csv", "e.csv"]
    # at epoch 1's start (t0 + 1.5) b, c were due and uncommitted
    assert fr.backlog_max(due, file_epoch, progress) == 2


def test_freshness_divides_only_the_epoch_by_speed(tmp_path):
    t0 = fr.parse_ts("2026-01-01T00:00:10.000Z")
    progress = [_progress(0, "2026-01-01T00:00:10.000Z", 3000)]
    due = {"a.csv": t0 - 1.0}
    # 1 s waiting for the trigger, then a 3 s epoch on a machine 1.5x slow
    samples, _ = fr.freshness(due, {"a.csv": 0}, progress, speed=1.5)
    assert samples["a.csv"] == pytest.approx(1.0 + 2.0)


def test_on_time_needs_the_epoch_to_end_within_one_trigger():
    # triggers every 10 s; a.csv and b.csv were due before the trigger at
    # t = 20, c.csv before the one at t = 30
    progress = [
        _progress(0, "1970-01-01T00:00:20.000Z", 4000),  # ends at 24
        _progress(1, "1970-01-01T00:00:30.000Z", 12000),  # ends at 42: overran
    ]
    due = {"a.csv": 11.0, "b.csv": 19.9, "c.csv": 25.0, "d.csv": 26.0}
    file_epoch = {"a.csv": 0, "b.csv": 0, "c.csv": 1}
    assert fr.on_time(due, file_epoch, progress, 10) == {"a.csv", "b.csv"}
    # a file that missed its trigger's listing is late even if its epoch is quick
    assert fr.on_time({"e.csv": 15.0}, {"e.csv": 1}, progress[:1] + [
        _progress(1, "1970-01-01T00:00:30.000Z", 1000)], 10) == set()


def test_parse_ts_is_utc():
    assert fr.parse_ts("1970-01-01T00:00:01.250Z") == pytest.approx(1.25)


# --- error_rate accounting and the null pass_s -----------------------------


def test_outcomes_error_rate():
    o = Outcomes()
    assert o.error_rate == 1.0  # nothing attempted is not a success
    for ok in (True, True, False, True):
        o.record(ok, "file x not committed by the deadline")
    assert (o.attempted, o.failed, o.error_rate) == (4, 1, 0.25)
    assert o.reasons == ["file x not committed by the deadline"]


def test_failed_query_voids_pass_time():
    good = Pass(wall_s=10.0)
    bad = Pass(failures={"q2": "ValueError: boom"}, wall_s=7.0)
    assert good.total_s == 10.0
    assert bad.total_s is None  # never the smaller partial total
    assert pass_seconds([good]) == 10.0
    assert pass_seconds([good, bad]) is None
    assert pass_seconds([]) is None


def test_verdict():
    o = Outcomes()
    o.record(True)
    assert verdict({"pass_s": 1.0}, o, {"q": None})
    assert not verdict({"pass_s": None}, o, {"q": None})
    assert not verdict({"pass_s": 1.0}, o, {"q": "value hash differs"})
    o.record(False, "q2 raised")
    assert not verdict({"pass_s": 1.0}, o, {"q": None})


# --- the anomaly recomputation the census check uses -----------------------


def test_expected_anomalies_matches_sample_zscore():
    import census

    hours = [40] * 30 + [1]
    got = census.expected_anomalies([(7, h) for h in hours], 3.0)
    assert got == {(7, 1): 1}
    assert census.expected_anomalies([(1, 40), (1, 40)], 3.0) == {}  # sd == 0


# --- BENCHMARK.json matches what run.py prints ------------------------------


def test_benchmark_json_matches_run():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
