"""Unit tests of the benchmark's own arithmetic, comparators, generator
schedule and handler wiring. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import data, generator, harness, metrics, oracle, stats
from perfbench.workloads import behov

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentile math ----------------------------------------------------------


@pytest.mark.parametrize("q", [0, 10, 50, 90, 99, 99.9, 100])
def test_percentile_matches_numpy_linear(q):
    xs = list(np.random.default_rng(3).exponential(2.0, size=537))
    assert stats.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_small_samples():
    assert stats.percentile([4.0], 99) == 4.0
    assert stats.percentile([1.0, 3.0], 50) == 2.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_summarize_reports_count_median_and_p90():
    assert stats.summarize([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0, "p90": pytest.approx(2.8)}
    assert stats.summarize([7.5]) == {"n": 1, "p50": 7.5, "p90": 7.5}


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)
    assert stats.quartile_spread([5.0] * 10) == 0.0


# -- oracle comparators -------------------------------------------------------


def test_canonical_forms():
    assert oracle.canonical(None) == "NULL"
    assert oracle.canonical(float("nan")) == "NULL"
    assert oracle.canonical(0.1 + 0.2) == "0.300000"
    assert oracle.canonical(pd.Timestamp("2024-01-02 03:04:05")) == "2024-01-02T03:04:05"
    assert oracle.canonical(7) == "7"


def test_multiset_diff_counts_duplicates():
    assert oracle.multiset_diff([(1,), (1,), (2,)], [(2,), (1,), (1,)], "x") == []
    problems = oracle.multiset_diff([(1,), (1,), (2,)], [(1,), (2,), (3,)], "x")
    assert len(problems) == 1
    assert "1 missing rows [(1,)]" in problems[0]
    assert "1 unexpected rows [(3,)]" in problems[0]


def test_frames_match_ignores_row_and_column_order():
    a = pd.DataFrame({"id": [1, 2], "v": [0.5, None]})
    b = pd.DataFrame({"v": [float("nan"), 0.5000000001], "id": [2, 1]})
    assert oracle.frames_match(a, b, "t") == []
    assert oracle.frames_match(a, b.rename(columns={"v": "w"}), "t")[0].startswith("t: columns differ")
    c = pd.DataFrame({"id": [1, 2], "v": [0.5, 0.25]})
    assert oracle.frames_match(a, c, "t")


# -- open-loop generator ------------------------------------------------------


def test_schedule_covers_every_message_once_on_fixed_ticks():
    files = generator.schedule(rate=200.0, tick=0.25, start=1000.0, seconds=3.0)
    assert [due for due, _, _ in files] == [1000.0 + 0.25 * (k + 1) for k in range(12)]
    assert files[0][1] == 0
    assert all(files[k][2] == files[k + 1][1] for k in range(len(files) - 1))
    assert files[-1][2] == 600
    assert {hi - lo for _, lo, hi in files} == {50}


def test_schedule_assigns_each_message_to_the_tick_it_is_due_in():
    rate, tick, start = 7.0, 0.3, 50.0  # messages do not align with ticks
    for due, lo, hi in generator.schedule(rate, tick, start, seconds=3.0):
        for j in range(lo, hi):
            assert due - tick <= start + j / rate < due + 1e-9


def test_generator_run_writes_on_schedule(tmp_path):
    import time

    out, tmp = tmp_path / "out", tmp_path / "tmp"
    out.mkdir()
    tmp.mkdir()
    start = time.time() + 0.2
    generator.main([
        "--out", str(out), "--tmp", str(tmp),
        "--manifest", str(tmp_path / "manifest.json"), "--rate", "100", "--tick", "0.1",
        "--start", repr(start), "--seconds", "0.5", "--seed", "4",
    ])
    manifest = json.loads((tmp_path / "manifest.json").read_text())
    files = sorted(out.iterdir())
    assert len(files) == 5 and not list(tmp.iterdir())
    lines = [json.loads(l) for f in files for l in f.read_text().splitlines()]
    assert len(lines) == 50 == len(manifest["needs"])
    assert [m["sched_ts"] for m in lines] == pytest.approx([start + j / 100 for j in range(50)])
    assert {m["@event_name"] for m in lines} == {"behov"}
    assert [[m["@id"], m["@behov"][0], m["sched_ts"]] for m in lines] == manifest["needs"]
    assert {m["@behov"][0] for m in lines} == set(generator.NEED_TYPES)
    assert len(manifest["lateness"]) == 5 and min(manifest["lateness"]) >= 0


# -- behov workload wiring and checks -----------------------------------------


def test_packet_handlers_take_no_metadata_slot():
    from rapids_and_rivers_spark.streaming.runtime import _wants_metadata

    for need in generator.NEED_TYPES:
        assert not _wants_metadata(behov.make_solver(need))


def test_solver_answers_its_need():
    from rapids_and_rivers_spark import Packet

    msg = generator.need_message(1, 0, "income", 5.0, 42)
    packet = Packet(msg)
    packet.declare("@behov", "@behovId", "user_id", behov.SOLUTION)
    published = []

    class Ctx:
        def publish(self, message, key=None):
            published.append(message)

    behov.make_solver("income")(packet, Ctx())
    assert len(published) == 1
    assert json.loads(published[0].to_json())[behov.SOLUTION] == {"income": {"user": 42, "ok": True}}


def test_check_needs_flags_missing_duplicate_and_wrong_replies():
    needs = [["n1", "income", 1.0], ["n2", "address", 2.0], ["n3", "identity", 3.0]]
    replies = [
        {"@forårsaket_av": {"id": "n1"}, behov.SOLUTION: {"income": {}}},
        {"@forårsaket_av": {"id": "n2"}, behov.SOLUTION: {"income": {}}},
        {"@forårsaket_av": {"id": "n3"}, behov.SOLUTION: {"identity": {}}},
        {"@forårsaket_av": {"id": "n3"}, behov.SOLUTION: {"identity": {}}},
    ]
    failed, problems = behov.check_needs(needs, replies)
    assert failed == 2
    assert problems == ["n2: reply does not solve address", "n3: 2 replies"]
    assert behov.check_needs(needs[:1], replies[:1]) == (0, [])


# -- inputs and metric names --------------------------------------------------


def test_tables_are_deterministic_per_seed(tmp_path):
    sizes = {"events": 50, "documents": 40}
    data.write_tables(str(tmp_path / "a"), 9, sizes)
    data.write_tables(str(tmp_path / "b"), 9, sizes)
    data.write_tables(str(tmp_path / "c"), 10, sizes)
    for name in sizes:
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
        assert not a.equals(pq.read_table(tmp_path / "c" / f"{name}.parquet"))
    docs = pq.read_table(tmp_path / "a" / "documents.parquet").to_pandas()
    assert (docs.n_chars == docs.text.str.len()).all()


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(metrics.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(metrics.PER_LAYER)
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_end_backlog_reads_the_first_batch_after_the_last_file():
    batches = [{"id": 3, "start_ts": 10.0}, {"id": 4, "start_ts": 14.2}, {"id": 5, "start_ts": 18.5}]
    rows = {3: 4000, 4: 4300, 5: 2100}
    assert behov.end_backlog(batches, rows, last_file=14.0) == 4300
    assert behov.end_backlog(batches, rows, last_file=15.0) == 2100
    assert behov.end_backlog(batches, rows, last_file=19.0) == 0


# -- measurement loop and CPU readings ----------------------------------------


def test_measure_starts_an_operation_only_if_it_still_fits(monkeypatch):
    from perfbench import run as bench_run

    clock = [0.0]
    monkeypatch.setattr(bench_run.time, "perf_counter", lambda: clock[0])

    class Fake:
        def __init__(self, durations):
            self.durations = list(durations)

        def op(self, run, tracer, jobs):
            clock[0] += self.durations.pop(0)
            return {}

    def count(durations, seconds):
        clock[0] = 0.0
        return len(bench_run.measure(Fake(durations), None, seconds, None, None))

    assert count([4, 4, 4], 10.0) == 2  # a third would end at 12
    assert count([12], 10.0) == 1  # at least one
    assert count([3, 7, 1], 10.0) == 2  # judged by the last one's length


def test_cpu_seconds_counts_the_engine_process_tree():
    code = (
        "import time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.3: pass\n"
        "print('busy', flush=True)\n"
        "time.sleep(30)\n"
    )
    child = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "busy"
        own = os.times()
        assert harness.cpu_seconds(child.pid) - (own.user + own.system) >= 0.25
        # a pid that does not exist leaves only this process
        own = os.times()
        assert harness.cpu_seconds(-1) - (own.user + own.system) < 0.05
    finally:
        child.kill()
        child.wait()
