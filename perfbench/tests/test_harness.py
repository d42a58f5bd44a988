"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402
from harness import (  # noqa: E402
    TickScheduler, Tracer, cpu_times, highest_supported, percentile, samples_beyond, steal_share,
    summarize,
)


# -- percentiles -------------------------------------------------------------

def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 0.5) == 50
    assert percentile(xs, 0.9) == 90
    assert percentile(reversed(xs), 0.9) == 90


def test_tail_percentile_needs_ten_samples_beyond():
    assert samples_beyond(100, 0.9) == 10
    percentile(range(100), 0.9)
    with pytest.raises(ValueError):
        percentile(range(99), 0.9)
    with pytest.raises(ValueError):
        percentile(range(999), 0.99)
    assert percentile(range(3), 0.5) == 1  # the median needs no tail


def test_summary_reports_count_and_highest_supported_tail():
    assert highest_supported(9) == 0.5
    assert highest_supported(100) == 0.9
    assert highest_supported(250) == 0.95
    assert highest_supported(1000) == 0.99
    s = summarize(list(range(200)))
    assert s["n"] == 200 and "p95" in s and "p99" not in s


# -- tick scheduler ------------------------------------------------------------

class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now

    def sleep(self, dt):
        self.now += dt


def test_ticks_run_on_schedule_and_never_wait_for_the_consumer():
    clock = FakeClock()
    sched = TickScheduler(0.1, clock=clock, sleep=clock.sleep)
    starts = []

    def on_tick(i, due):
        starts.append((i, due, clock.now))
        if i == 2:
            clock.now += 0.35  # a slow tick: the next ones start late, none is skipped

    sched.run(on_tick, t0=1.0, n_ticks=6)
    assert len(starts) == 6
    assert [d for _, d, _ in starts] == pytest.approx([1.0, 1.1, 1.2, 1.3, 1.4, 1.5])
    assert sched.lateness[:3] == pytest.approx([0, 0, 0])
    assert sched.lateness[3] == pytest.approx(0.25)
    assert sched.lateness[4] == pytest.approx(0.15)
    assert sched.lateness[5] == pytest.approx(0.05)


# -- tracer ---------------------------------------------------------------------

def test_tracer_records_parent_spans_and_writes_them(tmp_path):
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    wrapped = tr.wrap("call", lambda x: x + 1)
    assert wrapped(1) == 2
    outer, inner, call = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert call["parent"] is None
    assert all(s["end"] >= s["start"] for s in tr.spans)
    tr.write(str(tmp_path / "t" / "spans.json"))
    assert (tmp_path / "t" / "spans.json").stat().st_size > 0

    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == [] and off.wrap("y", len) is len


# -- generators and references ---------------------------------------------------

def test_backlog_is_seeded_and_carries_resends_and_unknown_customers():
    a, b = gen.backlog(7, 2000), gen.backlog(7, 2000)
    assert a.json_lines() == b.json_lines()
    assert gen.backlog(8, 2000).json_lines() != a.json_lines()
    assert len(a) == 2100 and len(set(a.ids.tolist())) == 2000
    assert (a.cust > gen.N_CUSTOMERS).any()


def test_latest_wins_reference():
    ref = gen.LatestWins(1)
    city = ref.city_of
    known = [c for c in range(1, 50) if city[c] >= 0][:3]
    ref.apply(gen.Orders([1, 2, 3], [known[0], known[1], gen.N_CUSTOMERS + 1], [100, 200, 300]))
    ref.apply(gen.Orders([1], [known[0]], [150]))  # re-send with a new amount wins
    assert ref.rows == {1: (city[known[0]], 150), 2: (city[known[1]], 200)}
    assert ref.id_digest() == (2, 3, 5)
    assert sum(n for n, _ in ref.by_city().values()) == 2


def test_doc_stream_plants_novel_ids():
    corpus = gen.corpus(3, 100)
    docs, novel = gen.doc_stream(3, corpus, 200)
    texts = {t for _, t in corpus}
    edits = [i for i, t in docs if i not in novel]
    assert 30 <= len(edits) <= 90
    for i, t in docs:
        words = t.split(" ")
        assert len(words) == gen.DOC_WORDS
        assert (t in texts) is False
        assert words[-1].startswith("edit") == (i not in novel)


def test_serve_resends_change_each_preload_key_at_most_once():
    import workloads

    preload = gen.backlog(2, 5000, resend_ratio=0.0)
    ticks = workloads.serve_ticks(2, 40, preload)
    assert all(len(t) == workloads.SERVE_RATE * workloads.TICK_S for t in ticks)
    pre = dict(zip(preload.ids.tolist(), preload.amount.tolist()))
    resent = [(k, a) for t in ticks for k, a in zip(t.ids.tolist(), t.amount.tolist()) if k in pre]
    assert resent and len({k for k, _ in resent}) == len(resent)
    assert all(a != pre[k] and 20 <= a < 500 for k, a in resent)


# -- reference checks against the real pipeline, on a tiny seed -------------------

@pytest.fixture(scope="module")
def run(tmp_path_factory):
    import workloads

    work = str(tmp_path_factory.mktemp("perfbench"))
    r = workloads.Run(work, seed=11, seconds=1, trace=False, cpus=2, log=lambda m: None)
    r.start_session()
    yield r
    r.stop_session()


def test_sink_checks_pass_on_the_pipeline_and_catch_a_wrong_reference(run):
    import workloads
    from streaming_data_pipeline_azure_spark.sources.sinks import ParquetUpsertSink

    orders = gen.backlog(run.seed, 3000)
    in_dir = run.path("in")
    gen.write_files(orders, in_dir, 3)
    dim = run.load_dimension(run.write_customers())
    sink = ParquetUpsertSink(run.path("sink"))
    run.drain(run.enrichment_query(in_dir, dim, sink, run.path("ckpt"), 1, True))
    ref = gen.LatestWins(run.seed)
    ref.apply(orders)
    workloads.check_sink(run.spark, sink, ref)
    workloads.check_queries({q: workloads.readme_query(run.spark, sink, q)
                             for q in workloads.README_QUERIES}, ref)
    assert workloads.file_batches(run.path("ckpt")).keys() == {"part00000.json", "part00001.json",
                                                                "part00002.json"}
    assert sorted(workloads.commit_times(run.path("ckpt"))) == [0, 1, 2]

    ref.rows.pop(next(iter(ref.rows)))
    with pytest.raises(workloads.CheckFailed):
        workloads.check_sink(run.spark, sink, ref)
    with pytest.raises(workloads.CheckFailed):
        workloads.check_queries({q: workloads.readme_query(run.spark, sink, q)
                                 for q in workloads.README_QUERIES}, ref)


def test_query_latency_averages_the_per_shape_medians():
    import workloads

    samples = {"F1": [3.0, 1.0, 2.0], "A1": [0.1], "A2": [0.2, 0.4, 0.3], "A3": [0.5, 0.7]}
    assert workloads.query_latency(samples) == pytest.approx((2.0 + 0.1 + 0.3 + 0.6) / 4)


def test_steal_share_reads_the_steal_column():
    before = [100, 0, 10, 800, 0, 0, 0, 10, 0, 0]
    after = [150, 0, 20, 900, 0, 0, 0, 50, 0, 0]
    assert steal_share(before, after) == pytest.approx(40 / 200)
    assert len(cpu_times()) >= 8
