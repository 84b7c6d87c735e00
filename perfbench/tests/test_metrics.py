"""Fast checks of the benchmark's own arithmetic (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE)]

import corpus  # noqa: E402
import metrics  # noqa: E402


# -- tail percentile ------------------------------------------------------------


@pytest.mark.parametrize("n,want", [
    (1000, 99.0),     # capped: p99 has 10 samples beyond it at n=1000
    (200, 95.0),      # 10 of 200 beyond p95
    (40, 75.0),
    (20, 50.0),       # exactly 10 beyond the median
    (11, 50.0),       # too few samples for any tail: floor at the median
    (1, 50.0),
])
def test_tail_percentile(n, want):
    assert metrics.tail_percentile(n) == want


def test_tail_leaves_ten_samples_beyond():
    values = list(range(1, 201))  # 1..200
    p, v = metrics.tail(values)
    assert p == 95.0
    assert sum(1 for x in values if x > v) == 10


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        metrics.tail([])


def test_percentile_nearest_rank():
    assert metrics.percentile([5, 1, 3, 2, 4], 50) == 3
    assert metrics.percentile([5, 1, 3, 2, 4], 100) == 5
    assert metrics.percentile([5, 1, 3, 2, 4], 0) == 1


# -- CPU split by process role ----------------------------------------------------


ROLES = {1: "driver", 2: "jvm", 3: "pyworker", 4: "pyworker", 5: "bridge",
         6: "sender"}


def test_cpu_split_self_time_by_role():
    before = {1: (1.0, 0.0), 2: (10.0, 0.0), 3: (2.0, 0.0), 5: (0.5, 0.0)}
    after = {1: (1.5, 0.0), 2: (14.0, 0.0), 3: (5.0, 0.0), 5: (0.75, 0.0)}
    split = metrics.cpu_by_role(before, after, ROLES)
    assert split["driver"] == pytest.approx(0.5)
    assert split["jvm"] == pytest.approx(4.0)
    assert split["pyworker"] == pytest.approx(3.0)
    assert split["bridge"] == pytest.approx(0.25)
    assert metrics.system_cpu(split) == pytest.approx(7.75)


def test_cpu_split_reaped_worker_goes_to_pyworker():
    # worker 4 burned 3s before the interval and 2s inside it, then the
    # daemon (3) reaped it: the daemon's children counter jumps by 5s
    before = {2: (10.0, 0.0), 3: (1.0, 0.0), 4: (3.0, 0.0)}
    after = {2: (11.0, 0.0), 3: (1.0, 5.0)}
    split = metrics.cpu_by_role(before, after, ROLES)
    assert split["pyworker"] == pytest.approx(2.0)
    assert split["jvm"] == pytest.approx(1.0)


def test_cpu_split_new_process_counts_whole_life():
    before = {2: (10.0, 0.0)}
    after = {2: (10.0, 0.0), 4: (1.25, 0.0)}
    assert metrics.cpu_by_role(before, after, ROLES)["pyworker"] == 1.25


def test_cpu_split_sender_is_not_system_cpu():
    before = {1: (1.0, 0.0), 6: (0.0, 0.0)}
    after = {1: (1.0, 4.0)}  # the driver reaped the sender
    split = metrics.cpu_by_role(before, after, ROLES)
    assert metrics.system_cpu(split) == 0.0
    assert split["other"] == 4.0


def test_cpu_split_matches_bench_accounting_without_helpers():
    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    bench = pytest.importorskip("bench")
    before = {1: (1.0, 0.5), 2: (10.0, 0.0), 3: (1.0, 2.0), 4: (3.0, 0.0)}
    after = {1: (2.0, 0.5), 2: (12.0, 0.0), 3: (1.5, 6.0), 7: (0.5, 0.0)}
    roles = {**ROLES, 7: "pyworker"}
    split = metrics.cpu_by_role(before, after, roles)
    assert sum(split.values()) == pytest.approx(
        bench._cpu_delta(before, after))


@pytest.mark.parametrize("cmd,comm,want", [
    ("/usr/bin/java -cp x org.apache.spark.deploy.SparkSubmit", "java",
     "jvm"),
    ("python3 -m pyspark.daemon", "python3", "pyworker"),
    ("python3 perfbench/bridge_child.py cap 1.0", "python3", "bridge"),
    ("python3 perfbench/sender.py 1 2 3", "python3", "sender"),
    ("bash -c true", "bash", "other"),
])
def test_classify(cmd, comm, want):
    assert metrics.classify(cmd, comm, driver_pid=1, pid=2) == want
    assert metrics.classify(cmd, comm, driver_pid=2, pid=2) == "driver"


# -- per-flow lag -----------------------------------------------------------------


def test_flow_lags():
    commits = {0: 100.0, 1: 102.5}
    lags = metrics.flow_lags([99_000, 99_500, 101_000], [0, 0, 1], commits)
    assert lags == pytest.approx([1.0, 0.5, 1.5])


def test_lag_growth_flat_while_keeping_up():
    stamps = list(range(0, 9000, 10))
    lags = [1.0 + (s % 1000) / 1000 for s in stamps]  # per-batch sawtooth
    assert metrics.lag_growth(stamps, lags) == pytest.approx(0.0, abs=0.02)


def test_lag_growth_of_a_falling_behind_pipeline():
    stamps = list(range(0, 9000, 10))
    lags = [1.0 + s / 3000 for s in stamps]  # backlog grows 1 s per 3 s
    assert metrics.lag_growth(stamps, lags) == pytest.approx(2.0, abs=0.02)


def test_flow_lag_of_uncommitted_batch_raises():
    with pytest.raises(KeyError):
        metrics.flow_lags([1000], [7], {0: 2.0})


# -- conservation -------------------------------------------------------------------


def test_conservation_balances():
    sent = {("a", 6): (90, 9000), ("b", 17): (30, 300)}
    committed = {("a", 6): (60, 6000), ("b", 17): (30, 300)}
    lost = {("a", 6): (30, 3000)}
    assert metrics.conservation(sent, committed, lost) == []


def test_conservation_reports_unaccounted_flows():
    sent = {("a", 6): (90, 9000)}
    committed = {("a", 6): (60, 6000)}
    bad = metrics.conservation(sent, committed, {})
    assert len(bad) == 1 and "('a', 6)" in bad[0]


def test_conservation_reports_flows_from_nowhere():
    bad = metrics.conservation({}, {("x", 1): (1, 10)}, {})
    assert len(bad) == 1


def test_corpus_expected_splits_sent_into_committed_and_lost():
    c = corpus.make_corpus(3, 60, ("v5", "v9", "ipfix", "ipfix_str"))
    everything = np.arange(len(c.dgram_exporter))
    got = everything[::3]
    lost = np.setdiff1d(everything, got)
    pairs = lambda d: {k: v[:2] for k, v in d.items()}  # noqa: E731
    assert metrics.conservation(pairs(corpus.expected(c, everything)),
                                pairs(corpus.expected(c, got)),
                                pairs(corpus.expected(c, lost))) == []
    assert sum(v[0] for v in corpus.expected(c, everything).values()) \
        == c.n_flows


def test_corpus_is_seeded():
    a = corpus.make_corpus(5, 30, corpus.FORMATS)
    b = corpus.make_corpus(5, 30, corpus.FORMATS)
    assert corpus.encode(a, 7, 1000, True) == corpus.encode(b, 7, 1000, True)
    assert [e.ip for e in a.exporters] == [e.ip for e in b.exporters]
    c = corpus.make_corpus(6, 30, corpus.FORMATS)
    assert any(corpus.encode(a, i, 1000, True) != corpus.encode(c, i, 1000, True)
               for i in range(30))


def test_datagram_key_reads_each_header():
    c = corpus.make_corpus(1, 40, ("v5", "v9", "ipfix"), seq_base=1 << 24)
    for i in range(len(c.dgram_exporter)):
        version, seq = corpus.datagram_key(corpus.encode(c, i, 5000, i % 2 == 0))
        assert seq == c.dgram_seq[i]
        fmt = c.exporters[c.dgram_exporter[i]].fmt
        assert version == {"v5": 5, "v9": 9, "ipfix": 10}[fmt]


def test_layout_seed_pins_the_exporter_formats():
    fmts = lambda c: {e.ip: e.fmt for e in c.exporters}  # noqa: E731
    warm = corpus.make_corpus(10, 300, corpus.FORMATS, layout_seed=5)
    run = corpus.make_corpus(11, 1000, corpus.FORMATS, layout_seed=5)
    assert fmts(warm) == fmts(run)
    assert not np.array_equal(warm.fields["sa"][:100], run.fields["sa"][:100])


def test_announcer_puts_a_template_in_every_rotation_window():
    rotate, gap = 1.0, 0.04
    announce = corpus.Announcer(1, rotate / 4)
    sends = np.arange(0.0, 5.0, gap)
    marks = [announce(0, t, final=(k == len(sends) - 1))
             for k, t in enumerate(sends)]
    assert marks[0] and marks[-1]
    for o in np.arange(0.0, 4.0, 0.01):  # every full window a file can span
        assert any(m for t, m in zip(sends, marks) if o <= t < o + rotate)


def test_announcer_announces_every_datagram_of_a_slow_exporter():
    announce = corpus.Announcer(2, 0.25)
    assert all(announce(1, t) for t in (0.0, 0.3, 0.6, 0.9))
    assert announce(0, 0.0) and not announce(0, 0.1)
