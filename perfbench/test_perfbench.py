"""Self-tests for the benchmark: the tail and self-time arithmetic, the
generators, and every workload end to end at tiny sizes.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import math
import os

import numpy as np
import pytest

from perfbench import gen
from perfbench.stats import covered_time, self_times, tail
from perfbench.trace import parse_metric


def test_tail_leaves_ten_samples_beyond():
    values = list(range(1, 31))  # 30 samples
    p, v, n = tail(values)
    assert (p, v, n) == (66.0, 20, 30)
    assert sum(x > v for x in values) == 10
    assert tail(list(range(10))) is None
    p, v, _ = tail(list(range(1000)))
    assert p == 99.0 and sum(x > v for x in range(1000)) == 10


def test_self_time_subtracts_covered_children():
    spans = [(0.0, 10.0, None), (1.0, 3.0, 0), (2.0, 5.0, 0), (7.0, 8.0, 0), (2.5, 2.7, 2)]
    st = self_times(spans)
    assert math.isclose(st[0], 10.0 - 4.0 - 1.0)
    assert math.isclose(st[2], 3.0 - 0.2)
    assert math.isclose(st[4], 0.2)
    assert covered_time([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == 3.0


def test_parse_metric_forms():
    assert parse_metric("100,000") == 100000
    assert parse_metric("2.0 KiB") == 2048
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 MiB (1 KiB, 2 KiB, 3 KiB)") == 1.5 * 2**20


def test_ingest_plan_is_seeded_and_delivers_every_file(tmp_path):
    a = gen.plan_ingest(np.random.default_rng(7), 7, 4, 50)
    b = gen.plan_ingest(np.random.default_rng(7), 7, 4, 50)
    assert a == b
    assert a.rejected_files == 2
    sids = [c.sid for c in a.csvs()]
    assert sorted(sids) == sorted(s for d in a.drops for s in d.jsons)
    assert all({c.sid for c in d.csvs} - set(d.jsons) for d in a.drops[:-1]), "a drop without late metadata"
    assert a.pending_rows == 0 and a.prefix(3).pending_rows == 50 - sum(len(c.malformed) for c in a.drops[2].csvs[-1:])
    moves = gen.stage_drops(np.random.default_rng(1), a, str(tmp_path / "staging"))
    for m in moves:
        gen.deliver(m, str(tmp_path / "incoming"))
    listed = [f for _, _, fs in os.walk(tmp_path / "incoming") for f in fs]
    assert len(listed) == a.n_files


def test_ingest_plan_shape_does_not_depend_on_the_seed():
    shape = lambda p: [(len(d.csvs), len(d.jsons), sum(c.bad_header for c in d.csvs),
                        sum(len(c.malformed) for c in d.csvs)) for d in p.drops]
    a = gen.plan_ingest(np.random.default_rng(1), 12, 8, 2000)
    b = gen.plan_ingest(np.random.default_rng(2), 12, 8, 2000)
    assert shape(a) == shape(b) and a.csvs()[0].sid != b.csvs()[0].sid


def test_corpus_shape():
    c = gen.make_corpus(np.random.default_rng(3), 200)
    assert len(c.texts) == 200 + 50 + 50 and c.n_near_dups == 50
    assert len(c.eval_texts) == 200 // 17
    c2 = gen.make_corpus(np.random.default_rng(3), 200)
    assert c.texts == c2.texts


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.run import _prepare_env, _stop_spark

    _prepare_env(str(tmp_path_factory.mktemp("perfbench")), 2)
    from reactionetl_etl_spark.session import get_spark

    s = get_spark("perfbench-selftest")
    yield s
    _stop_spark(s)


@pytest.mark.parametrize("name", ["ingest_incremental", "analytics_mix"])
@pytest.mark.parametrize("traced", [False, True])
def test_workload_tiny(spark, tmp_path, monkeypatch, name, traced):
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[name]
    tiny = {"FILES": 3, "ROWS": 200, "ORIGINALS": 120, "SF": 0.001,
            "QUERIES": cls.QUERIES[:3] if hasattr(cls, "QUERIES") else ()}
    for k, v in tiny.items():
        if hasattr(cls, k):
            monkeypatch.setattr(cls, k, v)
    tracer = Tracer(spark, enabled=traced)
    wl = cls(spark, np.random.default_rng(5), str(tmp_path), tracer, 2)
    try:
        wl.setup(1.0)
        wl.measure(1.0)
        wl.check()
    finally:
        tracer.uninstall()
    assert wl.units and wl.failed == 0, [c for c in wl.checks if not c[1]]
    assert wl.latency() > 0
    if traced:
        walls = [u["wall"] for u in wl.units]
        layers = tracer.layer_metrics(len(walls), sum(walls), 2)
        assert layers["spark.jobs"] > 0
