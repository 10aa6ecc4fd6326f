"""The executor graph cache keeps one graph per (engine, mode) (Spark-free).

Fake broadcasts stand in for Spark's; each resolve sees the engine's
broadcast dict after a pickle round trip, as a Python worker does."""

import pickle

import pytest

from duckdb_routing_spark.routing import engine as engine_mod
from duckdb_routing_spark.routing.engine import RoutingEngine, _resolve
from duckdb_routing_spark.testing import build_grid_graph


class FakeBroadcast:
    def __init__(self, value):
        self.value = value

    def unpersist(self):
        pass

    def destroy(self):
        self.value = None


class FakeConf:
    def get(self, key, default=None):
        return default


class FakeContext:
    def broadcast(self, value):
        return FakeBroadcast(value)


class FakeSpark:
    conf = FakeConf()
    sparkContext = FakeContext()


@pytest.fixture
def cache(monkeypatch):
    fresh = {}
    monkeypatch.setattr(engine_mod, "_GRAPH_CACHE", fresh)
    return fresh


def _on_worker(eng, mode):
    return _resolve(pickle.loads(pickle.dumps(eng._broadcasts)), mode)


def test_reloads_keep_one_graph_per_mode(cache):
    eng = RoutingEngine(FakeSpark())
    seen = []
    for _ in range(3):
        eng.load_graph(build_grid_graph("auto"), "auto")
        seen.append(_on_worker(eng, "auto"))
        assert _on_worker(eng, "auto") is seen[-1]  # cached between reloads
    assert len({id(g) for g in seen}) == 3  # each reload rebuilt its graph
    assert list(cache) == [(eng._broadcasts.engine_id, "auto")]
    assert cache[(eng._broadcasts.engine_id, "auto")][1] is seen[-1]


def test_two_engines_keep_one_graph_each(cache):
    a, b = RoutingEngine(FakeSpark()), RoutingEngine(FakeSpark())
    a.load_graph(build_grid_graph("auto"), "auto")
    b.load_graph(build_grid_graph("auto"), "auto")
    ga, gb = _on_worker(a, "auto"), _on_worker(b, "auto")
    assert ga is not gb
    b.load_graph(build_grid_graph("auto"), "auto")
    _on_worker(b, "auto")
    assert _on_worker(a, "auto") is ga
    assert sorted(k[0] for k in cache) == sorted([a._broadcasts.engine_id, b._broadcasts.engine_id])


def test_freed_graph_is_dropped_on_next_resolve(cache):
    eng = RoutingEngine(FakeSpark())
    eng.load_graph(build_grid_graph("auto"), "auto")
    eng.load_graph(build_grid_graph("bicycle"), "bicycle")
    _on_worker(eng, "auto")
    _on_worker(eng, "bicycle")
    assert len(cache) == 2
    eng.free("bicycle")
    _on_worker(eng, "auto")
    assert list(cache) == [(eng._broadcasts.engine_id, "auto")]
    eng.free("auto")
    with pytest.raises(RuntimeError, match="not loaded"):
        _on_worker(eng, "auto")
    assert cache == {}
