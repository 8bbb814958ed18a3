"""ProbeMemo: the one memo policy behind every auto-knob probe."""

from __future__ import annotations

from datafusion_bio_functions_spark.operators import _probe_memo
from datafusion_bio_functions_spark.operators._probe_memo import (
    ProbeMemo,
    clear_probe_caches,
)


def test_key_failure_probes_without_storing():
    memo = ProbeMemo()
    calls = []

    def bad_key():
        raise RuntimeError("semanticHash unavailable")

    def probe():
        calls.append(1)
        return len(calls)

    assert memo.get_or_probe(bad_key, probe) == 1
    assert memo.get_or_probe(bad_key, probe) == 2  # no memo: probed again
    assert memo == {}


def test_hit_skips_the_probe_and_bound_evicts_lru():
    memo = ProbeMemo()
    assert memo.get_or_probe(lambda: "a", lambda: 1, bound=2) == 1
    assert memo.get_or_probe(lambda: "a", lambda: 99, bound=2) == 1  # hit
    memo.get_or_probe(lambda: "b", lambda: 2, bound=2)
    assert memo == {"a": 1, "b": 2}
    # a hit makes "a" the most recently used entry ...
    assert memo.get_or_probe(lambda: "a", lambda: 99, bound=2) == 1
    # ... so at the bound the oldest entry, "b", goes and "a" stays
    assert memo.get_or_probe(lambda: "c", lambda: 3, bound=2) == 3
    assert memo == {"a": 1, "c": 3}
    assert list(memo) == ["a", "c"]
    # a stream of one-off keys never evicts the key hit between them
    for i in range(5):
        assert memo.get_or_probe(lambda: "a", lambda: 99, bound=2) == 1
        memo.get_or_probe(lambda: ("once", i), lambda: i, bound=2)
        assert memo == {"a": 1, ("once", i): i}


def test_registry_sees_every_instance_and_clear_empties_each():
    memos = [ProbeMemo() for _ in range(3)]
    registered = set(_probe_memo._REGISTRY)
    assert {id(m) for m in memos} <= registered
    for i, m in enumerate(memos):
        m.get_or_probe(lambda: ("k", i), lambda: i)
    clear_probe_caches()
    assert [m for m in memos if m] == []
    del m, memos
    # a memo nobody holds drops out of the registry
    assert not set(_probe_memo._REGISTRY) - registered
    assert len(_probe_memo._REGISTRY) == len(registered) - 3
