"""The driver's ~50-query correctness window samples the FIRST entries
of queries() in dict order, so the registry's stalest-first ordering
(plans/registry.py) is load-bearing: these tests pin its contract
without needing a Spark session."""

from __future__ import annotations

from data_eng_iceberg_demo_spark.plans import registry


def setup_module(_):
    registry._load_all_modules()


def test_never_sampled_names_front_the_ordering(monkeypatch):
    """The order is a permutation of the registry, and a name no
    CORRECTNESS file has recorded sorts before every recorded one."""
    order = registry._ordered_names()
    assert sorted(order) == sorted(registry.REGISTRY), \
        "order must be a permutation"
    names = list(registry.REGISTRY)
    fake = {n: 5 for n in names[:-2]}  # the last two never recorded
    monkeypatch.setattr(registry, "_last_recorded_round", lambda: fake)
    assert registry._ordered_names()[:2] == names[-2:]


def test_done_tail_ordered_by_staleness():
    """Ordering by last recorded round (oldest first) makes each
    round's ~50-name correctness sample refresh the stalest
    certificates instead of re-recording the same registration-order
    head forever."""
    last_round = registry._last_recorded_round()
    rounds = [last_round.get(n, -1) for n in registry._ordered_names()]
    assert rounds == sorted(rounds), "order must be stalest-first"
    # with several rounds on disk, the head must actually be older than
    # the end (guards against a constant-key degenerate sort)
    if len(set(rounds)) > 1:
        assert rounds[0] < rounds[-1]


def test_oracle_map_is_a_subset_with_identical_order_policy():
    q = registry.query_map()
    o = registry.oracle_map()
    assert set(o) <= set(q)
    # every oracle string is non-trivial SQL
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in o.values())
