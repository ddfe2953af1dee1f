"""Query registry — the single source of truth for the declared-query
contract (SURVEY.md §2 Table B).

Every operator is registered once with a name, a Spark callable
``(spark, sf_dir) -> DataFrame`` and (when ANSI-expressible) the equivalent
DuckDB oracle SQL.  ``__spark_entry__.py`` re-exports these maps to the
driver; ``tests/test_oracle_parity.py`` replays the same comparison locally.

Discipline enforced here (SURVEY.md §5.3):
  * every computed column aliased identically in Spark and SQL;
  * float aggregates rounded/cast identically on both sides;
  * no now()/rand(); window orderings carry unique tiebreakers;
  * ``events.ts`` always date_trunc'd (parquet ns vs Spark µs).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> driver does rows-only check


REGISTRY: dict[str, QuerySpec] = {}

def register(name: str, oracle: str | None = None):
    """Decorator: add a query to the contract registry.  The registered
    callable applies :data:`..session.SESSION_DEFAULTS` to the session it
    is handed before building the plan, so results are identical under the
    package's session factory and under a caller-provided session."""
    from ..session import ensure_session_defaults

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_defaults(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(name, wrapped, oracle)
        return fn

    return deco


def _load_all_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    from ..operators import (  # noqa: F401
        advanced, aggregates, analytics, joins, llm, multimodal, relational,
        sorts, tpch, windows,
    )
    from ..functions import families, udfs  # noqa: F401
    from ..sources import pysource  # noqa: F401
    from ..streaming import windows as stream_windows  # noqa: F401
    from ..streaming import harness  # noqa: F401
    from ..tables import queries as table_queries  # noqa: F401


def _last_recorded_round() -> dict[str, int]:
    """name -> round of its latest correctness record, read from the
    committed CORRECTNESS_r*.json artifacts."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    last_round: dict[str, int] = {}
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        try:
            with open(p) as f:
                names = json.load(f)
        except (OSError, ValueError):
            continue
        rnd = int(m.group(1)) if m else 0
        for n in names:
            last_round[n] = max(rnd, last_round.get(n, -1))
    return last_round


def _ordered_names() -> list[str]:
    """Registry names, stalest correctness certificate first.  Each
    round's correctness sample takes roughly the first 50 entries of
    ``queries()``, so ordering by last recorded round (never-recorded
    names first at -1; ties keep registration order, which the stable
    sort preserves) makes each round re-certify the oldest green rows."""
    last_round = _last_recorded_round()
    return sorted(REGISTRY, key=lambda n: last_round.get(n, -1))


def query_map() -> dict[str, QueryFn]:
    _load_all_modules()
    return {n: REGISTRY[n].fn for n in _ordered_names()}


def oracle_map() -> dict[str, str]:
    _load_all_modules()
    return {n: REGISTRY[n].oracle for n in _ordered_names()
            if REGISTRY[n].oracle is not None}


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The t1 smoke query: 4-table star join + aggregate + sort
    (SURVEY.md §7.2) — scan, broadcast join, hash agg and sort in one plan."""
    _load_all_modules()
    return REGISTRY["join_multiway"].fn(spark, sf_dir)
