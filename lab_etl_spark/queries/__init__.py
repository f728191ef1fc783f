"""Query catalog: every operator from SURVEY.md §2 that is exposed through the
driver harness registers here as a (spark_fn, oracle_sql) pair.

``spark_fn(spark, sf_dir) -> DataFrame`` is the Spark-native implementation;
``oracle_sql`` is the equivalent ANSI SQL DuckDB runs on the same parquet
(None for non-SQL-expressible ops → driver does a rows-only check).

Cross-engine determinism rules (see queries/exact.py):
  * sums/avgs of doubles accumulate in DECIMAL (exact) and cast back to double
  * array folds run left-to-right in both engines (aggregate ↔ list_reduce)
  * every ORDER BY carries a unique tie-break key
  * all computed columns share the same alias on both sides
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None => rows-only check
    doc: str = ""
    bench: bool = True  # include in bench.py headline set
    tags: list[str] = field(default_factory=list)
    priority: int = 0  # lower = earlier in the driver-checked prefix


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    bench: bool = True,
    tags: list[str] | None = None,
    priority: int = 0,
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(name, fn, oracle, doc, bench, tags or [], priority)
        return fn

    return deco


# The driver hash-checks only the FIRST 50 entries of load_all() each
# round, so the registry is ordered stalest-first from the committed
# CORRECTNESS_r{N}.json artifacts: every round's window picks up the
# queries whose newest green driver row is oldest, and a query enters
# the window again as soon as it has waited longest.
_ROOT = Path(__file__).resolve().parents[2]

# Queries whose engine text changed in round R (oracle SQL is frozen, so
# the rewritten engine needs a fresh driver row against it).  Each counts
# as never-checked until an artifact from round >= R shows it green, and
# then drops out of the front by itself.
_RECHECK = {
    # engine rewritten onto operators/iterate.py after the r14 artifact
    "q_entity_resolution": 15,
    "q_fuzzy_match": 15,
    "q_dedup_clusters": 15,
    "q_kcore": 15,
    "q_label_propagation": 15,
    "q_graph_ann": 15,
    "q_pagerank": 15,
    "q_shortest_path": 15,
    "q_similarity_ivf": 15,
}


def last_green(root: Path = _ROOT) -> dict[str, int]:
    """Newest round per query whose ``CORRECTNESS_r{N}.json`` under
    ``root`` records it green: ``hash_match`` true, or a rows-only
    (``no_oracle``) check that returned rows."""
    out: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.rsplit("_r", 1)[1])
        for name, rec in json.loads(path.read_text()).items():
            if rec["hash_match"] is True or (
                rec["err"] == "no_oracle" and rec["spark_rows"] is not None
            ):
                out[name] = max(out.get(name, 0), rnd)
    return out


def load_all() -> dict[str, Query]:
    """Import every query module and return the registry, ordered so the
    driver's 50-entry checked prefix rotates across rounds: stalest
    effective last-green round first (0 = never checked, or in
    ``_RECHECK`` and not green since), then oracle-backed before
    rows-only, then priority, then definition order (the sort is
    stable).  Queries outside the prefix are still bench'd and
    value-verified locally by tests/test_oracle_parity.py at sf0.001 and
    sf0.01 — the identical rows+schema+value-hash check.
    """
    from . import (  # noqa: F401
        advanced,
        analytics,
        dedup,
        instruments,
        lakeops,
        multimodal_q,
        relational,
        scale,
        similarity,
        sketches,
        text,
        timeseries,
    )

    green = last_green()

    def effective(name: str) -> int:
        rnd = green.get(name, 0)
        return rnd if rnd >= _RECHECK.get(name, 0) else 0

    ordered = sorted(
        REGISTRY.values(),
        key=lambda q: (effective(q.name), q.oracle is None, q.priority),
    )
    return {q.name: q for q in ordered}
