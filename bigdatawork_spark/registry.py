"""Central operator registry.

Every operator from SURVEY.md §2 registers here: a Spark DataFrame builder
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) the DuckDB oracle
SQL string under the same key.  ``__spark_entry__.py`` exposes these dicts
in registration order: a plain map, with no file reads or source
introspection behind it.

Reference citation: REF:∅ (reference snapshot empty — see SURVEY.md §0);
the binding contract is SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

QUERIES: dict[str, Callable[[Any, str], Any]] = {}
ORACLES: dict[str, str] = {}

#: Keys whose oracle SQL is pinned to the correctness contract's fixed
#: sf0.01 directory because the DuckDB side needs a literal PATH rather
#: than a pre-registered view (duckdb parquet_metadata() rejects subquery
#: arguments — "only table-in-out functions can have subquery
#: parameters").  At the driver's gate (always sf0.01) these compare
#: hash-exact; a cross-scale simulation at any OTHER sf_dir must treat
#: them as rows-only there, or it compares the engine at one scale to
#: the oracle at another (found live: the r16 sf0.1 full sim flagged
#: parquet_layout_audit as a spurious hash mismatch).  The sf-parametric
#: cross-check for these keys lives in tests (test_corpus_ops.py builds
#: the parquet_metadata() comparison at the test's OWN sf_dir).
ORACLE_FIXED_SF: frozenset[str] = frozenset({"parquet_layout_audit"})


def register(key: str, oracle: str | None = None):
    """Register a query builder under ``key``; optionally its oracle SQL.

    Oracle SQL must alias every computed column identically to the Spark
    builder (SURVEY.md §5.3.1) and round floats on both sides (§5.3.2)."""

    def deco(fn):
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLES[key] = oracle.strip()
        fn.query_key = key
        return fn

    return deco
