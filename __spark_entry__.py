"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in the ``engine`` package (engine/queries/*);
this module only adapts the registry to the driver contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402


def _driver_green() -> dict[str, int]:
    """key → latest round with a PASSING driver CORRECTNESS row
    (hash-green, or a completed rows-only check for no-oracle keys),
    read from the driver's own CORRECTNESS_r*.json artifacts. A key
    whose most recent driver row FAILED is treated as having no row
    at all, so it rotates back to the front of the window."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    status: dict[str, bool] = {}
    for p in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", p)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(p) as f:
                data = json.load(f)
        except Exception:
            continue
        if not isinstance(data, dict):
            continue
        for k, v in data.items():
            if not isinstance(v, dict):
                continue
            ok = (v.get("hash_match") is True
                  or (v.get("err") == "no_oracle"
                      and v.get("spark_rows") is not None))
            if rnd >= latest.get(k, 0):
                latest[k] = rnd
                status[k] = ok
    return {k: r for k, r in latest.items() if status.get(k)}


def _rotated(keys, green=None) -> list[str]:
    """Driver-window key order, total over the registry: keys without
    a passing driver row first, in registry order, then driver greens
    by (latest green round, registry index), so the stalest green is
    re-confirmed first. The driver checks the first ~50 keys of this
    order per round; a key whose latest driver row failed has no green
    entry and moves back to the front.

    ``green`` is injectable for unit tests (tests/test_rotation.py);
    by default it is read from the CORRECTNESS_r*.json artifacts."""
    if green is None:
        green = _driver_green()
    idx = {k: i for i, k in enumerate(keys)}  # registry tie-break
    waiting = [k for k in keys if k not in green]
    seen = sorted((k for k in keys if k in green),
                  key=lambda k: (green[k], idx[k]))
    return waiting + seen


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-shaped pricing summary) on sf0.001."""
    from engine import registry

    registry.load_all()
    return registry.QUERIES["q_agg_pricing_summary"](
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from engine import registry

    registry.load_all()
    return {k: registry.QUERIES[k] for k in _rotated(registry.QUERIES)}


def oracle_sql() -> dict[str, str]:
    """Equivalent DuckDB SQL per key (omitted ⇒ rows-only check)."""
    from engine import registry

    registry.load_all()
    return {k: registry.ORACLE[k] for k in _rotated(registry.ORACLE)}
