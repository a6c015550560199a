"""Meta-guards on the driver contract: every registered oracle must
PARSE in DuckDB against the real tables (catches SQL typos and
engine-dialect slips at test time instead of in the driver's
correctness gate), and every auxiliary key list (bench HEADLINE,
rotation cohorts, probe lists) must reference keys that actually
exist in the registry (catches renames silently orphaning a list).
No SparkSession needed — this file runs in milliseconds-to-seconds.
"""
from __future__ import annotations

import duckdb
import pytest

from engine.registry import ORACLE, QUERIES, load_all

load_all()

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS "
                f"SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("key", sorted(ORACLE))
def test_oracle_sql_parses_in_duckdb(duck, key):
    # EXPLAIN binds + plans without executing — a syntax error,
    # unknown function, or missing column fails here, in seconds,
    # instead of in the driver's correctness window.
    duck.sql(f"EXPLAIN {ORACLE[key]}")


def test_bench_headline_keys_exist():
    import bench

    missing = [k for k in bench.HEADLINE if k not in QUERIES]
    assert not missing, missing


def test_scale_probe_keys_exist():
    import scale_probe

    for lst in (scale_probe.DOC_KEYS, scale_probe.REL_KEYS,
                scale_probe.X100_KEYS, scale_probe.REL100_KEYS):
        missing = [k for k in lst if k not in QUERIES]
        assert not missing, missing


def test_load_all_raises_on_a_missing_module(monkeypatch):
    """A query module that fails to import must fail the load, not
    silently drop its keys from the registry."""
    from engine import registry

    monkeypatch.setattr(registry, "_MODULES",
                        registry._MODULES + ["engine.queries.no_such_module"])
    monkeypatch.setattr(registry, "_loaded", False)
    with pytest.raises(ModuleNotFoundError):
        registry.load_all()
