"""Benchmark inputs, built inside the checkout.

``make_tables`` writes the ten engine tables (the TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``) with the schemas and
value domains of the engine's test fixtures, from a seed.
``ensure_x10`` replicates such a base ten-fold with ``scale_probe.build``.
A built fixture is reused only when every table's row count matches and
its stamp (a sha1 of the generator sources, seed and scale) is current.
``cut_tiles`` and ``near_identity_affines`` make the blocked-array inputs
of the stitch workload.
"""
from __future__ import annotations

import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Tables scale_probe.build replicates ten-fold; the rest are links.
X10_TABLES = ("documents", "embeddings", "lineitem", "orders", "events")

_WORDS = (
    "spark line small fast group customer query row stream the batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join").split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "red", "hot", "cold", "new", "old", "large", "small"]
_PART_NOUN = ["anvil", "bolt", "ring", "rod", "plate", "widget", "gear", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_DAY_US = 86_400_000_000


def row_counts(sf: float) -> dict[str, int]:
    """Row count of every table at scale factor ``sf``."""
    return {
        "region": 5, "nation": 25,
        "customer": round(150_000 * sf), "supplier": round(10_000 * sf),
        "part": round(200_000 * sf), "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf), "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng, n, start: str, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, span_days, n) * _DAY_US
    return pa.array(us.astype("datetime64[us]"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.08:
            # near duplicate: an earlier text with one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[
                int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words) + " dup")
        elif i > 10 and r < 0.09:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    langs = rng.choice(_LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centers[label] + 0.5 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def make_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten tables at scale ``sf`` as one parquet file each
    (one row group, like the engine's fixtures)."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    nl, ne = n["lineitem"], n["events"]
    users = max(15, round(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, nc).tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": rng.choice(_PART_TYPES, np_).tolist(),
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, np_) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, no, 1000, 500000),
        "o_orderdate": _days(rng, no, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(_PRIORITIES, no).tolist()})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, np_, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900, 105000),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _days(rng, nl, "1995-01-02", 2498)})
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, users, ne).astype(np.int64)),
        "event_type": rng.choice(_EVENT_TYPES, ne).tolist(),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=10_000_000)


def count_rows(fixture_dir: str) -> dict[str, int] | None:
    """Row count of every table from parquet metadata, or None when a
    table is missing or unreadable."""
    out = {}
    for t in TABLES:
        path = os.path.join(fixture_dir, f"{t}.parquet")
        try:
            out[t] = pads.dataset(path, format="parquet").count_rows()
        except (OSError, pa.ArrowInvalid):
            return None
    return out


def _stamp(sources, *params) -> str:
    """sha1 of the source files that generate a fixture and its
    parameters."""
    h = hashlib.sha1()
    for p in sources:
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(repr(params).encode())
    return h.hexdigest()


def _read_stamp(out_dir: str) -> str | None:
    try:
        with open(out_dir + ".stamp") as f:
            return f.read().strip()
    except OSError:
        return None


def _write_stamp(out_dir: str, stamp: str) -> None:
    with open(out_dir + ".stamp", "w") as f:
        f.write(stamp + "\n")


def _base_stamp(sf: float, seed: int) -> str:
    return _stamp([os.path.join(HERE, "fixture.py")], sf, seed)


def ensure_tables(out_dir: str, sf: float, seed: int) -> None:
    """Build the base fixture unless a complete, current one exists."""
    want, stamp = row_counts(sf), _base_stamp(sf, seed)
    if count_rows(out_dir) == want and _read_stamp(out_dir) == stamp:
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    make_tables(tmp, sf, seed)
    os.replace(tmp, out_dir)
    if count_rows(out_dir) != want:
        raise RuntimeError(f"fixture {out_dir}: row counts differ from {want}")
    _write_stamp(out_dir, stamp)


def x10_counts(base_dir: str) -> dict[str, int]:
    base = count_rows(base_dir)
    return {t: n * 10 if t in X10_TABLES else n for t, n in base.items()}


def _x10_stamp(base_dir: str) -> str:
    return _stamp([os.path.join(HERE, "fixture.py"),
                   os.path.join(ROOT, "scale_probe.py")], _read_stamp(base_dir))


def x10_ready(base_dir: str, out_dir: str) -> bool:
    """True when ``out_dir`` holds every table at exactly ten times the
    base row count and was built from the current base and sources."""
    return (count_rows(out_dir) == x10_counts(base_dir)
            and _read_stamp(out_dir) == _x10_stamp(base_dir))


def ensure_x10(spark, base_dir: str, out_dir: str) -> None:
    """Build the ten-fold fixture from ``base_dir`` with
    ``scale_probe.build`` unless a ready one exists. A half-written or
    stale build fails the check and is rebuilt, never timed."""
    import scale_probe

    if x10_ready(base_dir, out_dir):
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    base, out = scale_probe.BASE, scale_probe.OUT
    scale_probe.BASE, scale_probe.OUT = base_dir, out_dir
    try:
        scale_probe.build(spark)
    finally:
        scale_probe.BASE, scale_probe.OUT = base, out
    want, got = x10_counts(base_dir), count_rows(out_dir)
    if got != want:
        raise RuntimeError(f"x10 fixture {out_dir}: counts {got}, want {want}")
    _write_stamp(out_dir, _x10_stamp(base_dir))


# ------------------------------------------------------------ stitch inputs


def cut_tiles(arr: np.ndarray, grid, bs, o, pad: int = 0) -> dict:
    """Cut a domain array (3 spatial axes, optional trailing component
    axis) into chunk-with-halo tiles of extent bs+2(o+pad), zero outside
    the domain."""
    ring = [(oo + pad, oo + pad) for oo in o] + [(0, 0)] * (arr.ndim - 3)
    padded = np.pad(arr, ring)
    tiles = {}
    for b in np.ndindex(*grid):
        sl = tuple(slice(b[a] * bs[a], b[a] * bs[a] + bs[a] + 2 * (o[a] + pad))
                   for a in range(3))
        tiles[tuple(int(x) for x in b)] = np.ascontiguousarray(padded[sl])
    return tiles


def near_identity_affines(rng, grid) -> np.ndarray:
    aff = np.zeros(tuple(grid) + (4, 4))
    aff[...] = np.eye(4)
    aff[..., :3, :] += rng.normal(scale=0.05, size=tuple(grid) + (3, 4))
    return aff


def main(argv) -> int:
    """``python3 perfbench/fixture.py x10 BASE OUT``: build the ten-fold
    fixture in a Spark session of its own, so the benchmark's timed
    set-up always starts a cold session."""
    if len(argv) != 3 or argv[0] != "x10":
        print("usage: fixture.py x10 BASE_DIR OUT_DIR", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from engine.session import get_spark
    from probe import stop_spark

    spark = get_spark("perfbench-fixture")
    try:
        ensure_x10(spark, argv[1], argv[2])
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
