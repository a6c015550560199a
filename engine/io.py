"""Table loading, view registration, and sinks.

``load_tables`` reads the ten driver parquet tables, repairs
``events.ts`` (TIMESTAMP(NANOS) → microsecond timestamp, SURVEY.md
§1.4), registers temp views, and memoizes per (session, sf_dir) so
the ~70 query callables don't re-read parquet footers.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .session import configure

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def session_cache(spark: SparkSession, name: str) -> dict:
    """Per-session mutable cache stored ON the session object itself.

    A module-global keyed by id(spark) outlives the session (and the
    id can be recycled); a WeakKeyDictionary can never evict either,
    because cached DataFrames strongly reference their session — the
    value would keep its own key alive. Attaching the dict to the
    session makes the lifecycle trivially correct: the cache is
    collected exactly when the session is, and a ``newSession()``
    sibling starts empty."""
    d = getattr(spark, name, None)
    if d is None:
        d = {}
        setattr(spark, name, d)
    return d


def evict_persisted_lru(cache: dict, keep: int = 3) -> None:
    """Eviction hook for session caches that hold PERSISTED frames
    (round-11 ADVICE): when a cache is about to grow past ``keep``
    entries, unpersist and drop the oldest ones (dict insertion order
    is the LRU order — entries are only ever inserted, never
    re-inserted). Without this, a long-lived session cycling many
    sf dirs accumulates persisted partitions in executor storage
    until the memory-store evicts them unpredictably; with it, the
    bound is explicit. Values may be a DataFrame or any tuple/list
    containing DataFrames."""
    while len(cache) >= max(1, keep):
        v = cache.pop(next(iter(cache)))
        stack = list(v) if isinstance(v, (tuple, list)) else [v]
        for item in stack:
            if hasattr(item, "unpersist"):
                item.unpersist()


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all driver tables as DataFrames and register temp views.

    Memoized per (session, sf_dir); if this session last registered
    views for a *different* sf_dir, the views are re-pointed so
    SQL-text queries always read the requested scale.
    """
    sf = sf_dir.rstrip("/")
    per_session = session_cache(spark, "_engine_table_cache")
    last = session_cache(spark, "_engine_view_state")
    if sf in per_session:
        if last.get("sf") != sf:
            for t, df in per_session[sf].items():
                df.createOrReplaceTempView(t)
            last["sf"] = sf
        return per_session[sf]
    configure(spark)
    dfs: dict[str, DataFrame] = {}
    for t in TABLES:
        df = spark.read.parquet(f"{sf}/{t}.parquet")
        if t == "events":
            # Normalize ts to a session-tz (UTC) µs timestamp. Older
            # fixtures store bigint nanoseconds (nanosAsLong), newer
            # ones native timestamp[us] (TIMESTAMP_NTZ); DuckDB's
            # epoch_ns(ts)//1000 oracle convention matches both.
            from pyspark.sql.types import LongType

            if isinstance(df.schema["ts"].dataType, LongType):
                df = df.withColumn(
                    "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
                )
            else:
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        dfs[t] = df
        df.createOrReplaceTempView(t)
    per_session[sf] = dfs
    last["sf"] = sf
    return dfs


def spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism FLOOR for compute-heavy narrow
    stages (optimization guide §2, stragglers): a driver fixture
    table arrives as a single parquet row group — 1-3 scan
    partitions — so any expensive per-row work chained narrowly onto
    the scan (shingle md5 explosions, regex kernels, Arrow/pandas
    batches) serializes on one core while the other 31 idle; the
    round-15 profile census measured the worst such keys at 2-4 s
    with 1 task per stage. Round-robin repartition up to the
    session's core count ONLY when the input has fewer partitions —
    at the 100 TB design point inputs already carry orders of
    magnitude more partitions than cores and this is a structural
    no-op (no exchange added). The repartition shuffles the NARROW
    pre-compute rows (cheap), never the post-explode volume. This is
    the only place the engine reads a partition count."""
    sess = df.sparkSession
    p = sess.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def plan_persist(spark: SparkSession, key: str, df: DataFrame,
                 ) -> DataFrame:
    """Persist an intra-plan SHARED SUBTREE for the current
    invocation only (optimization guide §2: compute a reused branch
    once instead of re-executing it per consumer — Catalyst's
    exchange reuse cannot fire when column pruning specializes the
    copies). Unlike the session memos, this deliberately does NOT
    reuse across invocations: each call unpersists the previous
    invocation's frame for the same key and persists a fresh one,
    so every bench/oracle run recomputes from the parquet inputs
    and executor storage holds at most one generation per key."""
    gc = session_cache(spark, "_engine_plan_persist_gc")
    old = gc.pop(key, None)
    if old is not None:
        old.unpersist()
    df = df.persist()
    gc[key] = df
    return df


def table_count(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Memoized row count of a driver table — used by operators that
    size themselves from n (ANN chunk counts, IVF nlist) so repeated
    invocations don't re-run the count job."""
    sf = sf_dir.rstrip("/")
    per_session = session_cache(spark, "_engine_count_cache")
    key = (sf, table)
    if key not in per_session:
        per_session[key] = load_tables(spark, sf)[table].count()
    return per_session[key]


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)
