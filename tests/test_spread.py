"""engine.io.spread is the engine's one partition-count decision: a
frame with fewer partitions than the session's core count is
round-robin repartitioned up to it, anything else passes through
untouched. Both branches are pinned here, and every key that calls
spread must return the same rows with spread replaced by identity —
the floor may change parallelism, never results.
"""
import pytest

import engine.io as io
import engine.queries as Q
from check import canon
from engine.registry import QUERIES, load_all

load_all()

# Every registered key whose build calls spread (directly or through
# another key's builder). test_spread_does_not_change_results asserts
# each one still does, so a key that stops calling spread fails here.
SPREAD_KEYS = [
    "q_variant_funcs", "q_dedup_fuzzy_minhash", "q_dedup_cluster",
    "q_dedup_resolve", "q_dedup_ngram_jaccard", "q_text_quality",
    "q_quality_ablation", "q_text_fingerprint", "q_fuzzy_match",
    "q_dedup_incremental_minhash", "q_dedup_containment",
    "q_dedup_eval", "q_dedup_eval_bands", "q_dedup_cross_source",
    "q_text_redact", "q_contamination", "q_contamination_chunk",
    "q_contamination_cut", "q_dedup_url", "q_contamination_report",
    "q_contamination_bloom_eval", "q_pii_report",
    "q_contamination_bloom", "q_dedup_report", "q_dedup_eval_simhash",
    "q_minhash_calibration", "q_ngram_freq", "q_corpus_curate",
    "q_dsir_weight", "q_span_corruption_mask", "q_robust_stats",
    "q_bootstrap_ci", "q_stream_dedup_incremental_minhash",
    "q_profile_columns", "q_data_card",
]


def _modules():
    """engine.io plus every query module that imported spread by name
    (the set tools/ab_spread.py patches)."""
    return [io] + [getattr(Q, m) for m in dir(Q) if not m.startswith("_")
                   and hasattr(getattr(Q, m), "spread")]


def test_spread_floors_a_narrow_frame_at_the_core_count(spark):
    p = spark.sparkContext.defaultParallelism
    if p < 2:
        pytest.skip("a frame below the core count needs >= 2 cores")
    out = io.spread(spark.range(100).coalesce(1))
    assert out.rdd.getNumPartitions() == p


def test_spread_passes_a_wide_frame_through(spark):
    p = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, p)
    assert io.spread(df) is df
    wider = spark.range(0, 1000, 1, 2 * p)
    assert io.spread(wider) is wider


@pytest.mark.parametrize("key", SPREAD_KEYS)
def test_spread_does_not_change_results(spark, sf_dir, monkeypatch, key):
    real = io.spread
    calls = []

    def identity(df):
        calls.append(1)
        return df

    def run(fn):
        for m in _modules():
            monkeypatch.setattr(m, "spread", fn)
        # a fresh session per arm: session memos must not carry one
        # arm's frames into the other
        sess = spark.newSession()
        df = QUERIES[key](sess, sf_dir)
        return canon([tuple(r) for r in df.collect()], df.columns)

    plain = run(identity)
    assert calls, f"{key} no longer calls spread; unpin it"
    assert run(real) == plain
