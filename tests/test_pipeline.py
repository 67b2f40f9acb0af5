"""SparkDedupe's cached intermediate frames."""

from __future__ import annotations

from sparklink.pipeline import SparkDedupe


def test_token_stats_cache_unpersists_replaced_frames(spark):
    """A second records frame replaces the memoized token stats; the first
    frame's persisted toks and vocab must be released, not leaked for the
    life of the session."""
    schema = "conv_id string, conv_text string"
    r1 = spark.createDataFrame([("a", "alpha beta"), ("b", "beta gamma")], schema)
    r2 = spark.createDataFrame([("c", "delta epsilon"), ("d", "epsilon zeta")], schema)
    dd = SparkDedupe()
    toks1, vocab1, _ = dd._token_stats(r1)
    assert toks1.is_cached and vocab1.is_cached
    assert dd._token_stats(r1)[0] is toks1  # same records frame: memoized
    toks2, vocab2, _ = dd._token_stats(r2)
    try:
        assert not toks1.is_cached and not vocab1.is_cached
        assert toks2.is_cached and vocab2.is_cached
    finally:
        dd.release_token_stats()
    assert not toks2.is_cached and not vocab2.is_cached
