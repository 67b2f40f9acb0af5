"""SparkDedupe's cached intermediate frames."""

from __future__ import annotations

from sparklink.pipeline import SparkDedupe


def test_token_stats_cache_unpersists_replaced_frames(spark):
    """A second records frame replaces the memoized token stats; every
    frame persisted for the first one (toks, tf, vocab) must be released,
    not leaked for the life of the session."""
    schema = "conv_id string, conv_text string, first_user_text string"
    r1 = spark.createDataFrame([("a", "alpha beta", "one"), ("b", "beta gamma", "two")], schema)
    r2 = spark.createDataFrame([("c", "delta epsilon", "three"), ("d", "epsilon zeta", "four")], schema)
    dd = SparkDedupe()
    st1 = dd._token_stats(r1)
    assert st1.toks.is_cached and st1.tf.is_cached and st1.vocab.is_cached
    assert st1.n_docs == 2
    assert dd._token_stats(r1) is st1  # same records frame: memoized
    # a second text column of the same frame adds an entry, evicting nothing
    other = dd._token_stats(r1, "first_user_text")
    assert dd._token_stats(r1) is st1 and st1.vocab.is_cached
    st2 = dd._token_stats(r2)
    try:
        for st in (st1, other):
            assert not st.toks.is_cached and not st.tf.is_cached and not st.vocab.is_cached
        assert st2.toks.is_cached and st2.tf.is_cached and st2.vocab.is_cached
    finally:
        dd.release_token_stats()
    assert not st2.toks.is_cached and not st2.tf.is_cached and not st2.vocab.is_cached
