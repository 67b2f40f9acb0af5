"""Blocking predicates vs hand-computed keys; skew controls (SURVEY §2.3)."""

from pyspark.sql import functions as F

from sparklink import blocking as B
from sparklink.pairs import candidate_pairs
from sparklink.pipeline import SparkDedupe


def _keys(spark, fn, value):
    df = spark.createDataFrame([(value,)], "v string")
    return set(df.select(F.explode(fn(F.col("v"))).alias("k")).toPandas().k)


def test_predicate_keys(spark):
    assert _keys(spark, B.token_field, "the quick brown the") == {"the", "quick", "brown"}
    assert _keys(spark, B.first_token, "hello world") == {"hello"}
    assert _keys(spark, B.first_two_tokens, "a b c") == {"a b"}
    assert _keys(spark, lambda c: B.first_n_chars(c, 4), "abcdef") == {"abcd"}
    assert _keys(spark, B.common_integers, "call 911 or 311 again 911") == {"911", "311"}
    assert _keys(spark, B.sorted_acronym, "zeta alpha mike") == {"amz"}
    assert _keys(spark, lambda c: B.char_ngrams(c, 3), "ab cd") == {"abc", "bcd"}
    assert _keys(spark, B.exact_hash, "x") == {"9dd4e461268c8034f5c8564e155c67a6"}


def test_predicate_namespacing(spark):
    df = spark.createDataFrame([("c1", "hello world")], "conv_id string, t string")
    preds = [
        B.Predicate("p1", "t", B.first_token),
        B.Predicate("p2", "t", B.first_token),
    ]
    bm = B.build_blocking_map(df, preds)
    keys = set(bm.toPandas().block_key)
    assert keys == {"p1:hello", "p2:hello"}


def test_blocking_map_distinct(spark):
    df = spark.createDataFrame([("c1", "a a a")], "conv_id string, t string")
    bm = B.build_blocking_map(df, [B.Predicate("tok", "t", B.token_field)])
    assert bm.count() == 1


def test_cap_block_sizes(spark):
    rows = [(f"r{i}", "hot") for i in range(50)] + [("a", "cold"), ("b", "cold")]
    bm = spark.createDataFrame([(k, r) for r, k in rows], "block_key string, record_id string")
    capped = B.cap_block_sizes(bm, max_block_size=10)
    assert set(capped.toPandas().block_key) == {"cold"}


def test_blocking_stats_hand_computed(spark):
    rows = [
        ("tk:a", "r1"), ("tk:a", "r2"), ("tk:a", "r3"),  # one 3-block -> 3 pairs
        ("tk:b", "r4"),                                   # singleton -> 0 pairs
        ("p4:x", "r1"), ("p4:x", "r2"), ("p4:y", "r3"), ("p4:y", "r4"),  # two 2-blocks -> 2 pairs
    ]
    bm = spark.createDataFrame(rows, "block_key string, record_id string")
    stats = {r.predicate: r for r in B.blocking_stats(bm).collect()}
    assert set(stats) == {"tk", "p4"}
    tk, p4 = stats["tk"], stats["p4"]
    assert (tk.n_keys, tk.n_entries, tk.max_block, tk.n_candidate_pairs) == (2, 4, 3, 3)
    assert (p4.n_keys, p4.n_entries, p4.max_block, p4.n_candidate_pairs) == (2, 4, 2, 2)


def test_candidate_pairs_ordering_and_distinct(spark):
    bm = spark.createDataFrame(
        [("k1", "b"), ("k1", "a"), ("k2", "a"), ("k2", "b"), ("k2", "c")],
        "block_key string, record_id string",
    )
    pairs = candidate_pairs(bm).toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    got = set(map(tuple, pairs[["id_a", "id_b"]].itertuples(index=False)))
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}


def test_tfidf_canopy_rare_tokens_win(spark):
    rows = [
        ("c1", "common common rareword1"),
        ("c2", "common common rareword1"),
        ("c3", "common common rareword2"),
        ("c4", "common common rareword2"),
        # the token stats lowercase: uppercase text keys like its lowercase twin
        ("c5", "Common COMMON RareWord1"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, conv_text string")
    dd = SparkDedupe()
    st = dd._token_stats(df, "conv_text")
    try:
        assert st.n_docs == len(rows)
        keys = B.tfidf_canopy_keys_from_vocab(st.vocab, st.n_docs, "conv_text", top_m=1, max_df_frac=0.9)
        pdf = keys.toPandas()
    finally:
        dd.release_token_stats()
    by_rec = dict(zip(pdf.record_id, pdf.block_key))
    assert by_rec["c1"] == by_rec["c2"] == by_rec["c5"] == "canopy(conv_text):rareword1"
    assert by_rec["c3"] == by_rec["c4"]
    assert by_rec["c1"] != by_rec["c3"]


def test_candidate_pairs_slices_partition_the_full_set(spark):
    """pair_slice=(k, K) must be a disjoint exact cover of candidate_pairs
    (the N-vs-4N executor scaling proxy splits the scoring job this way)."""
    rows = [(f"b{i % 7}", f"r{i}") for i in range(40)] + [("b0", "r1"), ("b1", "r1")]
    bm = spark.createDataFrame(rows, ["block_key", "record_id"])
    full = {(r.id_a, r.id_b) for r in candidate_pairs(bm).collect()}
    K = 4
    parts = [
        {(r.id_a, r.id_b) for r in candidate_pairs(bm, pair_slice=(k, K)).collect()}
        for k in range(K)
    ]
    assert set().union(*parts) == full
    assert sum(len(p) for p in parts) == len(full)  # disjoint
