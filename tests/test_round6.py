"""Round-6 optimization regressions: every change here re-shapes a plan
without changing what it computes — these tests pin the "without
changing" half."""

from __future__ import annotations

from pyspark.sql import functions as F


def _records(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, conv_text string")


VOCAB_ROWS = [
    ("c1", "alpha beta beta gamma delta"),
    ("c2", "alpha beta epsilon zeta"),
    ("c3", "gamma gamma gamma unique1 unique2"),
    ("c4", "alpha alpha alpha alpha"),
    ("c5", "zeta epsilon unique3"),
]


def _stats(spark):
    """(records, tf, dfreq) built without the engine's token-stats memo,
    so the references below stay independent of the path under test."""
    from sparklink.blocking import token_tf

    recs = _records(spark, VOCAB_ROWS)
    tf = token_tf(recs, "conv_text")
    return recs, tf, tf.groupBy("token").agg(F.count("*").alias("df"))


def _tfidf_arrays_windowed(tf, dfreq, n_docs: int, top_m: int = 48, max_df_frac: float = 0.5):
    """Reference for tfidf_token_arrays_from_vocab: the window-ranked form
    the engine used before the per-record vocab (df-filtered join, then a
    row_number window over (w desc, token asc) per record, then the same
    hash / max-weight dedup / L2-normalize tail)."""
    from pyspark.sql import Window

    dfreq = dfreq.filter(F.col("df") <= int(max(1, max_df_frac * n_docs)))
    w = tf.join(F.broadcast(dfreq), "token").withColumn(
        "w", F.col("tf") * F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0))
    )
    win = Window.partitionBy("record_id").orderBy(F.desc("w"), F.asc("token"))
    top = w.withColumn("rn", F.row_number().over(win)).filter(F.col("rn") <= top_m)
    h = F.pmod(F.xxhash64(F.col("token")), F.lit(1 << 31)).cast("int")
    agg = top.groupBy("record_id").agg(F.collect_list(F.struct(h.alias("h"), F.col("w").alias("w"))).alias("hw0"))
    agg = agg.withColumn(
        "hws",
        F.array_sort(
            "hw0",
            lambda a, b: F.when(a["h"] < b["h"], -1)
            .when(a["h"] > b["h"], 1)
            .otherwise(F.when(a["w"] > b["w"], -1).when(a["w"] < b["w"], 1).otherwise(0)),
        ),
    ).drop("hw0")
    agg = agg.withColumn(
        "hw",
        F.filter(
            "hws",
            lambda x, i: (i == 0) | (x["h"] != F.element_at(F.col("hws"), F.greatest(i, F.lit(1)))["h"]),
        ),
    )
    agg = agg.withColumn("norm", F.sqrt(F.aggregate("hw", F.lit(0.0), lambda acc, s: acc + s["w"] * s["w"])))
    safe_w = lambda s: F.when(F.col("norm") > 0, s["w"] / F.col("norm")).otherwise(F.lit(0.0))  # noqa: E731
    return agg.select(
        "record_id",
        F.transform("hw", lambda s: s["h"]).alias("tfh"),
        F.transform("hw", lambda s: safe_w(s).cast("float")).alias("tfw"),
    )


def test_tfidf_vocab_path_matches_stats_path(spark):
    """tfidf_token_arrays_from_vocab (array_sort ranking, no window) must
    be bit-identical to the window-ranked reference — the r6
    exchange-removal rests on this equivalence."""
    from sparklink.blocking import record_token_vocab
    from sparklink.distances import tfidf_token_arrays_from_vocab

    recs, tf, dfreq = _stats(spark)
    n = recs.count()
    old = _tfidf_arrays_windowed(tf, dfreq, n).toPandas().set_index("record_id").sort_index()
    vocab = record_token_vocab(tf, dfreq)
    new = tfidf_token_arrays_from_vocab(vocab, n).toPandas().set_index("record_id").sort_index()
    assert list(old.index) == list(new.index)
    for rid in old.index:
        assert list(old.loc[rid, "tfh"]) == list(new.loc[rid, "tfh"]), rid
        assert list(old.loc[rid, "tfw"]) == list(new.loc[rid, "tfw"]), rid


def _canopy_keys_windowed(tf, dfreq, n_docs: int, column_label: str, top_m: int = 3, max_df_frac: float = 0.2):
    """Reference for tfidf_canopy_keys_from_vocab: the window-ranked form
    the engine used before the per-record vocab (df-bounded join, then a
    row_number window over (w desc, token asc) per record)."""
    from pyspark.sql import Window

    d = dfreq.filter((F.col("df") >= 1) & (F.col("df") <= int(max(1, max_df_frac * n_docs))))
    scored = tf.join(F.broadcast(d), "token").withColumn(
        "w", F.col("tf") * F.log(F.lit(float(n_docs + 1)) / (F.col("df") + 1.0))
    )
    w = Window.partitionBy("record_id").orderBy(F.desc("w"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_m)
        .select(
            F.concat(F.lit(f"canopy({column_label})"), F.lit(":"), F.col("token")).alias("block_key"), "record_id"
        )
    )


def test_canopy_vocab_path_matches_stats_path(spark):
    from sparklink.blocking import record_token_vocab, tfidf_canopy_keys_from_vocab

    recs, tf, dfreq = _stats(spark)
    n = recs.count()
    old = {
        (r["block_key"], r["record_id"])
        for r in _canopy_keys_windowed(tf, dfreq, n, "conv_text", top_m=2).collect()
    }
    vocab = record_token_vocab(tf, dfreq)
    new = {
        (r["block_key"], r["record_id"])
        for r in tfidf_canopy_keys_from_vocab(vocab, n, "conv_text", top_m=2).collect()
    }
    assert old == new and len(old) > 0


def test_connected_components_duplicate_edges_identical(spark):
    """CC dropped the .distinct() on the symmetrized edge list: min-label
    propagation must give identical components under duplicated edges."""
    from sparklink.cluster import connected_components

    edges = [("a", "b"), ("b", "c"), ("d", "e")]
    clean = spark.createDataFrame(edges, "id_a string, id_b string")
    dup = spark.createDataFrame(edges * 3 + [("b", "c")], "id_a string, id_b string")
    got_clean = {r["record_id"]: r["component"] for r in connected_components(clean).collect()}
    got_dup = {r["record_id"]: r["component"] for r in connected_components(dup).collect()}
    assert got_clean == got_dup == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_refine_components_bucketed_many_components(spark):
    """Bucketed HAC refinement (components hashed into buckets, pandas
    groupby inside) must refine every component independently — same
    per-component answers as one-group-per-component dispatch."""
    from sparklink.cluster import refine_components

    rows, comps = [], []
    for k in range(40):
        a, b, c = f"a{k:02d}", f"b{k:02d}", f"c{k:02d}"
        # strong a-b, weak chain to c: average linkage at cut 0.5 keeps
        # a-b together and splits c off (same shape as
        # test_refine_weak_chain_still_splits, repeated across components)
        rows += [(a, b, 0.95), (b, c, 0.55), (a, c, 0.05)]
        comps += [(a, a), (b, a), (c, a)]
    edges = spark.createDataFrame(rows, "id_a string, id_b string, score double")
    cdf = spark.createDataFrame(comps, "record_id string, component string")
    out = refine_components(edges, cdf, threshold=0.5).toPandas().set_index("record_id")["canon_id"]
    assert len(out) == 120
    for k in range(40):
        a, b, c = f"a{k:02d}", f"b{k:02d}", f"c{k:02d}"
        assert out[a] == out[b]
        assert out[c] != out[a]


def test_block_keys_distinct_per_row(spark):
    """build_blocking_map dropped its global dropDuplicates: the per-row
    array_distinct must keep the relation unique even for a custom
    predicate that emits duplicate keys."""
    from sparklink import blocking as B

    df = spark.createDataFrame([("c1", "x")], "conv_id string, t string")
    dup_pred = B.Predicate("dup", "t", lambda c: F.array(c, c, c))
    bm = B.build_blocking_map(df, [dup_pred])
    assert bm.collect() == [("dup:x", "c1")] or [
        (r["block_key"], r["record_id"]) for r in bm.collect()
    ] == [("dup:x", "c1")]
