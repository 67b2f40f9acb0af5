"""Canonicalization invariants (FIXTURES.md §5.1, BASELINE.json north_star):
shuffled-input run ≡ sorted-input run; per-turn text equality under stable
(conv_id, turn_idx) ordering."""

from pyspark.sql import functions as F

from sparklink.canonicalize import canonicalize, dedup_turns


def test_order_invariance(spark, fixture_dfs):
    transcripts, _, _ = fixture_dfs
    shuffled = canonicalize(transcripts)
    sorted_in = canonicalize(transcripts.orderBy("conv_id", "turn_idx"))
    a = shuffled.select("conv_id", "conv_text", "n_turns", "turn_texts")
    b = sorted_in.select("conv_id", "conv_text", "n_turns", "turn_texts")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_per_turn_text_preserved(spark, fixture_dfs):
    """Every turn's cleaned text appears at its turn_idx position."""
    transcripts, _, _ = fixture_dfs
    recs = canonicalize(transcripts)
    from sparklink.preprocess import clean_text

    expect = transcripts.select(
        "conv_id", "turn_idx", F.coalesce(clean_text(F.col("text")), F.lit("")).alias("want")
    )
    got = recs.select("conv_id", F.posexplode("turn_texts").alias("turn_idx", "got"))
    joined = expect.join(got, ["conv_id", "turn_idx"], "inner")
    assert joined.count() == transcripts.count()
    assert joined.filter(F.coalesce(F.col("got"), F.lit("")) != F.col("want")).count() == 0


def test_one_row_per_conversation(spark, fixture_dfs):
    transcripts, _, _ = fixture_dfs
    recs = canonicalize(transcripts)
    n_convs = transcripts.select("conv_id").distinct().count()
    assert recs.count() == n_convs
    assert recs.select("conv_id").distinct().count() == n_convs


def test_turn_collision_dedup(spark):
    rows = [
        ("c1", 0, "user", "hello", None, "2025-01-01T00:00:00Z"),
        ("c1", 0, "user", "hello dupe later ts", None, "2025-01-01T00:00:05Z"),
        ("c1", 1, "assistant", "hi", None, "2025-01-01T00:00:10Z"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = dedup_turns(df)
    assert out.count() == 2
    kept = out.filter(F.col("turn_idx") == 0).select("text").first()[0]
    assert kept == "hello"


def test_duration_and_tools(spark, fixture_dfs):
    transcripts, _, _ = fixture_dfs
    recs = canonicalize(transcripts)
    assert recs.filter(F.col("duration_s") < 0).count() == 0
    bad_tools = recs.filter(
        F.exists("tools", lambda t: t.isNull())
    ).count()
    assert bad_tools == 0


def test_turn_collision_total_order_tiebreak(spark):
    """Collisions tying on (ts, text) but differing in role/tool must be
    broken by the TOTAL payload order (role, then tool), never by
    partition arrival order — at cluster scale arrival order varies per
    run and would make canonicalize nondeterministic."""
    rows = [
        ("c1", 0, "user", "same", "zzz-tool", "2025-01-01T00:00:00Z"),
        ("c1", 0, "assistant", "same", None, "2025-01-01T00:00:00Z"),
        ("c1", 0, "assistant", "same", "aaa-tool", "2025-01-01T00:00:00Z"),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    df = spark.createDataFrame(rows, schema).withColumn("ts", F.to_timestamp("ts"))
    for variant in (df, df.orderBy(F.desc("role")), df.repartition(7)):
        kept = dedup_turns(variant).collect()
        assert len(kept) == 1
        # role sorts first among equal (ts, text): 'assistant' < 'user';
        # among equal roles, tool 'aaa-tool' < 'zzz-tool' (nulls last)
        assert (kept[0]["role"], kept[0]["tool"]) == ("assistant", "aaa-tool")


def test_one_role_conversations_get_null_side(spark):
    """A conversation without a user (assistant) turn canonicalizes with a
    NULL first_user_text (last_assistant_text); a two-role conversation
    keeps both values."""
    rows = [
        ("user_only", 0, "user", "hello there", None, None),
        ("user_only", 1, "user", "anyone home", None, None),
        ("asst_only", 0, "assistant", "i can help", None, None),
        ("both", 0, "user", "first question", None, None),
        ("both", 1, "assistant", "early answer", None, None),
        ("both", 2, "user", "second question", None, None),
        ("both", 3, "assistant", "final answer", None, None),
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    got = {r["conv_id"]: r for r in canonicalize(t).collect()}
    assert got["user_only"]["first_user_text"] == "hello there"
    assert got["user_only"]["last_assistant_text"] is None
    assert got["asst_only"]["first_user_text"] is None
    assert got["asst_only"]["last_assistant_text"] == "i can help"
    assert got["both"]["first_user_text"] == "first question"
    assert got["both"]["last_assistant_text"] == "final answer"
