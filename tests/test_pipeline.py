"""SparkDedupe's materialized stages and cached intermediate frames."""

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


def _transcript_model_dedupe(catalog=None) -> SparkDedupe:
    import json

    from sparklink.score import FieldModel

    art = json.load(open("models/transcript_model.json"))
    return SparkDedupe(model=FieldModel.from_json(json.dumps(art)), threshold=float(art["threshold"]), catalog=catalog)


def test_blocking_map_frees_uncapped_input_in_both_modes(fixture_dfs, tmp_path, monkeypatch):
    """cap_block_sizes reads its input twice (sizes agg + anti-join probe),
    so the blocking_map stage body persists the explode-heavy uncapped map
    to evaluate it once (measured 2x the blocking stage otherwise).
    blocking_map frees that map and the tf frame itself once its stage is
    materialized, with or without a catalog; the capped map still counts,
    and partition frees the rest of the token stats."""
    from sparklink.checkpoints import Catalog

    held: list = []
    stats: list = []
    plan, token_stats = SparkDedupe._blocking_map_plan, SparkDedupe._token_stats

    def spy_plan(self, records):
        out = plan(self, records)
        # the stage body persists the uncapped map (and tf) so the capped
        # map's two reads evaluate the explode-heavy plan once
        assert self._held_frames and all(h.is_cached for h in self._held_frames)
        held.extend(self._held_frames)
        return out

    def spy_stats(self, records, column="conv_text"):
        st = token_stats(self, records, column)
        stats.append(st)
        return st

    monkeypatch.setattr(SparkDedupe, "_blocking_map_plan", spy_plan)
    monkeypatch.setattr(SparkDedupe, "_token_stats", spy_stats)
    transcripts, _, _ = fixture_dfs
    for catalog in (None, Catalog(transcripts.sparkSession, str(tmp_path / "wh"))):
        held.clear()
        dd = _transcript_model_dedupe(catalog)
        bm = dd.blocking_map(dd.canonical_records(transcripts))
        # the uncapped map plus the (record, token) tf frame
        assert len(held) == 2 and dd._held_frames == []
        assert not any(h.is_cached for h in held)
        assert bm.count() > 0
        stats.clear()
        dd.partition(transcripts)
        assert stats and not any(df.is_cached for st in stats for df in (st.toks, st.tf, st.vocab))


def _arrow_eval_rows(spark, since: int) -> int:
    """Rows output by every ArrowEvalPython node (the scoring UDFs) of the
    SQL executions after execution id ``since``, from the SQL status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    executions = store.executionsList().iterator()
    while executions.hasNext():
        eid = executions.next().executionId()
        if eid <= since:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if not node.name().startswith("ArrowEvalPython"):
                continue
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    total += int(v.get().replace(",", ""))
    return total


def _last_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    last = -1
    while executions.hasNext():
        last = max(last, executions.next().executionId())
    return last


def test_catalogless_partition_scores_each_candidate_pair_once(spark, fixture_dfs):
    """Without a catalog every stage is still materialized: clustering's
    connected-components rounds, refinement and confidence join read the
    scored pairs' rows, so each candidate pair passes through the scoring
    UDFs once (a lazy scored_pairs frame ran them 6x over), and the
    returned entity map is a lineage-free LogicalRDD."""
    from sparklink.pairs import candidate_pairs

    transcripts, _, _ = fixture_dfs
    dd = _transcript_model_dedupe()
    since = _last_execution_id(spark)
    em = dd.partition(transcripts)
    assert em.count() == transcripts.select("conv_id").distinct().count()
    assert em._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LogicalRDD"
    em.select("canon_id").distinct().count()  # a later action scores nothing
    n_scored = _arrow_eval_rows(spark, since)
    probe = _transcript_model_dedupe()
    n_candidates = candidate_pairs(probe.blocking_map(probe.canonical_records(transcripts))).count()
    probe.release_token_stats()
    assert n_scored == n_candidates > 0
