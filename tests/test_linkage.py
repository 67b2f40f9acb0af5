"""RecordLink + Gazetteer modes on the two-source fixture
(record_linkage_example / gazetteer_example protocols)."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparklink.canonicalize import canonicalize
from sparklink.checkpoints import Catalog
from sparklink.linkage import SparkGazetteer, SparkRecordLink
from sparklink.pipeline import SparkDedupe
from sparklink.score import FieldModel
from sparklink.synth import make_labeled_pairs, make_transcripts, write_fixture

# the three tables SparkGazetteer.index() keeps for the default model
GAZETTEER_TABLES = {"gazetteer_index", "gazetteer_dfreq_conv_text", "gazetteer_slim"}


@pytest.fixture(scope="module")
def two_source(spark):
    tp, truth = make_transcripts(n_entities=80, seed=11, two_sources=True)
    labeled = make_labeled_pairs(truth, tp, seed=11)
    t = spark.createDataFrame(tp).cache()
    return t, spark.createDataFrame(truth).cache(), spark.createDataFrame(labeled).cache()


@pytest.fixture(scope="module")
def linked(spark, two_source):
    transcripts, truth, labeled = two_source
    rl = SparkRecordLink()
    records = rl.canonical(transcripts, extra_cols=["source"]).cache()
    rl.fit(records, labeled)
    left = records.filter(F.col("source") == "a").drop("source").cache()
    right = records.filter(F.col("source") == "b").drop("source").cache()
    matches = rl.join(left, right).cache()
    return rl, records, left, right, matches, truth


def _truth_pairs(truth):
    labeled = truth.filter(F.col("true_entity_id") != "x")
    a = labeled.filter(F.col("source") == "a").select(
        F.col("true_entity_id").alias("e"), F.col("conv_id").alias("id_a")
    )
    b = labeled.filter(F.col("source") == "b").select(
        F.col("true_entity_id").alias("e"), F.col("conv_id").alias("id_b")
    )
    return a.join(b, "e").select("id_a", "id_b")


def test_recordlink_cross_source_only(linked):
    rl, records, left, right, matches, truth = linked
    left_ids = {r.conv_id for r in left.select("conv_id").collect()}
    right_ids = {r.conv_id for r in right.select("conv_id").collect()}
    for row in matches.collect():
        assert row.id_a in left_ids and row.id_b in right_ids


def test_recordlink_one_to_one(linked):
    *_, matches, truth = linked
    assert matches.groupBy("id_a").count().filter(F.col("count") > 1).count() == 0
    assert matches.groupBy("id_b").count().filter(F.col("count") > 1).count() == 0


def test_recordlink_f1(linked):
    *_, matches, truth = linked
    tp_df = _truth_pairs(truth)
    n_true = tp_df.count()
    # restrict to labeled records on both sides (x excluded)
    labeled_ids = {r.conv_id for r in truth.filter(F.col("true_entity_id") != "x").select("conv_id").collect()}
    found = matches.filter(F.col("id_a").isin(labeled_ids) & F.col("id_b").isin(labeled_ids))
    n_found = found.count()
    n_hit = found.join(tp_df, ["id_a", "id_b"]).count()
    precision = n_hit / n_found if n_found else 1.0
    recall = n_hit / n_true if n_true else 1.0
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, (precision, recall, f1)


def test_recordlink_releases_its_token_stats(spark, tmp_path):
    """fit and join each tokenize their corpus through a SparkDedupe made
    for the one call, which releases its persisted token stats before
    returning: the session holds no more cached frames afterwards."""
    paths = write_fixture(spark, str(tmp_path / "data"), n_entities=30, seed=5, two_sources=True)
    cache = spark._jsparkSession.sharedState().cacheManager()
    n_before = cache.numCachedEntries()
    rl = SparkRecordLink()
    records = rl.canonical(spark.read.parquet(paths["transcripts"]), extra_cols=["source"])
    rl.fit(records, spark.read.parquet(paths["labeled_pairs"]))
    left = records.filter(F.col("source") == "a").drop("source")
    right = records.filter(F.col("source") == "b").drop("source")
    assert rl.join(left, right).collect()
    assert cache.numCachedEntries() <= n_before


def test_gazetteer_search_and_match(spark, two_source, linked):
    transcripts, truth, labeled = two_source
    rl, records, left, right, matches, _ = linked
    gaz = SparkGazetteer(model=rl.model, threshold=rl.threshold)
    gaz.index(right)  # canonical side
    top2 = gaz.search(left, n_matches=2)
    assert top2.groupBy("messy_id").count().agg(F.max("count")).first()[0] <= 2
    assert top2.filter(F.col("rank") == 1).count() > 0
    m = gaz.match(left)
    # match = rank-1 above threshold; every matched pair must also be a
    # top-1 search result
    joined = m.join(top2.filter(F.col("rank") == 1), ["messy_id", "canonical_id"], "left_semi")
    assert joined.count() == m.count()
    # gazetteer match quality vs truth (same protocol as recordlink)
    tp_df = _truth_pairs(truth).withColumnRenamed("id_a", "messy_id").withColumnRenamed("id_b", "canonical_id")
    labeled_ids = {r.conv_id for r in truth.filter(F.col("true_entity_id") != "x").select("conv_id").collect()}
    found = m.filter(F.col("messy_id").isin(labeled_ids) & F.col("canonical_id").isin(labeled_ids))
    n_hit = found.join(tp_df, ["messy_id", "canonical_id"]).count()
    prec = n_hit / max(found.count(), 1)
    rec = n_hit / max(tp_df.count(), 1)
    assert prec >= 0.98 and rec >= 0.95, (prec, rec)
    gaz.unindex()


def test_gazetteer_write_back(spark, two_source, linked):
    transcripts, truth, labeled = two_source
    rl, records, left, right, matches, _ = linked
    gaz = SparkGazetteer(model=rl.model, threshold=rl.threshold)
    gaz.index(right)
    m = gaz.match(left)
    updated, unmatched = gaz.apply_matches(left, m)
    assert updated.count() == left.count()
    n_matched = m.count()
    assert updated.filter(F.col("canonical_id").isNotNull()).count() == n_matched
    assert unmatched.count() == left.count() - n_matched
    gaz.unindex()


def _model_and_threshold():
    art = json.load(open(os.path.join(os.path.dirname(__file__), "..", "models", "transcript_model.json")))
    return FieldModel.from_json(json.dumps(art)), float(art["threshold"])


def _two_transcripts(spark):
    return spark.createDataFrame(
        [("c1", 0, "user", "hello world example text", None, None),
         ("c1", 1, "assistant", "sure thing happy to help", None, None),
         ("c2", 0, "user", "another canonical record here", None, None),
         ("c2", 1, "assistant", "of course let me check", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_gazetteer_reindex_releases_previous_index(spark):
    """index() on an indexed gazetteer releases the previous index's
    cached frames before it builds the new one."""
    recs = canonicalize(_two_transcripts(spark))
    gaz = SparkGazetteer()
    gaz.index(recs)
    first = [gaz._index, gaz._slim, *gaz._dfreq.values()]
    assert all(f.is_cached for f in first)
    gaz.index(recs)
    assert not any(f.is_cached for f in first)
    assert gaz._index.is_cached and gaz._slim.is_cached
    gaz.unindex()


def test_gazetteer_index_persist_and_reload(spark, fixture_dfs, tmp_path):
    """The same canonical records indexed in memory, staged through a
    catalog, and loaded from that catalog by a fresh gazetteer (fresh
    catalog handle, no re-blocking) give identical search rows and corpus
    size; the catalog holds exactly the three index tables."""
    model, threshold = _model_and_threshold()
    transcripts, truth, labeled = fixture_dfs
    records = canonicalize(transcripts).persist()
    canonical = records.limit(40).persist()
    wh = str(tmp_path / "gaz")

    def probe(gaz):
        rows = gaz.search(records, n_matches=2).toPandas().sort_values(["messy_id", "rank"]).reset_index(drop=True)
        n_docs = gaz._n_docs
        gaz.unindex()
        return rows, n_docs

    g0 = SparkGazetteer(model=model, threshold=threshold)
    g0.index(canonical)
    s0, n0 = probe(g0)

    g1 = SparkGazetteer(model=model, threshold=threshold)
    cat = Catalog(spark, wh)
    g1.index(canonical, catalog=cat)
    assert {m["stage"] for m in cat.metrics() if m.get("event") == "write"} == GAZETTEER_TABLES
    s1, n1 = probe(g1)

    g2 = SparkGazetteer(model=model, threshold=threshold)
    g2.load_index(Catalog(spark, wh))
    s2, n2 = probe(g2)

    assert n0 == n1 == n2 == 40
    assert len(s0) > 0
    pd.testing.assert_frame_equal(s1, s0, check_exact=True)
    pd.testing.assert_frame_equal(s2, s0, check_exact=True)


def test_gazetteer_reindex_different_canonical_invalidates(spark, tmp_path):
    """The input fingerprint is part of the index's stage identity."""
    t1, _ = make_transcripts(n_entities=12, seed=1)
    t2, _ = make_transcripts(n_entities=12, seed=2)
    c1 = canonicalize(spark.createDataFrame(t1))
    c2 = canonicalize(spark.createDataFrame(t2))
    # materialize as parquet so _input_fingerprint sees distinct files
    p1, p2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    c1.write.parquet(p1)
    c2.write.parquet(p2)
    c1, c2 = spark.read.parquet(p1), spark.read.parquet(p2)

    wh = str(tmp_path / "gwh")
    gaz = SparkGazetteer()
    gaz.index(c1, catalog=Catalog(spark, wh))
    n1 = gaz._index.count()
    ids1 = {r.conv_id for r in gaz._slim.select("conv_id").collect()}

    # same predicates, DIFFERENT canonical records: must NOT resume stale
    gaz2 = SparkGazetteer()
    cat2 = Catalog(spark, wh)
    gaz2.index(c2, catalog=cat2)
    ids2 = {r.conv_id for r in gaz2._slim.select("conv_id").collect()}
    assert ids2 != ids1, "stale gazetteer_slim resumed despite new input"
    resume_hits = [m for m in cat2.metrics() if m.get("event") == "resume_hit"]
    assert not resume_hits, "different canonical input must invalidate the index stage"

    # identical input DOES resume
    gaz3 = SparkGazetteer()
    cat3 = Catalog(spark, wh)
    gaz3.index(c2, catalog=cat3)
    assert gaz3._index.count() == gaz2._index.count()
    assert [m for m in cat3.metrics() if m.get("event") == "resume_hit"]
    assert n1 >= 0


def test_gazetteer_index_stages_probe_frames_without_canonical_cache(spark):
    """The probe path (search/match) reads ONLY the index, slim payload
    and token stats — index() must leave the canonical records uncached
    (at corpus scale a cache fill of them held GBs the probe path never
    read) while the frames search actually uses are cached, and unindex()
    releases them."""
    dd = SparkDedupe()
    recs = dd.canonical_records(_two_transcripts(spark))
    gaz = SparkGazetteer(model=dd.model, predicates=dd.predicates, threshold=0.5)
    gaz.index(recs)
    assert not recs.is_cached  # the corpus itself is NOT cached
    assert gaz._index.is_cached and gaz._slim.is_cached
    assert all(d.is_cached for d in gaz._dfreq.values())
    held = [gaz._index, gaz._slim, *gaz._dfreq.values()]
    gaz.unindex()
    assert not any(h.is_cached for h in held)


def test_gazetteer_search_without_canonical_corpus(spark, tmp_path):
    """VERDICT r5 #1 done-criterion: a gazetteer loaded from a catalog
    holds no reference to the canonical records, and its search runs
    ENTIRELY from the staged tables with the same results as the
    gazetteer that built them."""
    paths = write_fixture(spark, str(tmp_path / "data"), n_entities=30, seed=11)
    transcripts = spark.read.parquet(paths["transcripts"])
    records = canonicalize(transcripts)
    ids = records.select("conv_id").distinct()
    messy_ids = ids.filter(F.pmod(F.xxhash64("conv_id"), F.lit(10)) == 0)
    messy = records.join(messy_ids, "conv_id", "left_semi").localCheckpoint(eager=True)
    base = records.join(messy_ids, "conv_id", "left_anti").localCheckpoint(eager=True)

    model, threshold = _model_and_threshold()
    cat = Catalog(spark, str(tmp_path / "wh"))
    gaz = SparkGazetteer(model=model, threshold=threshold)
    gaz.index(base, catalog=cat)
    before = {(r["messy_id"], r["canonical_id"], r["rank"]) for r in gaz.search(messy, n_matches=2).collect()}
    gaz.unindex()

    # fresh process proxy: reload from the catalog alone
    gaz2 = SparkGazetteer(model=model, threshold=threshold)
    gaz2.load_index(cat)
    after = {(r["messy_id"], r["canonical_id"], r["rank"]) for r in gaz2.search(messy, n_matches=2).collect()}
    assert after == before and len(after) > 0


def test_match_new_second_batch_reuses_staged_gazetteer(spark, tmp_path):
    """VERDICT r5 #2 done-criterion: a second match_new batch against the
    SAME base must resume the staged gazetteer tables (index, slim
    payload, token stats) instead of re-deriving anything about the
    unchanged base — asserted via the child catalog's resume_hit
    metrics."""
    paths = write_fixture(spark, str(tmp_path / "data"), n_entities=30, seed=3)
    transcripts = spark.read.parquet(paths["transcripts"])
    ids = transcripts.select("conv_id").distinct()
    mod = F.pmod(F.xxhash64("conv_id"), F.lit(10))
    base_t = transcripts.join(ids.filter(mod >= 2), "conv_id", "left_semi").localCheckpoint(eager=True)
    d1 = transcripts.join(ids.filter(mod == 0), "conv_id", "left_semi").localCheckpoint(eager=True)
    d2 = transcripts.join(ids.filter(mod == 1), "conv_id", "left_semi").localCheckpoint(eager=True)

    model, threshold = _model_and_threshold()
    dd = SparkDedupe(model=model, threshold=threshold, catalog=Catalog(spark, str(tmp_path / "wh")))
    base_records = dd.canonical_records(base_t).localCheckpoint(eager=True)
    em0 = dd.partition(base_t).localCheckpoint(eager=True)
    dd.release_token_stats()

    assert dd.match_new(d1, base_records, em0).count() > 0
    child = Catalog(spark, str(tmp_path / "wh" / "match_new_batch"))
    n_before = len(child.metrics())
    assert dd.match_new(d2, base_records, em0).count() > 0
    resumed = sorted(
        m["stage"]
        for m in child.metrics()[n_before:]
        if m.get("event") == "resume_hit" and m["stage"].startswith("gazetteer_")
    )
    # every index table is keyed on the BASE fingerprint -> each resumes
    # once on the second batch (gazetteer_matches is keyed on the batch)
    assert resumed == sorted(GAZETTEER_TABLES), resumed


def test_gazetteer_batch_match_equals_bulk_match(spark):
    """Matching a batch alone gives the bulk match's rows for that batch,
    also when one block key holds more messy records than max_block_size:
    only the index side is capped, so a record's matches do not depend on
    what else arrived with it."""
    from sparklink.blocking import Predicate, whole_field

    model, threshold = _model_and_threshold()
    t, _ = make_transcripts(n_entities=6, seed=5)
    recs = canonicalize(spark.createDataFrame(t)).withColumn("k", F.col("conv_id")).localCheckpoint(eager=True)
    hot, warm = sorted(r.conv_id for r in recs.select("conv_id").collect())[:2]

    def copies(src: str, prefix: str, n: int):
        one = recs.filter(F.col("conv_id") == src)
        return one.crossJoin(spark.range(n)).withColumn("conv_id", F.concat(F.lit(prefix), F.col("id"))).drop("id")

    # five copies of `hot` share its key k; with max_block_size=3 that
    # messy block is oversized in bulk, while each canonical block is a
    # single record
    messy = copies(hot, "m", 5).unionByName(copies(warm, "n", 2)).localCheckpoint(eager=True)
    gaz = SparkGazetteer(
        model=model, threshold=threshold, predicates=[Predicate("k", "k", whole_field)], max_block_size=3
    )
    gaz.index(recs)

    def rows(df):
        return sorted((r.messy_id, r.canonical_id, r.score) for r in df.collect())

    bulk = rows(gaz.match(messy))
    batches = [["m0", "m1", "n0"], ["m2", "m3", "m4", "n1"]]
    alone = sorted(r for ids in batches for r in rows(gaz.match(messy.filter(F.col("conv_id").isin(ids)))))
    gaz.unindex()
    assert alone == bulk
    assert {r[0]: r[1] for r in bulk} == {**{f"m{i}": hot for i in range(5)}, "n0": warm, "n1": warm}
