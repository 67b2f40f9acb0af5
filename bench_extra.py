"""Round-6 optimization harness (bench.py stays FROZEN — guide §1.4).

Modes:
  --er-dissect   fine-grained timing of the er_full_pipeline substages
                 (token_stats / predicate keys / canopy / minhash bands /
                 cap / pairs / hydrate / score / CC / refine / entity_map),
                 each forced with a noop-style materialization.
  --headline N   run the 9 headline queries N times each (reports every
                 sample + min) without the ER pipeline.
  --plans OUT    write .explain("formatted") for every headline query to
                 OUT/<query>.txt (plus ER pipeline stage plans).
  --er N         run the full ER pipeline N times (bench.run_er_pipeline).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import bench  # the frozen harness: reuse fixture/model helpers

SF_DIR = bench.SF_DIR
CPUS = bench.CPUS


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, label, thunk, out, force="noop"):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    r = thunk()
    if force == "noop":
        _noop(r)
    elif force == "count":
        r = r  # thunk already forced
    out[label] = round(time.time() - t0, 2)
    spark.sparkContext.setJobDescription(None)
    return r


def main_er_dissect() -> None:
    from pyspark.sql import functions as F

    from sparklink import blocking as B
    from sparklink import distances as D
    from sparklink import pairs as P
    from sparklink.canonicalize import canonicalize
    from sparklink.cluster import connected_components, entity_map, refine_components
    from sparklink.pipeline import SparkDedupe, default_transcript_predicates

    spark = bench._get_spark(f"local[{CPUS}]")
    fixture = bench.ensure_fixture(spark, bench.BENCH_ENTITIES)
    model, threshold = bench.load_static_model()
    dd = SparkDedupe(model=model, predicates=default_transcript_predicates(), threshold=threshold)
    transcripts = spark.read.parquet(f"{fixture}/transcripts.parquet")
    t: dict = {}

    _timed(spark, "read_transcripts", lambda: transcripts, t)
    _timed(spark, "canonicalize_noop", lambda: canonicalize(transcripts), t)
    records = dd.canonical_records(transcripts)
    n = records.count()

    # blocking subparts
    _timed(spark, "predicate_keys", lambda: B.build_blocking_map(records, dd.predicates), t)
    st = dd._token_stats(records)
    _timed(spark, "token_stats_vocab", lambda: st.vocab, t)
    _timed(
        spark,
        "canopy_keys",
        lambda: B.tfidf_canopy_keys_from_vocab(st.vocab, st.n_docs, "conv_text", top_m=4),
        t,
    )
    _timed(spark, "minhash_band_keys", lambda: B.minhash_band_keys_from_tokens(st.toks), t)
    # the stage body, materialized as the stage is; the token stats stay
    # held until scoring is timed
    t0 = time.time()
    bm = dd._blocking_map_plan(records).localCheckpoint(eager=True)
    t["blocking_full_stage"] = round(time.time() - t0, 2)

    _timed(spark, "candidate_pairs", lambda: P.candidate_pairs(bm), t)
    t0 = time.time()
    hyd = dd.hydrated_pairs(records, bm).localCheckpoint(eager=True)
    n_pairs = hyd.count()
    t["hydrate"] = round(time.time() - t0, 2)
    _timed(spark, "score_from_hydrated", lambda: dd.score_hydrated(hyd), t)
    t0 = time.time()
    scored = dd.score_hydrated(hyd).select("id_a", "id_b", "score").localCheckpoint(eager=True)
    scored.count()
    t["score_materialize"] = round(time.time() - t0, 2)
    dd.release_token_stats()

    edges = scored.filter(F.col("score") >= threshold).select("id_a", "id_b", "score")
    t0 = time.time()
    comps = connected_components(edges.select("id_a", "id_b"))
    comps = comps.localCheckpoint(eager=True)
    comps.count()
    t["connected_components"] = round(time.time() - t0, 2)
    t0 = time.time()
    refined = refine_components(scored, comps, threshold)
    refined = refined.localCheckpoint(eager=True)
    refined.count()
    t["refine_components"] = round(time.time() - t0, 2)
    t0 = time.time()
    em = entity_map(scored, records, threshold=threshold, refine=True)
    em = em.localCheckpoint(eager=True)
    em.select("canon_id").distinct().count()
    t["entity_map_full"] = round(time.time() - t0, 2)

    t["n_records"] = n
    t["n_pairs"] = n_pairs
    print(json.dumps(t))


def main_headline(reps: int) -> None:
    from sparklink.queries import QUERIES

    spark = bench._get_spark(f"local[{CPUS}]")

    def _minhash_prod(spark_, sf_dir):
        from sparklink import dedup

        docs = spark_.read.parquet(f"{sf_dir}/documents.parquet")
        return dedup.minhash_lsh_pairs(docs, k=32, bands=8)

    overrides = {"dedup_minhash_lsh": _minhash_prod}
    out: dict = {}
    for name in bench.HEADLINE:
        fn = overrides.get(name, QUERIES[name])
        samples = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            bench._materialize(fn(spark, SF_DIR))
            samples.append(round(time.time() - t0, 2))
            spark.sparkContext.setJobDescription(None)
        out[name] = {"samples": samples, "min": min(samples)}
    print(json.dumps(out))


def main_plans(out_dir: str) -> None:
    from sparklink.queries import QUERIES

    os.makedirs(out_dir, exist_ok=True)
    spark = bench._get_spark(f"local[{CPUS}]")

    def _minhash_prod(spark_, sf_dir):
        from sparklink import dedup

        docs = spark_.read.parquet(f"{sf_dir}/documents.parquet")
        return dedup.minhash_lsh_pairs(docs, k=32, bands=8)

    overrides = {"dedup_minhash_lsh": _minhash_prod}
    for name in bench.HEADLINE:
        fn = overrides.get(name, QUERIES[name])
        df = fn(spark, SF_DIR)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"))

    # ER pipeline stage plans over the bench fixture: each stage's body,
    # over the materialized output of the stage before it
    from sparklink.canonicalize import canonicalize
    from sparklink.pipeline import SparkDedupe, default_transcript_predicates

    def dump(name, df):
        with open(os.path.join(out_dir, f"er_stage_{name}.txt"), "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"))

    fixture = bench.ensure_fixture(spark, bench.BENCH_ENTITIES)
    model, threshold = bench.load_static_model()
    dd = SparkDedupe(model=model, predicates=default_transcript_predicates(), threshold=threshold)
    transcripts = spark.read.parquet(f"{fixture}/transcripts.parquet")
    dump("canonicalize", canonicalize(transcripts))
    records = dd.canonical_records(transcripts)
    dump("blocking", dd._blocking_map_plan(records))
    bm = dd.blocking_map(records)
    dump("scoring", dd.score_hydrated(dd.hydrated_pairs(records, bm)))
    dd.release_token_stats()
    print(json.dumps({"plans": out_dir}))


def main_er(reps: int) -> None:
    spark = bench._get_spark(f"local[{CPUS}]")
    fixture = bench.ensure_fixture(spark, bench.BENCH_ENTITIES)
    for _ in range(reps):
        print(json.dumps(bench.run_er_pipeline(spark, fixture)))


if __name__ == "__main__":
    if "--er-dissect" in sys.argv:
        main_er_dissect()
    elif "--headline" in sys.argv:
        main_headline(int(sys.argv[sys.argv.index("--headline") + 1]))
    elif "--plans" in sys.argv:
        main_plans(sys.argv[sys.argv.index("--plans") + 1])
    elif "--er" in sys.argv:
        main_er(int(sys.argv[sys.argv.index("--er") + 1]))
    else:
        print("usage: bench_extra.py --er-dissect | --headline N | --plans DIR | --er N")
