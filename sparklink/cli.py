"""spark-submit entry point (north_star: ships as --py-files package).

Usage (cluster):
    bash tools/build_pyfiles.sh                       # -> dist/sparklink.zip
    spark-submit --py-files dist/sparklink.zip \
        --driver-memory 8g \
        --conf spark.sql.shuffle.partitions=2048 \
        sparklink/cli.py dedupe \
        --transcripts s3://.../transcripts --labeled s3://.../labeled_pairs \
        --warehouse s3://.../warehouse --out s3://.../entity_map

Subcommands mirror the reference drivers:
    dedupe    ≙ csv_example / mysql_example end-to-end
    link      ≙ record_linkage_example (two sources)
    gazetteer ≙ gazetteer_example (index + match + write-back)
    match-new ≙ the daily-ingest incremental assign
    label     ≙ console_label + train (closed active-learning loop;
                interactive, or batch via --labels-file)
    synth     generate a deterministic fixture (testing/benching)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

try:  # direct `python sparklink/cli.py` / spark-submit without --py-files
    import sparklink  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark(args):
    from sparklink.session import get_spark

    return get_spark(app_name=f"sparklink-{args.cmd}", master=args.master)


def _load_model(path: str | None):
    from sparklink.pipeline import default_transcript_model

    if not path:
        return default_transcript_model(), None
    from sparklink.score import FieldModel

    art = json.load(open(path))
    return FieldModel.from_json(json.dumps(art)), art.get("threshold")


def _set_threshold(obj, threshold) -> None:
    """Apply a stored model threshold; 0.0 is a VALID threshold and must
    not fall through to the default (falsy-zero bug, r3 ADVICE)."""
    if threshold is not None:
        obj.threshold = threshold


def cmd_dedupe(args) -> None:
    from pyspark.sql import functions as F

    from sparklink.checkpoints import Catalog
    from sparklink.evaluate import pairwise_prf
    from sparklink.pipeline import SparkDedupe
    from sparklink.sinks import clustered_output, write_parquet

    spark = _spark(args)
    model, threshold = _load_model(args.model)
    dd = SparkDedupe(model=model, catalog=Catalog(spark, args.warehouse) if args.warehouse else None)
    _set_threshold(dd, threshold)
    transcripts = spark.read.parquet(args.transcripts)
    # only fit and the CSV sink read the records; partition stages its own
    records = dd.canonical_records(transcripts) if model.weights is None or args.csv_out else None
    if model.weights is None:
        assert args.labeled, "untrained model needs --labeled pairs"
        dd.fit(records, spark.read.parquet(args.labeled))
        print(json.dumps({"fitted_threshold": dd.threshold}))
    em = dd.partition(transcripts)
    write_parquet(em, args.out)
    out = {"entity_map_rows": em.count(), "clusters": em.select("canon_id").distinct().count()}
    if args.truth:
        out["prf"] = pairwise_prf(em, spark.read.parquet(args.truth))
    if args.csv_out:
        from sparklink.sinks import write_csv

        write_csv(clustered_output(records, em), args.csv_out)
    print(json.dumps(out))


def cmd_link(args) -> None:
    from pyspark.sql import functions as F

    from sparklink.linkage import SparkRecordLink
    from sparklink.sinks import linked_output, write_parquet

    spark = _spark(args)
    model, threshold = _load_model(args.model)
    rl = SparkRecordLink(model=model)
    _set_threshold(rl, threshold)
    transcripts = spark.read.parquet(args.transcripts)
    records = rl.canonical(transcripts, extra_cols=["source"])
    if model.weights is None:
        assert args.labeled, "untrained model needs --labeled pairs (or pass --model with fitted weights)"
        rl.fit(records, spark.read.parquet(args.labeled))
    left = records.filter(F.col("source") == "a").drop("source")
    right = records.filter(F.col("source") == "b").drop("source")
    matches = rl.join(left, right)
    write_parquet(matches, args.out)
    print(json.dumps({"matches": matches.count()}))


def cmd_gazetteer(args) -> None:
    from pyspark.sql import functions as F

    from sparklink.linkage import SparkGazetteer
    from sparklink.sinks import write_parquet

    spark = _spark(args)
    model, threshold = _load_model(args.model)
    gaz = SparkGazetteer(model=model, threshold=0.5 if threshold is None else threshold)
    transcripts = spark.read.parquet(args.transcripts)
    from sparklink.canonicalize import canonicalize

    records = canonicalize(transcripts, extra_cols=["source"])
    canonical = records.filter(F.col("source") == "b").drop("source")
    messy = records.filter(F.col("source") == "a").drop("source")
    gaz.index(canonical)
    matches = gaz.match(messy)
    updated, unmatched = gaz.apply_matches(messy, matches)
    write_parquet(updated, args.out)
    if args.unmatched_out:
        write_parquet(unmatched, args.unmatched_out)
    print(json.dumps({"matched": matches.count(), "unmatched": unmatched.count()}))


def cmd_match_new(args) -> None:
    """Incremental daily-ingest: assign a delta batch of transcripts
    against an existing entity map (SparkDedupe.match_new) and write the
    delta map; the existing map is untouched."""
    from sparklink.canonicalize import canonicalize
    from sparklink.pipeline import SparkDedupe
    from sparklink.sinks import write_parquet

    spark = _spark(args)
    model, threshold = _load_model(args.model)
    dd = SparkDedupe(model=model)
    _set_threshold(dd, threshold)
    new_t = spark.read.parquet(args.transcripts_new)
    existing_records = canonicalize(spark.read.parquet(args.transcripts_existing))
    em_existing = spark.read.parquet(args.entity_map)
    delta = dd.match_new(new_t, existing_records, em_existing, close_chains=not args.no_close_chains)
    write_parquet(delta, args.out)
    # count the landed parquet, not the plan (no re-execution)
    print(json.dumps({"delta_rows": spark.read.parquet(args.out).count()}))


def cmd_label(args) -> None:
    """Closed active-learning loop (≙ console_label + train,
    csv_example/csv_example.py:115-140): surface the most uncertain
    candidate pairs, take labels (interactively, or from a CSV answers
    table with --labels-file), refit, repeat; write the fitted model +
    threshold artifact to --model-out."""
    from sparklink.learn import console_labeler, file_labeler
    from sparklink.pipeline import SparkDedupe

    spark = _spark(args)
    model, threshold = _load_model(args.model)
    dd = SparkDedupe(model=model)
    _set_threshold(dd, threshold)
    records = dd.canonical_records(spark.read.parquet(args.transcripts))
    if args.labels_file:
        labeler = file_labeler(args.labels_file)
    else:
        fields = sorted({v.column for v in model.variables if v.kind != "text"})
        labeler = console_labeler(fields)
    seed = spark.read.parquet(args.labeled) if args.labeled else None
    result = dd.label_session(
        records, labeler, labeled_pairs=seed, rounds=args.rounds, per_round=args.per_round
    )
    art = json.loads(result["model"])
    art["threshold"] = result["threshold"]
    with open(args.model_out, "w") as f:
        json.dump(art, f)
    print(json.dumps({"rounds": result["rounds"], "n_labeled": result["n_labeled"], "threshold": result["threshold"], "model_out": args.model_out}))


def cmd_synth(args) -> None:
    from sparklink.synth import write_fixture

    spark = _spark(args)
    paths = write_fixture(spark, args.out, n_entities=args.entities, seed=args.seed, two_sources=args.two_sources)
    print(json.dumps(paths))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="sparklink")
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser("dedupe")
    d.add_argument("--transcripts", required=True)
    d.add_argument("--labeled")
    d.add_argument("--truth")
    d.add_argument("--model")
    d.add_argument("--warehouse")
    d.add_argument("--out", required=True)
    d.add_argument("--csv-out")

    l = sub.add_parser("link")
    l.add_argument("--transcripts", required=True)
    l.add_argument("--labeled")
    l.add_argument("--model")
    l.add_argument("--out", required=True)

    g = sub.add_parser("gazetteer")
    g.add_argument("--transcripts", required=True)
    g.add_argument("--model")
    g.add_argument("--out", required=True)
    g.add_argument("--unmatched-out")

    mn = sub.add_parser("match-new")
    mn.add_argument("--transcripts-new", required=True)
    mn.add_argument("--transcripts-existing", required=True)
    mn.add_argument("--entity-map", required=True)
    mn.add_argument("--model")
    mn.add_argument("--out", required=True)
    # reproduce the cheaper unmatched-only in-batch dedupe (no chain
    # closure through gazetteer-assigned records)
    mn.add_argument("--no-close-chains", action="store_true")

    lb = sub.add_parser("label")
    lb.add_argument("--transcripts", required=True)
    lb.add_argument("--model")
    lb.add_argument("--labeled", help="seed labeled pairs parquet (optional)")
    lb.add_argument("--labels-file", help="CSV conv_id_a,conv_id_b,label answers table (batch mode); omit for interactive console")
    lb.add_argument("--model-out", required=True)
    lb.add_argument("--rounds", type=int, default=5)
    lb.add_argument("--per-round", type=int, default=10)

    s = sub.add_parser("synth")
    s.add_argument("--out", required=True)
    s.add_argument("--entities", type=int, default=300)
    s.add_argument("--seed", type=int, default=42)
    s.add_argument("--two-sources", action="store_true")

    args = p.parse_args(argv)
    {
        "dedupe": cmd_dedupe,
        "link": cmd_link,
        "gazetteer": cmd_gazetteer,
        "match-new": cmd_match_new,
        "label": cmd_label,
        "synth": cmd_synth,
    }[args.cmd](args)


if __name__ == "__main__":
    main()
