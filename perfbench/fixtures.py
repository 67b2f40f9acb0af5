"""Seeded benchmark inputs, written as parquet without Spark.

The transcript corpus is ``sparklink.synth.make_transcripts`` (the same
generator ``bench.ensure_fixture`` uses), so an entity count and a seed name
one corpus. Files are written with pyarrow: only the inputs come from here,
the program under test reads them as any user's parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    # a column that is all None in one file (``tool`` in a small batch) is
    # typed null; keep it a string so the files of one table agree
    schema = pa.schema([f.with_type(pa.string()) if f.type == pa.null() else f for f in table.schema])
    # Spark reads microsecond timestamps; pandas holds nanoseconds
    pq.write_table(table.cast(schema), path, coerce_timestamps="us")


# mean conversations per synth entity: cluster sizes 1-8 (mean 43/12), and
# every 50th entity a 40-member cluster
CONVS_PER_ENTITY = (49 * 43 / 12 + 40) / 50


def corpus(seed: int, n_records: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(transcripts, conv_truth): the first ``n_records`` conversations, in
    generation order (whole entities, bar the last), of a synth corpus with
    enough entities and a margin, so every seed gives the same input size."""
    from sparklink.synth import make_transcripts

    n_entities = int(n_records / CONVS_PER_ENTITY * 1.25) + 1
    transcripts, truth = make_transcripts(n_entities=n_entities, seed=seed)
    if len(truth) < n_records:
        raise ValueError(f"{n_entities} entities gave {len(truth)} conversations, {n_records} requested")
    # conv ids are zero-padded in generation order
    keep = set(sorted(truth["conv_id"])[:n_records])
    transcripts = transcripts[transcripts["conv_id"].isin(keep)].reset_index(drop=True)
    truth = truth[truth["conv_id"].isin(keep)].reset_index(drop=True)
    return transcripts, truth


def write_corpus(out_dir: str, seed: int, n_records: int) -> dict:
    transcripts, truth = corpus(seed, n_records)
    paths = {"transcripts": f"{out_dir}/transcripts.parquet", "conv_truth": f"{out_dir}/conv_truth.parquet"}
    write_parquet(transcripts, paths["transcripts"])
    write_parquet(truth, paths["conv_truth"])
    return {**paths, "n_records": int(truth["conv_id"].nunique()), "truth": truth}


def split_holdout(
    conv_ids: list[str], seed: int, n_batches: int, batch_size: int
) -> list[list[str]]:
    """``n_batches`` disjoint batches of ``batch_size`` conversations,
    drawn without replacement by a generator seeded with ``seed``."""
    need = n_batches * batch_size
    if need > len(conv_ids):
        raise ValueError(f"{need} held-out conversations requested from {len(conv_ids)}")
    rng = np.random.default_rng(seed + 7919)
    picked = rng.choice(np.array(sorted(conv_ids)), size=need, replace=False)
    return [sorted(picked[i * batch_size : (i + 1) * batch_size].tolist()) for i in range(n_batches)]


def write_incremental(out_dir: str, n_records: int, seed: int, n_batches: int, batch_size: int) -> dict:
    """The gazetteer's inputs: a base corpus to index, and held-out
    conversations split into arriving batches, one parquet file each."""
    transcripts, truth = corpus(seed, n_records)
    batches = split_holdout(truth["conv_id"].tolist(), seed, n_batches, batch_size)
    held = {c for b in batches for c in b}
    base = transcripts[~transcripts["conv_id"].isin(held)]
    paths = {"base": f"{out_dir}/base.parquet", "batches": []}
    write_parquet(base, paths["base"])
    for i, ids in enumerate(batches):
        p = f"{out_dir}/batches/b{i:03d}.parquet"
        write_parquet(transcripts[transcripts["conv_id"].isin(set(ids))], p)
        paths["batches"].append(p)
    return {**paths, "batch_ids": batches, "truth": truth, "n_base": int(truth["conv_id"].nunique()) - len(held)}
